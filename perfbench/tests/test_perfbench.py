"""The benchmark's own tests, at sf0.001 with runs of about a second.

    python3 -m pytest perfbench/tests -q

One Spark session serves every test (set up once, as the benchmark does);
the workloads run in-process so a result can be planted wrong.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, run, steady, tracing  # noqa: E402
from perfbench.core import Ctx  # noqa: E402

SF = 0.001
CORES = 2


def _spec_names(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[section]}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run._environment(work, CORES)
    sf_dir = gen.write_tables(1, SF, os.path.join(work, "seed1"))
    # one session for both workloads, set up as the suite's (facade's other
    # domain caches fill on first use)
    spark, _, setup = run._setup(tracing.Tracer(False), sf_dir, CORES, "suite")
    yield spark, setup, work
    run._stop(spark)


def _run(session, workload: str, seed: int, trace: bool = False):
    from perfbench import facade, suite

    spark, _, work = session
    sf_dir = gen.write_tables(seed, SF, os.path.join(work, f"seed{seed}"))
    tracer = tracing.Tracer(trace)
    if trace:
        tracer.sc = spark.sparkContext
    ctx = Ctx(spark, sf_dir, seed, 1.0, tracer, os.path.join(work, f"{workload}{seed}"), CORES)
    return ctx, (facade if workload == "facade" else suite).run(ctx)


def test_facade_prints_the_end_to_end_metrics(session):
    ctx, res = _run(session, "facade", 1)
    assert all(op.ok for op in res.ops)
    metrics = run.end_to_end(res, session[1])
    assert set(metrics) == _spec_names("end_to_end")
    assert all(v > 0 for v in metrics.values())


def test_suite_traced_prints_the_per_layer_metrics(session):
    ctx, res = _run(session, "suite", 1, trace=True)
    assert all(op.ok for op in res.ops)
    metrics = run.per_layer(ctx, res, session[1])
    assert set(metrics) == _spec_names("per_layer")
    assert metrics["spark.jobs"] > 0 and metrics["operators.self_ms"] > 0
    assert metrics["streaming.events_per_s"] > 0
    assert 0.9 < metrics["trace.coverage"] <= 1.0


def test_facade_traced_counts_memo_hits(session):
    ctx, res = _run(session, "facade", 3, trace=True)
    assert all(op.ok for op in res.ops)
    metrics = run.per_layer(ctx, res, session[1])
    assert metrics["memo.hit_ratio"] == 1.0 and metrics["api.jobs_per_call"] > 0


def test_pass_time_sums_medians_and_shares_alternating_slots():
    """One op name's slow outlier does not move the pass time; a slot whose
    op alternates between passes (facade's submit / abort) counts the mean
    of the two medians; cold ops are left out."""
    from perfbench.core import Op, pass_seconds

    def op(name, seconds, slot, warm=True):
        return Op("read", name, seconds, warm, False, slot=slot)

    ops = [op("a", 9.0, 0, warm=False)]
    ops += [op("a", s, 0) for s in (1.0, 1.2, 5.0)]
    ops += [op("submit", 0.4, 1), op("abort", 0.0, 1), op("submit", 0.6, 1)]
    assert pass_seconds(ops) == pytest.approx(1.2 + (0.5 + 0.0) / 2)


def test_coverage_counts_only_time_inside_layer_spans():
    """Self times add up to the root spans; time a root ('bench') span
    spends outside any layer span is the client's own."""
    spans = [
        tracing.Span(0, "op", "bench", 0.0, 1.0),
        tracing.Span(1, "build", "api", 0.1, 0.3, parent=0),
        tracing.Span(2, "submit", "dispatch", 0.15, 0.2, parent=1),
        tracing.Span(3, "other", "bench", 2.0, 3.0),
    ]
    got = tracing.self_times(spans, [0, 3])
    assert got == pytest.approx({"bench": 1.8, "api": 0.15, "dispatch": 0.05})


def test_planted_wrong_result_is_counted_failed(session, monkeypatch):
    from kalytical_spark import api

    real = api.fetch_pipeline_body

    def wrong_body(spark, sf_dir, pipeline_uuid):
        from pyspark.sql import functions as F

        return real(spark, sf_dir, pipeline_uuid).withColumn("pipeline_body", F.lit("{}"))

    monkeypatch.setattr(api, "fetch_pipeline_body", wrong_body)
    _, res = _run(session, "facade", 1)
    bodies = [op for op in res.ops if op.name == "body"]
    assert bodies and not any(op.ok for op in bodies)
    assert all(op.ok for op in res.ops if op.name != "body")


def test_seed_changes_inputs_not_check_outcomes(session):
    one, two = gen.build_tables(1, SF), gen.build_tables(2, SF)
    assert gen.build_tables(1, SF)["events"].equals(one["events"])
    assert not one["events"].equals(two["events"])
    assert not one["documents"].equals(two["documents"])
    _, res = _run(session, "facade", 2)
    assert res.ops and all(op.ok for op in res.ops)


def test_digest_ignores_row_order_but_not_values():
    rows = [(1, "a", {"k": "v"}), (2, "b", {})]
    d = oracle.digest(["x", "y", "m"], rows)
    assert d == oracle.digest(["x", "y", "m"], rows[::-1])
    assert d != oracle.digest(["x", "y", "m"], [(1, "a", {"k": "w"}), (2, "b", {})])


def test_metric_strings_parse():
    assert tracing._parse_metric("12,345") == 12345
    assert tracing._parse_metric("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)") == 2048
    assert tracing._parse_metric("total (min, med, max)\n1.5 s (0.5 s, 0.5 s, 0.5 s)") == 1.5
    assert tracing._parse_metric("120 ms") == pytest.approx(0.12)


def test_spread_is_interquartile_share_of_median():
    med, q1, q3, sp = steady.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert med == 3.0 and sp == pytest.approx((q3 - q1) / 3.0)


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark it
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "facade", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
