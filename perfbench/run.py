"""Benchmark of kalytical_spark, one workload per invocation.

    python3 perfbench/run.py --workload facade --seed 1 --seconds 5 --trace 0

Run from the root of a checkout (the directory holding ``kalytical_spark``).
It generates the seeded inputs under ``.perfbench/`` in the checkout, starts
one driver process on ``local[<nproc>]``, sets the program up, runs the
workload with one client for at least ``--seconds`` (in whole rounds or
passes), checks every output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see README.md). Metric names and units are the ones
in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("facade", "suite")
SF = 0.1
DRIVER_MEM = "4g"  # the package default (24g) exceeds a 15 GB box
# layers with spans inside the measured ops (session and catalog only run
# at set-up and are reported by their set-up times)
OP_LAYERS = ("bench", "api", "dispatch", "operators", "spark", "streaming")
_STREAM_DURATIONS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "get_batch_ms": "getBatch",
    "wal_commit_ms": "walCommit",
    "latest_offset_ms": "latestOffset",
    "commit_offsets_ms": "commitOffsets",
}


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Pin the session and keep every file the run writes in the checkout.
    Must run before the JVM starts."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers unpickle UDFs defined in the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _setup(tracer, sf_dir: str, cores: int, name: str) -> tuple[object, object, dict[str, float]]:
    """Process start to ready: imports (the workload module's too), JVM and
    session, catalog.register with the domain caches the workload reads
    materialized, and the Python worker warm-up when the workload runs
    Python UDFs. Returns the session, the workload module and the times."""
    t0 = time.perf_counter()
    with tracer.span("session", "import"):
        from kalytical_spark import catalog
        from kalytical_spark.session import get_spark, warm_python_workers

        workload = importlib.import_module(f"perfbench.{name}")
    t_import = time.perf_counter() - t0
    with tracer.span("session", "get_spark") as sp:
        t = time.perf_counter()
        spark = get_spark("kalytical_perfbench", cpus=cores)
        t_start = time.perf_counter() - t
    if sp is not None:
        tracer.sc = spark.sparkContext
    with tracer.span("catalog", "register"):
        t = time.perf_counter()
        catalog.register(spark, sf_dir)
        for table in workload.DOMAIN_TABLES:
            spark.table(table).count()
        t_register = time.perf_counter() - t
    t_warm = 0.0
    if workload.PYTHON_UDFS:
        with tracer.span("session", "warm_python_workers"):
            t = time.perf_counter()
            warm_python_workers(spark)
            t_warm = time.perf_counter() - t
    return spark, workload, {
        "setup_s": t_import + t_start + t_register + t_warm,
        "session.start_s": t_start,
        "catalog.register_s": t_register,
        "session.warm_workers_s": t_warm,
    }


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def end_to_end(res, setup: dict[str, float]) -> dict[str, float]:
    from perfbench.core import pass_seconds

    return {"setup_s": setup["setup_s"], "pass_s": pass_seconds(res.ops)}


def _tracing_overhead_ms(ops) -> float:
    """Median over op names of (traced median - untraced median) of the
    warm ops, for names that ran both ways."""
    by_name: dict[str, tuple[list[float], list[float]]] = {}
    for op in ops:
        if op.warm and op.ok:
            by_name.setdefault(op.name, ([], []))[0 if op.traced else 1].append(op.seconds)
    diffs = [
        statistics.median(t) - statistics.median(u) for t, u in by_name.values() if t and u
    ]
    return statistics.median(diffs) * 1e3 if diffs else 0.0


def per_layer(ctx, res, setup: dict[str, float]) -> dict[str, float]:
    from perfbench import tracing

    tr = ctx.tracer
    spark = ctx.spark
    stages_by_span = tracing.attribute_jobs(spark, tr)
    spans = {sp.id: sp for sp in tr.spans}
    children = tracing.children_of(tr.spans)

    def jobs_of(sid: int) -> list[int]:
        return [j for s in tracing.subtree(children, sid) for j in spans[s].jobs]

    def stages_of(sid: int) -> set[int]:
        return {st for s in tracing.subtree(children, sid) for st in stages_by_span.get(s, ())}

    def layer_s(sid: int, layer: str) -> float:
        return sum(spans[s].seconds for s in tracing.subtree(children, sid) if spans[s].layer == layer)

    traced_warm = [op for op in res.ops if op.warm and op.traced and op.span_id is not None]
    m: dict[str, float] = {k: v for k, v in setup.items() if k != "setup_s"}
    m["session.peak_rss_mb"] = _jvm_peak_rss_mb(spark)

    # layer self time per traced warm op; coverage is the share of the
    # ops' wall time spent inside a package layer's span (the client's own
    # time, 'bench' self, is what no layer span covers)
    self_s = dict.fromkeys(OP_LAYERS, 0.0)
    self_s.update(tracing.self_times(tr.spans, [op.span_id for op in traced_warm]))
    n_ops = max(1, len(traced_warm))
    for layer in OP_LAYERS:
        m[f"{layer}.self_ms"] = self_s[layer] / n_ops * 1e3
    op_wall = sum(op.seconds for op in traced_warm)
    in_layers = sum(v for layer, v in self_s.items() if layer != "bench")
    m["trace.coverage"] = in_layers / op_wall if op_wall else 0.0
    m["trace.overhead_ms"] = _tracing_overhead_ms(res.ops)
    m["host.steal_frac"] = res.extra["steal"]
    m["bench.cold_s"] = res.cold_s

    # api / dispatch (facade)
    reads = [op for op in traced_warm if op.kind == "read"]
    m["api.build_ms"] = statistics.median(op.build_s for op in reads) * 1e3 if reads else 0.0
    m["api.action_ms"] = statistics.median(op.action_s for op in reads) * 1e3 if reads else 0.0
    m["api.jobs_per_call"] = sum(len(jobs_of(op.span_id)) for op in reads) / len(reads) if reads else 0.0
    # a traced warm submit: the whole run_single_use call (ledger count
    # included), and the part of it inside the engine (submit, ledger frame)
    submits = [op for op in traced_warm if op.kind == "write" and op.name == "submit" and op.ok]
    m["api.submit_ms"] = tracing.median([op.seconds * 1e3 for op in submits])
    m["dispatch.submit_ms"] = tracing.median([layer_s(op.span_id, "dispatch") * 1e3 for op in submits])

    # operators (suite): mean per query
    queries = [op for op in traced_warm if op.kind == "query"]
    n_q = max(1, len(queries))
    build_jobs = sum(
        len(spans[k].jobs) for op in queries for k in children.get(op.span_id, ()) if spans[k].layer == "operators"
    )
    m["operators.build_s"] = sum(op.build_s for op in queries) / n_q
    m["operators.action_s"] = sum(op.action_s for op in queries) / n_q
    m["operators.build_jobs"] = build_jobs / n_q

    # memos: build time of the first calls; jobs of the repeat calls
    builds = [spans[sid] for _, sid, repeat in res.memo_spans if not repeat]
    repeats = [len(jobs_of(sid)) for _, sid, repeat in res.memo_spans if repeat]
    m["memo.build_s"] = sum(sp.seconds for sp in builds)
    m["memo.rebuild_jobs"] = sum(repeats)
    m["memo.hit_ratio"] = sum(1 for j in repeats if j == 0) / len(repeats) if repeats else 0.0

    # Spark, over the traced warm ops (per op where it is a total)
    stage_ids = set().union(*(stages_of(op.span_id) for op in traced_warm)) if traced_warm else set()
    stats = list(tracing.stage_stats(spark, stage_ids).values())
    n_jobs = sum(len(jobs_of(op.span_id)) for op in traced_warm)
    sm = tracing.spark_layer_metrics(stats, op_wall, ctx.cores, n_jobs)
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
                "spark.executor_cpu_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
                "spark.spill_mb", "spark.gc_s"):
        sm[key] /= n_ops
    m.update(sm)

    # the Python seam
    all_jobs = {j for op in traced_warm for j in jobs_of(op.span_id)}
    sent, rows, worker_s = tracing.python_seam(spark, all_jobs)
    m["python.bytes_sent_mb"] = sent / 1e6 / n_ops
    m["python.rows_received"] = rows / n_ops
    m["python.worker_s"] = worker_s / n_ops

    # streaming (suite): progress of the traced warm micro-batches
    batches = [op for op in traced_warm if op.kind == "stream"]
    progress = [p for op in batches for p in op.detail.get("progress", ())]
    for name, key in _STREAM_DURATIONS.items():
        m[f"streaming.{name}"] = tracing.median([p["durationMs"].get(key, 0) for p in progress])
    state = [(p.get("stateOperators") or [{}])[0] for p in progress]
    m["streaming.state_commit_ms"] = tracing.median([s.get("commitTimeMs", 0) for s in state])
    m["streaming.state_rows"] = tracing.median([s.get("numRowsTotal", 0) for s in state])
    m["streaming.state_mb"] = tracing.median([s.get("memoryUsedBytes", 0) / 1e6 for s in state])
    m["streaming.jobs_per_batch"] = (
        sum(len(jobs_of(op.span_id)) for op in batches) / len(progress) if progress else 0.0
    )
    m["streaming.ledger_mb"] = res.extra.get("ledger_bytes", 0) / 1e6
    drains = [op for op in res.ops if op.kind == "stream" and op.warm and op.ok]
    events = sum(p["numInputRows"] for op in drains for p in op.detail["progress"])
    drain_s = sum(op.seconds for op in drains)
    m["streaming.events_per_s"] = events / drain_s if drain_s else 0.0
    return m


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "kalytical_spark")):
        print(f"no kalytical_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cores)

    from perfbench import gen
    from perfbench.core import Ctx, log
    from perfbench.tracing import Tracer

    sf_dir = gen.write_tables(args.seed, SF, os.path.join(base, "data", f"seed{args.seed}-sf{SF}"))
    log(f"inputs ready: {sf_dir}")
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("bench", "setup"):
            spark, workload, setup = _setup(tracer, sf_dir, cores, args.workload)
        log(f"set up in {setup['setup_s']:.1f}s")
        ctx = Ctx(spark, sf_dir, args.seed, args.seconds, tracer, work, cores)
        res = workload.run(ctx)
        log(f"workload done: {len(res.ops)} ops, cold {res.cold_s:.1f}s, warm {res.warm_wall_s:.1f}s")
        log("ops (warm pass or -1 for cold, name, ms): " + json.dumps(
            [(op.pass_no, op.name, round(op.seconds * 1e3, 1)) for op in res.ops]
        ))
        if args.trace:
            metrics = per_layer(ctx, res, setup)
            tracer.dump(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(res, setup)
    finally:
        if spark is not None:
            _stop(spark)
    log("stopped")
    failed = sum(1 for op in res.ops if not op.ok)
    out = {
        "correct": failed == 0,
        "attempted": len(res.ops),
        "failed": failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in metric_specs(bool(args.trace)).items()
        },
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


def metric_specs(traced: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run prints, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
