"""The ``suite`` workload: one client running a fixed, module-stratified
sample of registry queries and one micro-batch of the streaming dispatch
loop per pass, in a closed loop.

The first pass is cold: every query compiles for the first time. Later
(warm) passes repeat it, at least MIN_PASSES of them and for at least the
run's time; a run reports each op's median over them. Every pass runs in
the same order, the micro-batch last: the queries that ran right after a
micro-batch were slower, so a seeded order made the pass time depend on
the seed. Each query result is collected and compared with its DuckDB oracle after timing. Each
pass also drops the next time-ordered slice of the lifecycle event log
(about 1,000 events) into the stream source and drains it with
``streaming.sinks.start_dispatch_query``, resuming from the previous
pass's checkpoint; the ledger it writes is compared with the replay
oracle's fire decisions (``dag_replay_decisions``'s DuckDB twin) over the
same events at the end.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
import traceback

from pyspark.sql import functions as F

from kalytical_spark import domain, registry
from kalytical_spark.streaming import sinks
from perfbench import oracle
from perfbench.core import Ctx, Op, Result, host_jiffies, log, steal_since

# One query from each of four module groups of the registry (TPC-H-like
# relational, event analytics, documents, embeddings and media; the
# dispatch micro-batch stands for the fifth, pipeline control), chosen so
# that together they match the whole registry's warm figures at sf0.1 on 4
# cores: jobs, stages and tasks per query and the share of single-task
# stages (README.md has the table). Each has an oracle and reads no
# session memo: a memo build alone costs 3-10 s of a run.
SAMPLE = (
    "q_cheapest_supplier_per_part",  # subqueries
    "events_rolling_wau",  # timeseries
    "text_token_lift_topk",  # text
    "emb_centroid_drift",  # embedding_stats
)

# the cached domain tables the pass reads (events_rolling_wau and the
# dispatch query), materialized at set-up; the dispatch query runs a pandas
# UDF, so set-up warms the Python workers
DOMAIN_TABLES = ("events_ms", "pipeline_defs", "dag_edges")
PYTHON_UDFS = True

EVENTS_PER_FILE = 1_000  # fewer when the whole log is too short (tiny sf)
MAX_PASSES = 16  # slices staged; a run uses one per pass
MIN_PASSES = 2  # warm passes, however short the run; a traced run
# alternates tracing op by op over them, one pass traced, one not, which
# gives the tracing overhead


class StreamFeed:
    """Time-ordered contiguous slices of the lifecycle event log, staged
    as one parquet file each and released into the stream source one per
    pass. Slices never split a run of equal event times."""

    def __init__(self, spark, sf_dir: str, work: str):
        self.spark = spark
        self.staging = os.path.join(work, "stream_staging")
        self.src = os.path.join(work, "stream_src")
        self.ledger = os.path.join(work, "stream_ledger")
        self.ckpt = os.path.join(work, "stream_ckpt")
        for d in (self.staging, self.src, self.ledger, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.src)
        self.schema = spark.table("lifecycle_events").schema
        # the head of the log in event-time order, cut with DuckDB from the
        # catalog's own domain SQL (input preparation, not program work);
        # one extra slice is read so ties at its start stay out of the last
        cols = ", ".join(
            f"{f.name}::TIMESTAMPTZ AS {f.name}" if f.dataType.typeName() == "timestamp" else f.name
            for f in self.schema.fields
        )
        con = oracle.connect(sf_dir, domain_tables=False)
        n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
        per_file = max(1, min(EVENTS_PER_FILE, n_events // (MAX_PASSES + 1)))
        con.execute(f"""
            COPY (
              {domain.with_block()},
              head AS (SELECT * FROM lifecycle_events ORDER BY event_time, exec_uuid
                       LIMIT {(MAX_PASSES + 1) * per_file}),
              ranked AS (SELECT *, row_number() OVER (ORDER BY event_time, exec_uuid) - 1 AS rn
                         FROM head)
              SELECT {cols},
                     (min(rn) OVER (PARTITION BY event_time) // {per_file})::INT AS slice
              FROM ranked
              QUALIFY slice < {MAX_PASSES}
            ) TO '{self.staging}' (FORMAT PARQUET, PARTITION_BY (slice))
        """)
        con.close()
        self.released = 0

    def release_next(self) -> None:
        (part,) = glob.glob(os.path.join(self.staging, f"slice={self.released}", "*.parquet"))
        os.rename(part, os.path.join(self.src, f"{self.released:04d}.parquet"))
        self.released += 1

    def drain(self, sf_dir: str):
        """Run the dispatch query until the released files are consumed;
        returns the finished query."""
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        q = sinks.start_dispatch_query(self.spark, stream, sf_dir, self.ledger, self.ckpt)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def ledger_ok(self, con, decisions_sql: str) -> bool:
        """The ledger holds exactly the replay oracle's fires over the
        released events (fire identity = pipeline, fire time, sources),
        once each, with unique tracking ids."""
        fed = self.spark.read.schema(self.schema).parquet(self.src)
        cutoff = fed.agg(F.max("event_time")).collect()[0][0]
        cols = ["pipeline_uuid", "fired_at", "sources"]
        got = sinks.read_ledger(self.spark, self.ledger).select(*cols, "tracking_id").collect()
        want = con.execute(
            f"SELECT {', '.join(cols)} FROM ({decisions_sql}) WHERE fired_at <= CAST(? AS TIMESTAMP)",
            [cutoff.isoformat(sep=" ")],
        ).fetchall()
        ids = [r.tracking_id for r in got]
        return (
            bool(want)
            and len(set(ids)) == len(ids)
            and oracle.digest(cols, [tuple(r)[:3] for r in got]) == oracle.digest(cols, want)
        )


def _query(ctx: Ctx, name: str, fn, warm: bool, traced: bool) -> Op:
    tr = ctx.tracer
    rec = Op("query", name, 0.0, warm, traced)
    t0 = time.perf_counter()
    try:
        with tr.span("bench", name) as sp:
            rec.span_id = sp.id if sp else None
            with tr.span("operators", "build"):
                df = fn(ctx.spark, ctx.sf_dir)
            rec.build_s = time.perf_counter() - t0
            with tr.span("spark", "collect"):
                rows = df.collect()
            rec.action_s = time.perf_counter() - t0 - rec.build_s
    except Exception:  # a failed query is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        rec.ok = False
    rec.seconds = time.perf_counter() - t0
    if rec.ok:
        # digest now, outside the timed interval: rows are not kept
        rec.detail["digest"] = oracle.spark_digest(df.columns, rows)
    return rec


def _stream(ctx: Ctx, feed: StreamFeed, warm: bool, traced: bool) -> Op:
    tr = ctx.tracer
    feed.release_next()
    rec = Op("stream", "dispatch_batch", 0.0, warm, traced)
    t0 = time.perf_counter()
    try:
        with tr.span("bench", rec.name) as sp:
            rec.span_id = sp.id if sp else None
            with tr.span("streaming", "drain"):
                q = feed.drain(ctx.sf_dir)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        rec.ok = False
    rec.seconds = time.perf_counter() - t0
    if rec.ok:
        rec.detail["progress"] = [p for p in q.recentProgress if p.get("numInputRows")]
    return rec


def run(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    trace_mode = tr.enabled
    reg = registry.all_queries()
    feed = StreamFeed(spark, ctx.sf_dir, ctx.work)
    log("stream feed staged")
    plan = [("query", name) for name in SAMPLE] + [("stream", None)]
    records: list[Op] = []
    slot = {op: i for i, op in enumerate(plan)}

    def one_pass(warm: bool, n_pass: int) -> None:
        for kind, name in plan:
            # a traced run traces each op in every other warm pass, so its
            # untraced passes measure the tracing overhead op by op
            traced = trace_mode and (not warm or (n_pass + slot[kind, name]) % 2 == 0)
            tr.enabled = traced
            if kind == "stream":
                records.append(_stream(ctx, feed, warm, traced))
            else:
                records.append(_query(ctx, name, reg[name][0], warm, traced))
            records[-1].slot = slot[kind, name]
            if warm:
                records[-1].pass_no = n_pass

    # cold pass: every op for the first time
    t0 = time.perf_counter()
    one_pass(warm=False, n_pass=0)
    cold_s = time.perf_counter() - t0

    # whole warm passes (at least MIN_PASSES) until the time is up, so
    # every run has the same mix
    jiffies = host_jiffies()
    t0 = time.perf_counter()
    n_pass = 0
    while (time.perf_counter() - t0 < ctx.seconds or n_pass < MIN_PASSES) and feed.released < MAX_PASSES:
        one_pass(warm=True, n_pass=n_pass)
        n_pass += 1
    warm_wall = time.perf_counter() - t0
    steal = steal_since(jiffies)
    tr.enabled = trace_mode

    log("checking")
    con = oracle.connect(ctx.sf_dir, domain_tables=False)
    want = {name: oracle.oracle_digest(con, reg[name][1]) for name in SAMPLE}
    stream_ok = feed.ledger_ok(con, reg["dag_replay_decisions"][1])
    con.close()
    for rec in records:
        if rec.kind == "query" and rec.ok:
            rec.ok = rec.detail.pop("digest") == want[rec.name]
        elif rec.kind == "stream":
            rec.ok = rec.ok and stream_ok
    return Result(records, cold_s, warm_wall, extra={"ledger_bytes": _du(feed.ledger), "steal": steal})


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
