"""The ``facade`` workload: one client calling ``kalytical_spark.api`` in a
closed loop (the next call starts when the previous one returned).

Calls come in seeded rounds of nine: one of each read (describe,
downstream, list by prefix/tag, fetch body, delete guard, event history,
running pipelines, incubation state) and one write through a
``LocalLedgerEngine``, so 11% are writes: ``run_single_use`` in the cold
round and in even warm rounds, ``abort_pipeline`` of a live submission in
odd ones. A read's result is collected, as a REST response would be.
The first warm round is a warm-up, still slowed by the JIT compiling the
calls' code; a run reports each call kind's median over the warm rounds
after it. After the timed loop every read is
compared with the DuckDB oracle and every write with the API's documented
id derivation (sha256 of the submission identity).
"""

from __future__ import annotations

import hashlib
import random
import sys
import time
import traceback

from kalytical_spark import api, dispatch
from kalytical_spark.operators import common
from perfbench import oracle
from perfbench.core import Ctx, Op, Result, host_jiffies, log, steal_since

READS = (
    "describe",
    "downstream",
    "list",
    "body",
    "delete_guard",
    "event_history",
    "running",
    "incubation",
)
_SUBTYPES = ("success", "running", "failure", "origination", "submitted")
_STATUSES = (("running", "waiting", "pending"), ("success", "failed"), ("aborted", "timed_out"))
_ROUND = len(READS) + 1  # calls per round: every read kind and one write
WARMUP_ROUNDS = 1  # warm rounds run and checked, but not measured
MIN_ROUNDS = 2  # measured rounds, however short the run
_ROUNDS = 2_000  # more than any run gets through

# the cached domain tables the calls read, materialized at set-up; the
# calls run no Python UDF, so set-up warms no Python worker
DOMAIN_TABLES = (
    "events_ms", "pipeline_defs", "dag_edges", "lifecycle_events",
    "running_jobs", "incubating_runs", "incubating_triggers",
)
PYTHON_UDFS = False

# memo name -> builder: the shared 'now' of the event log, read by
# event_history and built through operators/common.py
MEMOS = (("now", common.now_expr),)


def make_ops(seed: int, n_pipelines: int, rounds: int) -> list[tuple]:
    """A seeded call sequence of hashable (kind, args...) tuples: rounds of
    one call of each read kind plus one write, in the same order in every
    round, so the kind mix and order are the same for every seed and every
    run length; the seed picks the arguments."""
    rng = random.Random(seed)

    def uuid() -> str:
        return f"p-{rng.randrange(n_pipelines)}"

    def call(kind: str) -> tuple:
        if kind == "write":
            return (kind, uuid(), f'{{"steps": {rng.randrange(1, 6)}}}')
        if kind == "list":
            tags = rng.choice([(), (("team", "team-a"),), (("team", "team-b"),), (("tier", f"tier-{rng.randrange(3)}"),)])
            return (kind, f"p-{rng.randrange(1, 10)}{rng.randrange(10)}", tags)
        if kind == "event_history":
            return (
                kind,
                rng.choice([None, uuid()]),
                rng.choice([None, *_SUBTYPES]),
                rng.choice([3_600, 86_400, 7 * 86_400]),
                rng.choice([10, 20, 50]),
            )
        if kind == "running":
            return (
                kind,
                rng.choice([None, uuid()]),
                rng.choice(_STATUSES),
                rng.choice([None, "K8sJobEngine", "LocalEngine"]),
                rng.choice([5, 10, 25]),
            )
        if kind == "incubation":
            return (kind,)  # the endpoint takes no arguments
        return (kind, uuid())

    ops: list[tuple] = []
    for _ in range(rounds):
        ops.extend(call(k) for k in (*READS, "write"))  # _ROUND calls
    return ops


def read_frame(spark, sf_dir: str, op: tuple):
    """Build the API call's DataFrame (the 'build' part of a read)."""
    kind = op[0]
    if kind == "describe":
        return api.describe_pipeline(spark, sf_dir, op[1])
    if kind == "downstream":
        return api.downstream_pipelines(spark, sf_dir, op[1])
    if kind == "list":
        return api.list_pipeline_configs(spark, sf_dir, prefix=op[1], tags=dict(op[2]))
    if kind == "body":
        return api.fetch_pipeline_body(spark, sf_dir, op[1])
    if kind == "delete_guard":
        return api.delete_guard(spark, sf_dir, op[1])
    if kind == "event_history":
        _, uuid, subtype, since, limit = op
        return api.event_history(
            spark, sf_dir, pipeline_uuid=uuid, event_subtype=subtype,
            since_seconds=since, max_records=limit,
        )
    if kind == "running":
        _, uuid, status, engine, limit = op
        return api.running_pipelines(
            spark, sf_dir, pipeline_uuid=uuid, status=status,
            engine_name=engine, limit=limit,
        )
    if kind == "incubation":
        return api.incubation_state(spark, sf_dir)
    raise ValueError(kind)


class TracedEngine(dispatch.LocalLedgerEngine):
    """The ledger engine with a ``dispatch`` span around each engine call."""

    def __init__(self, tracer):
        super().__init__()
        self.tracer = tracer

    def submit(self, spark, row):
        with self.tracer.span("dispatch", "submit"):
            return super().submit(spark, row)

    def ledger(self, spark):
        with self.tracer.span("dispatch", "ledger"):
            return super().ledger(spark)

    def abort(self, spark, tracking_id):
        with self.tracer.span("dispatch", "abort"):
            return super().abort(spark, tracking_id)


def _call(
    ctx: Ctx, engine, live: list[str], rng: random.Random, op: tuple, warm: bool, traced: bool, abort: bool = False
) -> Op:
    """One API call, timed; what the checks need is kept."""
    tr, spark = ctx.tracer, ctx.spark
    if op[0] == "write":
        # an abort round's write aborts a live submission (by the id the API
        # returned), the rest submit a new one
        write = ("abort", live.pop(rng.randrange(len(live)))) if abort and live else ("submit",) + op[1:]
        rec = Op("write", write[0], 0.0, warm, traced, detail={"write": write})
    else:
        rec = Op("read", op[0], 0.0, warm, traced, detail={"op": op})
    t0 = time.perf_counter()
    try:
        with tr.span("bench", rec.name) as sp:
            rec.span_id = sp.id if sp else None
            if rec.kind == "write":
                with tr.span("api", write[0]):
                    if write[0] == "abort":
                        res = api.abort_pipeline(spark, engine, write[1])
                    else:
                        res = api.run_single_use(
                            spark, {"pipeline_uuid": write[1], "pipeline_body": write[2]}, engine=engine
                        )
                rec.detail["result"] = res
            else:
                with tr.span("api", "build"):
                    df = read_frame(spark, ctx.sf_dir, op)
                rec.build_s = time.perf_counter() - t0
                with tr.span("spark", "collect"):
                    rows = df.collect()
                rec.action_s = time.perf_counter() - t0 - rec.build_s
    except Exception:  # a failed call is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        rec.ok = False
    rec.seconds = time.perf_counter() - t0
    if rec.ok and rec.kind == "read":
        # digest now, outside the timed interval: rows are not kept, so the
        # client's heap (and its garbage collector's work) stays flat
        rec.detail["digest"] = oracle.spark_digest(df.columns, rows)
    if rec.ok and rec.kind == "write" and write[0] == "submit":
        live.append(res.tracking_id)
    return rec


def run(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    trace_mode = tr.enabled
    n_pipelines = spark.table("pipeline_defs").count()
    ops = make_ops(ctx.seed, n_pipelines, _ROUNDS)
    engine = TracedEngine(tr)
    live: list[str] = []
    rng = random.Random(ctx.seed + 1)
    records: list[Op] = []
    memo_spans: list[tuple[str, int, bool]] = []

    # cold round: the memo, then the first call of each kind
    t0 = time.perf_counter()
    for name, build in MEMOS:
        with tr.span("memo", name) as sp:
            build(spark, ctx.sf_dir)
        if sp:
            memo_spans.append((name, sp.id, False))
    firsts = {}
    for op in ops:
        firsts.setdefault(op[0], op)
    for slot, op in enumerate(firsts.values()):
        records.append(_call(ctx, engine, live, rng, op, warm=False, traced=trace_mode))
        records[-1].slot = slot
    cold_s = time.perf_counter() - t0

    # warm closed loop in whole rounds: the warm-up, then measured rounds
    # (at least MIN_ROUNDS) for at least the run's time, so every run has
    # the same call mix; a traced run traces every other measured call, so
    # the untraced half measures the tracing overhead in the same run
    i = 0
    while True:
        n_round, slot = divmod(i, _ROUND)
        measured = n_round >= WARMUP_ROUNDS
        if slot == 0 and n_round == WARMUP_ROUNDS:
            jiffies = host_jiffies()
            t0 = time.perf_counter()
        if slot == 0 and n_round >= WARMUP_ROUNDS + MIN_ROUNDS and time.perf_counter() - t0 >= ctx.seconds:
            break
        traced = trace_mode and measured and i % 2 == 0
        tr.enabled = traced
        # warm rounds alternate a submit and an abort, so every pair of
        # rounds has the same write mix
        abort = n_round % 2 == 1
        records.append(_call(ctx, engine, live, rng, ops[i], warm=measured, traced=traced, abort=abort))
        records[-1].slot = slot
        if measured:
            records[-1].pass_no = n_round - WARMUP_ROUNDS
        i += 1
    warm_wall = time.perf_counter() - t0
    steal = steal_since(jiffies)
    tr.enabled = trace_mode

    if trace_mode:
        for name, build in MEMOS:
            with tr.span("memo", name) as sp:
                build(spark, ctx.sf_dir)
            memo_spans.append((name, sp.id, True))

    log("checking")
    check(ctx, engine, records)
    return Result(records, cold_s, warm_wall, memo_spans, {"steal": steal})


# ---------------------------------------------------------------------------
# checks (after the timed loop)


def check(ctx: Ctx, engine: dispatch.LocalLedgerEngine, records: list[Op]) -> None:
    con = oracle.connect(ctx.sf_dir)
    expected: dict[tuple, tuple] = {}
    seq: dict[str, int] = {}
    submitted: list[tuple[str, str]] = []
    aborted: set[str] = set()
    for rec in records:
        if not rec.ok:
            continue
        if rec.kind == "read":
            op = rec.detail.pop("op")
            if op not in expected:
                expected[op] = oracle.digest(*oracle_rows(con, op))
            rec.ok = rec.detail.pop("digest") == expected[op]
            continue
        write, res = rec.detail["write"], rec.detail.pop("result")
        if write[0] == "abort":
            rec.ok = res == {"operation_result": True}
            aborted.add(write[1])
            continue
        _, uuid, body = write
        n = seq.get(uuid, 0)
        seq[uuid] = n + 1
        exec_uuid = hashlib.sha256(f"singleuse|{uuid}|{body}|{n}".encode()).hexdigest()[:8]
        tracking = hashlib.sha256(f"{uuid}|{exec_uuid}|0".encode()).hexdigest()[:10]
        rec.ok = (res.exec_uuid, res.tracking_id, res.engine) == (exec_uuid, tracking, engine.name)
        submitted.append((uuid, tracking))
    con.close()
    # the engine's ledger holds every submission once, aborted as the
    # client left it; a mismatch fails every write
    got = sorted((r.pipeline_uuid, r.tracking_id, r.status) for r in engine.ledger(ctx.spark).collect())
    want = sorted((u, t, "aborted" if t in aborted else "submitted") for u, t in submitted)
    if got != want:
        for rec in records:
            if rec.kind == "write":
                rec.ok = False


_DEFS_SQL = """
SELECT d.pipeline_uuid, d.description, d.retry_max, d.concurrency, d.engine,
       d.schedule, d.trigger_operator, e.dep_uuids, d.tag_team, d.tag_tier,
       d.pipeline_body
FROM pipeline_defs d
LEFT JOIN (SELECT pipeline_uuid, list(upstream_uuid ORDER BY upstream_uuid) AS dep_uuids
           FROM dag_edges GROUP BY pipeline_uuid) e USING (pipeline_uuid)
"""
_DEFS_COLS = (
    "pipeline_uuid", "description", "retry_max", "concurrency", "engine", "schedule",
    "trigger_operator", "tag_team", "tag_tier", "pipeline_body", "triggers_on", "tags",
)


def _defs(con, where: str, params: list, drop: tuple[str, ...]) -> tuple[list[str], list[tuple]]:
    """pipeline_defs_full rows in the API's nested shape (triggers_on
    struct, tags map), minus the columns the endpoint drops."""
    cur = con.execute(f"SELECT * FROM ({_DEFS_SQL}) WHERE {where}", params)
    names = [c[0] for c in cur.description]
    cols = [c for c in _DEFS_COLS if c not in drop]
    rows = []
    for values in cur.fetchall():
        r = dict(zip(names, values))
        deps = r["dep_uuids"]
        r["triggers_on"] = (
            None if r["trigger_operator"] is None
            else (r["trigger_operator"], None if deps is None else tuple(deps))
        )
        r["tags"] = tuple(
            (k, v) for k, v in (("team", r["tag_team"]), ("tier", r["tag_tier"])) if v is not None
        )
        rows.append(tuple(r[c] for c in cols))
    return cols, rows


def _sql(con, sql: str, params: list) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql, params)
    return [c[0] for c in cur.description], cur.fetchall()


def oracle_rows(con, op: tuple) -> tuple[list[str], list[tuple]]:
    """The oracle's (columns, rows) for one read call."""
    kind = op[0]
    hidden = ("pipeline_body", "tag_team", "tag_tier")
    if kind == "describe":
        return _defs(con, "pipeline_uuid = ?", [op[1]], hidden)
    if kind == "downstream":
        return _defs(con, "list_contains(dep_uuids, ?) AND trigger_operator IS NOT NULL", [op[1]], ("pipeline_body",))
    if kind == "list":
        where, params = ["starts_with(pipeline_uuid, ?)"], [op[1]]
        for k, v in op[2]:
            where.append(f"tag_{k} = ?")
            params.append(v)
        return _defs(con, " AND ".join(where), params, hidden)
    if kind == "body":
        return _sql(con, "SELECT pipeline_uuid, pipeline_body FROM pipeline_defs WHERE pipeline_uuid = ?", [op[1]])
    if kind == "delete_guard":
        return _sql(con, "SELECT pipeline_uuid FROM dag_edges WHERE upstream_uuid = ?", [op[1]])
    if kind in ("event_history", "running"):
        _, uuid, x, y, limit = op
        if kind == "event_history":
            table, order = "lifecycle_events", "received_time DESC, exec_uuid DESC"
            where = ["received_time >= (SELECT max(ts) FROM events_ms) - to_seconds(?)"]
            params: list = [y]
            if x is not None:
                where.append("event_subtype = ?")
                params.append(x)
        else:
            table, order = "running_jobs", "start_time DESC, exec_uuid DESC"
            where = [f"engine_status IN ({', '.join('?' for _ in x)})"]
            params = list(x)
            if y is not None:
                where.append("engine = ?")
                params.append(y)
        if uuid is not None:
            where.append("pipeline_uuid = ?")
            params.append(uuid)
        return _sql(
            con,
            f"SELECT * FROM {table} WHERE {' AND '.join(where)} ORDER BY {order} LIMIT {int(limit)}",
            params,
        )
    if kind == "incubation":
        return _sql(
            con,
            """
            SELECT r.*, coalesce(s.all_satisfied, false) AS all_satisfied, s.n_triggers
            FROM incubating_runs r LEFT JOIN (
              SELECT obj_id, bool_and(trigger_value <> 'waiting') AS all_satisfied,
                     count(*) AS n_triggers
              FROM incubating_triggers GROUP BY obj_id) s USING (obj_id)
            """,
            [],
        )
    raise ValueError(kind)
