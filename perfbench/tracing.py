"""Spans around the benchmark's calls into each layer, plus the Spark
counters read at the same boundaries.

A ``Tracer`` keeps spans in memory (name, layer, start, end, parent) and
writes them out once, at exit. Every span that is entered while a
SparkContext is up also tags the Spark jobs started inside it
(``SparkContext.addJobTag``), so jobs, stages, tasks and the SQL metrics of
the Python seam can be attributed to the innermost span afterwards from the
application status store. A disabled tracer records and tags nothing.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext whose jobs get tagged, when set
        self.tag_prefix = f"perfbench-{uuid.uuid4().hex[:8]}-"  # unique per tracer

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, layer, 0.0, parent=parent)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.sc
        if sc is not None:
            sc.addJobTag(self.tag_prefix + str(sp.id))
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sc is not None:
                sc.removeJobTag(self.tag_prefix + str(sp.id))
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in self.spans], fh)


def children_of(spans: list[Span]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for sp in spans:
        if sp.parent is not None:
            out.setdefault(sp.parent, []).append(sp.id)
    return out


def subtree(children: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s, ()))
    return out


def self_times(spans: list[Span], roots: list[int]) -> dict[str, float]:
    """Seconds per layer that spans in the subtrees of ``roots`` spent
    outside their child spans. They add up to the roots' durations."""
    by_id = {sp.id: sp for sp in spans}
    children = children_of(spans)
    out: dict[str, float] = {}
    for root in roots:
        for sid in subtree(children, root):
            kids = sum(by_id[k].seconds for k in children.get(sid, ()))
            out[by_id[sid].layer] = out.get(by_id[sid].layer, 0.0) + by_id[sid].seconds - kids
    return out


# ---------------------------------------------------------------------------
# Spark status-store readers (driver JVM, through py4j)


@dataclass
class StageStats:
    stage_id: int
    num_tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    skew: float  # max / median task run time; 1.0 for single-task stages


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def attribute_jobs(spark, tracer: Tracer) -> dict[int, list[int]]:
    """Assign every tagged job to its innermost span (the highest span id
    among its tags: an inner span always starts after its parent). Returns
    span id -> stage ids, and fills ``Span.jobs``."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = _seq(store.jobsList(jvm.java.util.Collections.emptyList()))
    stages: dict[int, list[int]] = {}
    by_id = {sp.id: sp for sp in tracer.spans}
    for job in jobs:
        prefix = tracer.tag_prefix
        tags = [t for t in _seq(job.jobTags()) if t.startswith(prefix)]
        if not tags:
            continue
        sid = max(int(t[len(prefix):]) for t in tags)
        if sid not in by_id:
            continue
        by_id[sid].jobs.append(job.jobId())
        stages.setdefault(sid, []).extend(_seq(job.stageIds()))
    return stages


def stage_stats(spark, stage_ids: set[int]) -> dict[int, StageStats]:
    """Executor-side totals for the given stages (latest attempt each)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.Collections.emptyList()
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0] = 0.5
    quantiles[1] = 1.0
    out: dict[int, StageStats] = {}
    for st in _seq(store.stageList(empty, False, False, sc._gateway.new_array(jvm.double, 0), empty)):
        sid = st.stageId()
        if sid not in stage_ids or sid in out:
            continue
        skew = 1.0
        if st.numTasks() > 1:
            summary = store.taskSummary(sid, st.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                skew = mx / med if med > 0 else 1.0
        out[sid] = StageStats(
            sid,
            st.numTasks(),
            st.executorRunTime(),
            st.executorCpuTime(),
            st.jvmGcTime(),
            st.shuffleReadBytes(),
            st.shuffleWriteBytes(),
            st.memoryBytesSpilled() + st.diskBytesSpilled(),
            skew,
        )
    return out


_PY_NODE = re.compile(r"Python|Pandas|Arrow")
# size metrics in bytes, timing metrics in seconds
_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?")
_PY_METRICS = {
    "data sent to Python workers": "sent",
    "number of output rows": "rows",
    "time to run Python workers": "worker_s",
}


def _parse_metric(text: str) -> float:
    """Total of a status-store SQL metric string: either a plain value or
    'total (min, med, max ...)\\n<total> (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "B", 1)


def python_seam(spark, job_ids: set[int]) -> tuple[float, float, float]:
    """(bytes sent to Python workers, rows they returned, seconds they ran)
    summed over the SQL executions whose jobs are in ``job_ids``."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    totals = {"sent": 0.0, "rows": 0.0, "worker_s": 0.0}
    for ex in _seq(sql_store.executionsList()):
        ex_jobs = ex.jobs().keySet()
        if not any(ex_jobs.contains(j) for j in job_ids):
            continue
        wanted: dict[int, str] = {}
        for node in _seq(sql_store.planGraph(ex.executionId()).allNodes()):
            if not _PY_NODE.search(node.name()):
                continue
            for m in _seq(node.metrics()):
                if m.name() in _PY_METRICS:
                    wanted[m.accumulatorId()] = _PY_METRICS[m.name()]
        if not wanted:
            continue
        values = sql_store.executionMetrics(ex.executionId())
        for acc, kind in wanted.items():
            opt = values.get(acc)
            if not opt.isEmpty():
                totals[kind] += _parse_metric(opt.get())
    return totals["sent"], totals["rows"], totals["worker_s"]


def spark_layer_metrics(stats: list[StageStats], wall_s: float, cores: int, jobs: int) -> dict[str, float]:
    n_stages = len(stats)
    n_tasks = sum(s.num_tasks for s in stats)
    run_s = sum(s.run_ms for s in stats) / 1e3
    return {
        "spark.jobs": jobs,
        "spark.stages": n_stages,
        "spark.tasks": n_tasks,
        "spark.tasks_per_stage": n_tasks / n_stages if n_stages else 0.0,
        "spark.single_task_stage_frac": (
            sum(1 for s in stats if s.num_tasks == 1) / n_stages if n_stages else 0.0
        ),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s.cpu_ns for s in stats) / 1e9,
        "spark.busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_mb": sum(s.shuffle_write for s in stats) / 1e6,
        "spark.shuffle_read_mb": sum(s.shuffle_read for s in stats) / 1e6,
        "spark.spill_mb": sum(s.spill for s in stats) / 1e6,
        "spark.task_skew": max((s.skew for s in stats), default=1.0),
        "spark.gc_s": sum(s.gc_ms for s in stats) / 1e3,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
