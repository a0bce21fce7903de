"""Shared pieces of the workloads: the run context, the op record, host counters."""

from __future__ import annotations

import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench.tracing import Tracer


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    work: str  # scratch directory of this run
    cores: int


@dataclass
class Op:
    kind: str
    name: str
    seconds: float
    warm: bool  # measured: past the cold pass and any warm-up
    traced: bool
    ok: bool = True
    pass_no: int = -1  # measured pass (suite) or round (facade); -1 when not measured
    slot: int = 0  # position in its pass or round
    build_s: float = 0.0
    action_s: float = 0.0
    span_id: int | None = None
    detail: dict = field(default_factory=dict)


@dataclass
class Result:
    ops: list[Op]
    cold_s: float
    warm_wall_s: float
    memo_spans: list[tuple[str, int, bool]] = field(default_factory=list)  # (name, span id, repeat)
    extra: dict = field(default_factory=dict)


def pass_seconds(ops: list[Op]) -> float:
    """The time of one typical warm pass: each op name's median over the
    warm passes, summed over the pass's slots. A slot that holds
    different ops in different passes (facade's write: a submit in one
    round, an abort in the next) counts the mean of their medians."""
    by_name: dict[tuple[int, str], list[float]] = {}
    for op in ops:
        if op.warm:
            by_name.setdefault((op.slot, op.name), []).append(op.seconds)
    by_slot: dict[int, list[float]] = {}
    for (slot, _), times in by_name.items():
        by_slot.setdefault(slot, []).append(statistics.median(times))
    return sum(statistics.fmean(meds) for meds in by_slot.values())


def host_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine since boot, all CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_since(j0: tuple[int, int]) -> float:
    """Share of the machine's CPU time the hypervisor stole since ``j0``."""
    steal, total = host_jiffies()
    return (steal - j0[0]) / (total - j0[1]) if total > j0[1] else 0.0


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)
