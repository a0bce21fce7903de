"""Steadiness check: run one workload N times with different seeds and
print, for every end-to-end metric, the median, the quartiles and the
spread (interquartile distance as a share of the median) against the
metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload facade --runs 10 --first-seed 1

A spread at or above the bound fails; one at or above a third of the bound
is flagged as too wide to compare two commits on. Runs go one at a time.
``--save`` keeps every result line (JSON, one per run), ``--load`` analyses
such a file instead of running, and ``--against`` reads one from an earlier
set and also prints how far this set's medians moved from that set's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--save", help="write each run's result line to this file")
    p.add_argument("--against", help="result lines of an earlier set to compare medians with")
    p.add_argument("--load", help="analyse result lines saved earlier instead of running")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    results = []
    if args.load:
        with open(args.load) as fh:
            results = [json.loads(line) for line in fh if line.strip()]
    for i in range(0 if args.load else args.runs):
        t0 = time.time()
        res = run_once(args.workload, args.first_seed + i, spec["run_seconds"])
        results.append(res)
        print(
            f"run {i + 1}/{args.runs} seed {args.first_seed + i}: correct={res['correct']} "
            f"attempted={res['attempted']} failed={res['failed']} ({time.time() - t0:.0f}s)",
            file=sys.stderr, flush=True,
        )
    if args.save:
        with open(args.save, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in results)
    earlier = []
    if args.against:
        with open(args.against) as fh:
            earlier = [json.loads(line) for line in fh if line.strip()]

    bad = 0
    print(f"{args.workload}: {len(results)} runs, all correct: {all(r['correct'] for r in results)}")
    print(f"{'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}  verdict")
    for m in metrics:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        med, q1, q3, sp = spread(values)
        bound = m["bound"]
        verdict = "FAIL" if sp >= bound else ("wide" if sp >= bound / 3 else "ok")
        bad += verdict == "FAIL"
        if earlier:
            before = statistics.median(r["metrics"][m["name"]]["value"] for r in earlier)
            worse = (med - before) / before if m["better"] == "lower" else (before - med) / before
            verdict += f"  median moved {worse:+.1%} (worse if >0)"
            if worse > bound:
                verdict += " FAIL"
                bad += 1
        print(f"{m['name']:32s} {med:12.4g} {q1:12.4g} {q3:12.4g} {sp:7.1%} {bound:6.2f}  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
