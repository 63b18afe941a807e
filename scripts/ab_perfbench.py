"""Alternate perfbench runs between two source trees and compare them.

    python3 scripts/ab_perfbench.py A_DIR B_DIR --workload curation \
        [--workload relational ...] [--pairs 10] [--seed 11] \
        [--seconds 10] [--trace 0] 2> runs.jsonl

A_DIR is the baseline (for example a ``git worktree`` of the parent
commit), B_DIR the change. Each pair runs ``python3 perfbench/run.py``
once in each tree with the same seed; pair i uses seed ``--seed + i``,
and the side that runs first alternates (A first on even pairs). Each
tree runs its own ``perfbench/`` unchanged. Every run's result is
printed to stderr as one JSON line as it lands.

At the end it prints, per workload and metric, each side's median and
quartiles, how many pairs B won (ties count for neither side; the
direction comes from A's ``BENCHMARK.json``), and each side's ``failed``
total and runs that returned no result. ``claim`` reads ``yes`` when B
won at least nine tenths of the pairs and the medians differ by more
than A's interquartile range.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from statistics import median, quantiles


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """One ``perfbench/run.py`` in ``tree``; its result object, or None
    when the run exits non-zero or prints no result line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = quantiles(xs, n=4, method="inclusive")  # numpy.percentile's default
    return q1, q3


def summarize(workload: str, runs: list[dict], better: dict[str, str]) -> None:
    """Print one row per metric for ``workload`` from its paired runs."""
    pairs = [(r["A"], r["B"]) for r in runs if r["A"] and r["B"]]
    for side in "AB":
        results = [r[side] for r in runs]
        failed = sum(x["failed"] for x in results if x)
        missing = sum(1 for x in results if x is None)
        print(f"{workload}: {side} failed={failed} no_result={missing} of {len(results)} runs")
    if not pairs:
        return
    print(f"{'metric':<32} {'A median [q1, q3]':>26} {'B median [q1, q3]':>26} {'B wins':>8} claim")
    for name in pairs[0][0]["metrics"]:
        a = [p[0]["metrics"][name]["value"] for p in pairs]
        b = [p[1]["metrics"][name]["value"] for p in pairs]
        sign = 1 if better.get(name, "lower") == "lower" else -1
        wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
        (a1, a3), (b1, b3) = quartiles(a), quartiles(b)
        claim = wins >= 0.9 * len(pairs) and abs(median(a) - median(b)) > a3 - a1
        print(
            f"{name:<32} {median(a):>10.4g} [{a1:.4g}, {a3:.4g}] {median(b):>10.4g} [{b1:.4g}, {b3:.4g}]"
            f" {wins:>4}/{len(pairs):<3} {'yes' if claim else 'no'}"
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("a", help="baseline tree")
    ap.add_argument("b", help="changed tree")
    ap.add_argument("--workload", action="append", required=True, choices=("ingest", "relational", "curation"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=11, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trees = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    with open(os.path.join(trees["A"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    for workload in args.workload:
        runs = []
        for i in range(args.pairs):
            seed = args.seed + i
            pair = {}
            for side in ("AB" if i % 2 == 0 else "BA"):
                pair[side] = run_once(trees[side], workload, seed, args.seconds, args.trace)
                line = {"workload": workload, "pair": i, "seed": seed, "side": side,
                        "tree": trees[side], "result": pair[side]}
                print(json.dumps(line), file=sys.stderr, flush=True)
            runs.append(pair)
        summarize(workload, runs, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
