#!/usr/bin/env python
"""Interleaved parent/change pairs of the repository benchmark.

    python scripts/perf_pairs.py PARENT_DIR --workload wide_extract --pairs 10

Runs ``perfbench/run.py --trace 0`` alternately in PARENT_DIR (a
checkout of the parent commit, made with ``git clone`` or
``git archive``) and in this working tree, one pair per seed 1..N, each
run as long as ``BENCHMARK.json``'s ``run_seconds``.  Which side runs
first alternates from pair to pair, so drift of the host's speed over
minutes falls on both sides.
Every run's raw JSON line is printed as it finishes; at the end, each
end-to-end metric in ``BENCHMARK.json`` gets its per-side median,
quartiles, and the number of pairs the change wins (ties count for
neither side).  Run it from the root of the working tree.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

TREE = Path(__file__).resolve().parents[1]


def run_once(root: Path, workload: str, seed: int, seconds: float) -> dict | None:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"# run failed in {root} (seed {seed}, exit {p.returncode}): {p.stderr[-800:]}", flush=True)
        return None
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def report(pairs: list[tuple[dict, dict]], metrics: list[dict]) -> None:
    print(f"\n{len(pairs)} complete pairs (parent, change)")
    print(f"{'metric':<22}{'parent median [q1, q3]':>34}{'change median [q1, q3]':>34}  wins  parent IQR")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        side = [[r["metrics"][name]["value"] for r in runs] for runs in zip(*pairs)]
        (p1, p2, p3), (c1, c2, c3) = quartiles(side[0]), quartiles(side[1])
        wins = sum((c < p) if lower else (c > p) for p, c in zip(*side))
        print(
            f"{name:<22}{p2:>14.4g} [{p1:.4g}, {p3:.4g}]".ljust(56)
            + f"{c2:>12.4g} [{c1:.4g}, {c3:.4g}]".ljust(34)
            + f"{wins:>3}/{len(pairs)}  {p3 - p1:.4g}"
        )
    failed = [sum(r["failed"] for r in runs) for runs in zip(*pairs)]
    print(f"failed calls: parent {failed[0]}, change {failed[1]}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", type=Path, help="checkout of the parent commit")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args()

    bench = json.loads((TREE / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    sides = {"parent": args.parent.resolve(), "change": TREE}
    pairs = []
    for seed in range(1, args.pairs + 1):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(sides[side], args.workload, seed, seconds)
            print(json.dumps({"side": side, "seed": seed, "workload": args.workload, "result": got[side]}), flush=True)
        if got["parent"] and got["change"]:
            pairs.append((got["parent"], got["change"]))
    if not pairs:
        print("# no complete pair")
        return 1
    report(pairs, bench["end_to_end"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
