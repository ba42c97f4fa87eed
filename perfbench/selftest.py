#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark (about four minutes).

    python3 perfbench/selftest.py

For each workload, on a 2,000-row wide table and sf=0.001 tables:

- an untraced run with ``--corrupt`` must print every end-to-end metric
  of BENCHMARK.json with its unit, and count the corrupted output in
  ``failed`` (so ``correct`` is false);
- a traced run must print every per-layer metric with its unit and
  report no failure.

Finally, a copy holding only BENCHMARK.json and perfbench/ must exit
non-zero without printing a result.  Exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TINY = ["--seed", "7", "--seconds", "1", "--rows", "2000", "--sf", "0.001"]


def run(cwd: Path, *args: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def check_metrics(result: dict, spec: list[dict]) -> list[str]:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errors = [f"{k}: missing or unit {got.get(k)!r} != {u!r}" for k, u in want.items() if got.get(k) != u]
    errors += [f"{k}: not in BENCHMARK.json" for k in got.keys() - want.keys()]
    errors += [
        f"{k}: value {v['value']!r} is not a number"
        for k, v in result["metrics"].items()
        if not isinstance(v["value"], (int, float))
    ]
    return errors


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in bench["workloads"]] + ["native_sql"]
    failures: list[str] = []

    for wl in workloads:
        rc, res, err = run(ROOT, "--workload", wl, "--trace", "0", "--corrupt", *TINY)
        if rc != 0 or res is None:
            failures.append(f"{wl} untraced: rc={rc}\n{err[-3000:]}")
        else:
            failures += [f"{wl} untraced: {e}" for e in check_metrics(res, bench["end_to_end"])]
            if res["failed"] < 1 or res["correct"]:
                failures.append(f"{wl} untraced: corrupted output not counted: {res}")
        print(f"{wl} untraced --corrupt: rc={rc} {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}")

        rc, res, err = run(ROOT, "--workload", wl, "--trace", "1", *TINY)
        if rc != 0 or res is None:
            failures.append(f"{wl} traced: rc={rc}\n{err[-3000:]}")
        else:
            failures += [f"{wl} traced: {e}" for e in check_metrics(res, bench["per_layer"])]
            if res["failed"] or not res["correct"]:
                failures.append(f"{wl} traced: failures on clean outputs: {res}")
        print(f"{wl} traced: rc={rc} {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}")

    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(ROOT / "perfbench", bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        rc, res, _ = run(bare, "--workload", workloads[0], "--trace", "0", *TINY)
        if rc == 0 or res is not None:
            failures.append(f"bare copy: rc={rc}, result={res}")
        print(f"bare copy: rc={rc}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        with contextlib.suppress(OSError):
            bare.parent.rmdir()

    for f in failures:
        print("FAIL", f, file=sys.stderr)
    print("selftest:", "ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
