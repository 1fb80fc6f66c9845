#!/usr/bin/env python3
"""Run the benchmark (end-to-end metrics, --trace 0) once per seed and
report, per metric, the median and the run-to-run spread: (Q3 - Q1) /
median with the quartiles of statistics.quantiles(values, n=4).

    python3 perfbench/spread.py --workload corpus --seeds 1-10 --seconds 8
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import median, quartile_spread  # noqa: E402


def seed_list(spec: str) -> list[int]:
    """'1-5' or '1,4,9'."""
    if "-" in spec:
        lo, hi = spec.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", required=True)
    args = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, timeout=600)
        wall = time.time() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        timings = [ln.split("operations: ", 1)[1] for ln in proc.stderr.splitlines()
                   if " operations: wall " in ln]
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}; {' '.join(timings)}",
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        spread = quartile_spread(vs) if len(vs) > 1 and median(vs) else float("nan")
        print(f"{name:24s} median {median(vs):14.4f}  spread {spread:.3f}  n={len(vs)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
