"""Run one workload over several seeds and print each metric's median and
quartile spread (the distance between the first and third quartile as a
share of the median), the figure BENCHMARK.json's bounds are checked
against.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 --seconds 15

Runs are sequential, one process each, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="15")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    results = []
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
        )
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        results.append(res)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} {vals}", flush=True)
    print(f"{'metric':32} {'median':>12} {'spread':>8}")
    for name in results[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(xs)
        spread = stats.quartile_spread(xs) if len(xs) >= 2 and med else float("nan")
        print(f"{name:32} {med:12.4f} {spread:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
