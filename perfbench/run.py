"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, sets up, measures (for ``--seconds``, or a fixed amount of work
capped by it), checks every answer, and prints a ``perfbench report`` line
followed by the result as the last line of standard output: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exits non-zero
without a result when the program it measures is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "ingest")
#: Input sizes: ``bench`` is the measured scale, ``smoke`` the size of the
#: repository's sf0.001 test data, for the self-tests.
SCALES = {
    "bench": {"events": 50_000, "docs": 5_000},
    "smoke": {"events": 1_000, "docs": 100},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="bench")
    args = p.parse_args(argv)
    args.events = SCALES[args.scale]["events"]
    args.docs = SCALES[args.scale]["docs"]
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import datafusion_uwheel_spark
    except ImportError as e:
        print(f"perfbench: the program is not beside the benchmark: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(datafusion_uwheel_spark.__file__).startswith(ROOT + os.sep):
        print(
            f"perfbench: datafusion_uwheel_spark loaded from "
            f"{datafusion_uwheel_spark.__file__}, not from {ROOT}",
            file=sys.stderr,
        )
        return 2
    import importlib

    from harness import Harness

    h = Harness(args, ROOT)
    try:
        result = importlib.import_module(args.workload).run(h)
    finally:
        h.stop()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
