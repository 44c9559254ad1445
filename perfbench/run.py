"""One benchmark run of spcht_spark.

    python3 perfbench/run.py --workload ingest|search_small --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed, builds and updates an index through the package's public functions,
serves requests from it, checks every answer against an oracle computed
from the inputs alone, and prints one JSON object as the last line of
stdout. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). A record of every run is kept under
``perfbench/.runs/``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spcht_spark")):
        print(f"perfbench: no spcht_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads  # noqa: E402  (needs the package on sys.path)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    return workloads.run(args, T_PROCESS)


if __name__ == "__main__":
    sys.exit(main())
