"""Run one benchmark workload and print its result.

    python3 kgperf/run.py --workload {build_registry,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics; the
line before it holds the run's host-noise receipts. Spark's own logs go
to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "askg_spark")):
        print(f"kgperf: no askg_spark package under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from kgperf import host
    from kgperf.bench import run_workload

    # every process the run starts ends before it does, on every path out
    host.adopt_orphans()
    try:
        out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        host.stop_descendants()
    print(json.dumps({"receipts": out["receipts"]}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
