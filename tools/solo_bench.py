"""Solo steady-state re-measure for bench-variance adjudication.

The full 187-query bench runs queries back-to-back in one session, so
ambient machine load and cache rotation swing individual timings up
to ~6x run-to-run (SCALE.md round-7 coda). When a committed bench
artifact shows a per-query move with no code change, the adjudication
protocol is: re-measure the query SOLO — fresh warmed session, one
cold run, then N warm repeats — and compare the warm median against
both rounds' committed numbers. Matches the q86/q118 precedent.

Usage: python tools/solo_bench.py q114_random_projection ... \
           [--repeats 3] [--sf DIR]
Prints ONE JSON line: {name: {"cold": s, "warm": [s...], "median": s}}
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_guiacores_spark import harness  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    registry = harness.load_registry()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = harness.session("solo-bench")
    harness.warm(spark, args.sf)

    out: dict[str, dict] = {}
    for name in args.names:
        runs = [
            round(harness.run_noop(spark, registry[name].fn, args.sf)[1], 3)
            for _ in range(args.repeats + 1)
        ]
        out[name] = {
            "cold": runs[0],
            "warm": runs[1:],
            "median": round(statistics.median(runs[1:]), 3),
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
