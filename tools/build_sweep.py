"""Registry-wide DataFrame BUILD-time sweep (guide §5.4 driver work).

Times spec.fn(spark, sf_dir) construction alone — py4j plan-building
chatter plus any eager in-build jobs — for every registered query,
twice; reports the second (warm) pass so one-time costs (module
imports, first-touch footer reads) don't pollute the ranking. No
noop execution: this isolates the driver-side build tail the r13
verdict flagged (~26 s aggregate), separate from engine execution.

Usage: python tools/build_sweep.py [--sf DIR] [--top N]
Prints one JSON line {"total_warm_s": .., "builds": {name: s, ...}}
(builds sorted descending) and a human top-N table on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_guiacores_spark import harness  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--top", type=int, default=20)
    args = ap.parse_args()

    registry = harness.load_registry()
    spark = harness.session("build-sweep")
    harness.warm(spark, args.sf)

    builds: dict[str, float] = {}
    for _pass in (0, 1):
        for name, spec in registry.items():
            t0 = time.time()
            spec.fn(spark, args.sf)
            builds[name] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
    ranked = dict(
        sorted(builds.items(), key=lambda kv: kv[1], reverse=True)
    )
    total = round(sum(builds.values()), 3)
    for name, s in list(ranked.items())[: args.top]:
        print(f"{s:8.3f}  {name}", file=sys.stderr)
    print(json.dumps({"total_warm_s": total, "builds": ranked}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
