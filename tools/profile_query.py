"""Where does a query's wall time go? Planning vs execution.

For each named query, reports:
- build_s: Python-side DataFrame construction (py4j + analysis)
- plan_s: optimizer + physical planning (executedPlan, pre-AQE)
- exec_s: noop-sink execution, repeated --repeats times (warm list)

Usage: python tools/profile_query.py q101_pagerank_neardup [--repeats 3]
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
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    registry = harness.load_registry()
    spark = harness.session("profile-query")
    harness.warm(spark, args.sf)

    for name in args.names:
        spec = registry[name]
        execs = []
        build = plan = None
        for i in range(args.repeats):
            t0 = time.time()
            df = spec.fn(spark, args.sf)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            if i == 0:
                build, plan = round(t1 - t0, 3), round(t2 - t1, 3)
            execs.append(round(t3 - t2, 3))
            spark.catalog.clearCache()
        print(name, json.dumps({"build_s": build, "plan_s": plan, "exec_s": execs}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
