"""Capture .explain("formatted") output for named queries.

Optimization-round deliverable helper: writes
``plans/<tag>/<query>_<suffix>.txt`` for each named query so plan
claims (Exchange counts, join strategies, PushedFilters) are
checkable without running Spark.

Usage: python tools/capture_plans.py --tag r13 --suffix before q101_pagerank_neardup ...
       python tools/capture_plans.py --tag r13 --suffix before --all
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_guiacores_spark import harness  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    registry = harness.load_registry()
    names = list(registry) if args.all else args.names
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = harness.session("capture-plans")
    outdir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = registry[name].fn(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        spark.catalog.clearCache()
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
