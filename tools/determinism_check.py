"""Determinism sweep: every registered query must produce the SAME
value hash when executed twice in one session.

This is the audit class the round-4 prefix-sum bug belongs to: a plan
that reads runtime facts (spark_partition_id, rand, sampled range
boundaries, AQE coalescing) can pass an oracle compare once and still
drift between evaluations — re-executing the same DataFrame is the
cheapest detector for that whole class. Distinct from check_oracle
(cross-ENGINE agreement); this checks cross-EXECUTION agreement.

Usage: python tools/determinism_check.py [query_name ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from etl_guiacores_spark import harness  # noqa: E402
from tools.check_oracle import frame_fingerprint  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = harness.session("determinism-check")

    qs = entrymod.queries()
    names = args.names or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            fps = []
            for _ in range(2):
                # rebuild the plan each time: catches nondeterminism in
                # plan construction AND execution; each queries() entry
                # clears cached tables first, so run 2 re-executes from
                # the sources
                df = qs[name](spark, args.sf)
                rows = [tuple(r) for r in df.collect()]
                fps.append(frame_fingerprint(df.columns, rows))
        except Exception as e:
            print(f"FAIL  {name}: error: {e}")
            failures.append(name)
            continue
        ok = fps[0] == fps[1]
        print(
            f"{'OK   ' if ok else 'DRIFT'} {name}: "
            f"{fps[0][1]} rows ({time.time()-t0:.1f}s)"
            + ("" if ok else f" — run1 {fps[0][2][:12]} vs run2 {fps[1][2][:12]}")
        )
        if not ok:
            failures.append(name)

    print(f"\n{len(names) - len(failures)}/{len(names)} queries deterministic")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
