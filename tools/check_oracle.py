"""Local replica of the driver's oracle-differential check.

Runs every query in ``__spark_entry__.queries()`` on Spark and its
``oracle_sql()`` twin on DuckDB at sf0.01, then compares row count,
sorted column names, and an order-insensitive value hash. Use while
iterating so driver-side CORRECTNESS runs hold no surprises.

Usage: python tools/check_oracle.py [query_name ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


# Oracle output-column types that render differently depending on the
# fetch path: DuckDB HUGEINT/UHUGEINT come back as Python ints through
# fetchall() (hash-stable) but as float64 through a pandas/Arrow fetch
# ("1540.0" vs "1540" after normalization) — exactly the skew that kept
# q58 driver-red for two rounds while this fetchall-based replica
# passed. Any oracle emitting one is a hard failure here regardless of
# whether the hash happens to match locally: CAST the final SELECT's
# column to BIGINT.
FRAGILE_ORACLE_TYPES = {"HUGEINT", "UHUGEINT"}


def audit_oracle_types(con, sql, spark_dtypes):
    """Return (hard_errors, warnings) about driver-fragile oracle output types."""
    hard, warn = [], []
    rel = con.sql(sql)
    sd = dict(spark_dtypes)
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        base = t.split("(")[0]
        if base in FRAGILE_ORACLE_TYPES:
            hard.append(
                f"{col}: oracle type {t} renders as float64 under a "
                f"pandas/Arrow fetch — CAST(... AS BIGINT) in the final SELECT"
            )
        stype = sd.get(col, "")
        if base == "DECIMAL" and stype == "double":
            warn.append(f"{col}: oracle {t} vs spark double — rendering may differ")
        elif base == "DOUBLE" and stype.startswith("decimal"):
            warn.append(f"{col}: oracle DOUBLE vs spark {stype} — rendering may differ")
        elif base in ("TIMESTAMP", "TIMESTAMP WITH TIME ZONE", "DATE") and stype == "string":
            warn.append(f"{col}: oracle {t} vs spark string — render timestamps as strings on BOTH sides")
    return hard, warn


def frame_fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols_sorted = [columns[i] for i in order]
    lines = sorted("\x1f".join(normalize_value(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8", "replace"))
        h.update(b"\n")
    return cols_sorted, len(rows), h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from etl_guiacores_spark import harness
    from etl_guiacores_spark.sources.tables import TABLE_NAMES

    spark = harness.session("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)

    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            srows = [tuple(r) for r in sdf.collect()]
            scols, scount, shash = frame_fingerprint(sdf.columns, srows)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows-only check, {scount} rows ({time.time()-t0:.1f}s)")
            if scount == 0:
                failures.append(name)
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            dcols, dcount, dhash = frame_fingerprint(dcols, drows)
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        type_errs, type_warns = audit_oracle_types(con, oracles[name], sdf.dtypes)
        for msg in type_errs:
            print(f"TYPE  {name}: {msg}")
        for msg in type_warns:
            print(f"WARN  {name}: {msg}")
        if type_errs:
            failures.append(name)
        ok = scols == dcols and scount == dcount and shash == dhash
        status = "OK   " if ok else "FAIL "
        print(
            f"{status} {name}: rows {scount}/{dcount} "
            f"cols={'=' if scols == dcols else f'{scols} vs {dcols}'} "
            f"hash={'=' if shash == dhash else 'MISMATCH'} ({time.time()-t0:.1f}s)"
        )
        if not ok:
            if name not in failures:
                failures.append(name)
            if scols == dcols and scount == dcount:
                # show a few differing rows for debugging
                sset = {tuple(normalize_value(v) for v in r) for r in srows}
                dset = {tuple(normalize_value(v) for v in r) for r in drows}
                for r in list(sset - dset)[:3]:
                    print(f"        spark-only: {r}")
                for r in list(dset - sset)[:3]:
                    print(f"        duck-only:  {r}")

    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
