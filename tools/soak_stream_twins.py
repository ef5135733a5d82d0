"""Volume soak for the round-9 streaming twins (drawdown, dwell).

The unit tests prove batch-boundary semantics on a handful of rows;
this soak proves the carried state holds up at volume: N_EVENTS
events over N_USERS users land in BATCHES event-time-ordered
micro-batches through both twins, and the merged streaming reports
are compared row-for-row against the batch operators over the full
history — the same equivalence the driver's hash compare enforces,
at 4 orders of magnitude more state (one open hold / one
(cum,peak,maxdd) tuple per user).

Usage: python tools/soak_stream_twins.py [--events 200000]
           [--users 1000] [--batches 5]
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=200_000)
    ap.add_argument("--users", type=int, default=1000)
    ap.add_argument("--batches", type=int, default=5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from etl_guiacores_spark import harness
    from etl_guiacores_spark.operators.rollup_time import max_drawdown
    from etl_guiacores_spark.operators.temporal import state_dwell
    from etl_guiacores_spark.streaming import (
        max_drawdown_stream,
        read_max_drawdown,
        read_state_dwell,
        state_dwell_stream,
    )

    spark = harness.session("soak-stream-twins")
    out = tempfile.mkdtemp(prefix="soak_twins_")

    # deterministic synthetic stream: event_id IS the global event-time
    # order (ts strictly increasing), so any split into consecutive
    # id ranges satisfies the twins' in-order delivery contract
    n, users = args.events, args.users
    base = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.pmod(F.xxhash64("id"), F.lit(users)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("error")),
            (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(13)), F.lit(2000)).cast("double")
         / 100.0).alias("value"),
    )
    src = f"{out}/src"
    per = n // args.batches
    for b in range(args.batches):
        lo, hi = b * per, (b + 1) * per if b < args.batches - 1 else n
        base.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )

    flow = F.when(
        F.col("event_type") == "purchase",
        F.floor(F.col("value") * 1_000_000).cast("long"),
    ).otherwise(-F.floor(F.col("value") * 1_000_000).cast("long"))

    results = {}
    t0 = time.time()
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = max_drawdown_stream(
        stream, f"{out}/dd", key_cols=["user_id"], flow_col=flow,
        checkpoint_dir=f"{out}/dd_ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["user_id"]: (r["n_flows"], r["final"], r["peak"],
                       r["max_drawdown"])
        for r in read_max_drawdown(spark, f"{out}/dd", ["user_id"]).collect()
    }
    want = {
        r["user_id"]: (r["n_flows"], r["final"], r["peak"],
                       r["max_drawdown"])
        for r in max_drawdown(
            base.select("user_id", "ts", "event_id", flow.alias("flow")),
            ["user_id"], ["ts", "event_id"], "flow",
        ).collect()
    }
    assert got == want, "drawdown twin diverged from batch"
    results["drawdown"] = {
        "users": len(got), "wall_s": round(time.time() - t0, 1)
    }

    t0 = time.time()
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = state_dwell_stream(
        stream, f"{out}/dw", key_cols=["user_id"], state_col="event_type",
        checkpoint_dir=f"{out}/dw_ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["event_type"]: (r["n_holds"], r["total_dwell_us"],
                          r["mean_dwell_us"], r["max_dwell_us"])
        for r in read_state_dwell(spark, f"{out}/dw", "event_type").collect()
    }
    want = {
        r["event_type"]: (r["n_holds"], r["total_dwell_us"],
                          r["mean_dwell_us"], r["max_dwell_us"])
        for r in state_dwell(
            base, ["user_id"], "event_type", "ts", "event_id"
        ).collect()
    }
    assert got == want, "dwell twin diverged from batch"
    results["dwell"] = {
        "states": len(got), "wall_s": round(time.time() - t0, 1)
    }

    print(
        json.dumps(
            {
                "soak": "stream_twins",
                "events": n,
                "users": users,
                "batches": args.batches,
                **results,
                "match": "exact",
            }
        )
    )
    shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
