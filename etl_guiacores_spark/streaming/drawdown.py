"""Streaming max drawdown — the stream twin of
``operators/rollup_time.max_drawdown`` (q187), extending the §2.10
twin set (OHLC, CUSUM, Holt, daily acquisition) to the round-8
analytics wave's running-sum/running-peak shape.

The batch operator stacks two per-key ROWS windows (running sum, then
running peak) on one partition-sort and aggregates the path maxima.
The recurrence's whole memory is FOUR integers per key —
(cum, peak, maxdd, n_flows) — plus the last-seen (time, tiebreak), so the
stream version carries exactly that between micro-batches and replays
each batch's rows through the SAME two stacked windows seeded by the
carried values:

    cum_i  = cum_carried + running_sum(flow)
    peak_i = greatest(peak_carried, running_max(cum_i))
    maxdd  = greatest(maxdd_carried, max(peak_i - cum_i))

Per-batch output is one CUMULATIVE report row per key touched by the
batch (keys, n_flows, final, peak, max_drawdown, batch_id) — an
upsert: ``read_max_drawdown`` merges to the latest batch's row per
key, which equals running the batch operator over the full history
(equivalence-tested in tests/test_streaming.py, including a
redelivery replay).

Delivery contract: per-key (event-time, tiebreak) order across
batches (fail loud — a late row would need path rewrite), enforced by
the shared guard. Snapshots, replay and pruning follow the protocol in
``streaming/snapshots.py``. State at 100 TB is one 6-field row per
key, shuffled like any keyed join; snapshots parquet-pruned.

State-size bound: the snapshot holds EXACTLY one row per key ever
seen — never per batch (asserted over 20 micro-batches with key churn
in tests/test_streaming.py::TestTwinStateBounds). Retired keys (closed
accounts) can be dropped between runs with ``compact_snapshots``, or
left: the carry cost is one narrow row per key, anti-joined (never
rescanned) each batch.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_guiacores_spark.streaming.snapshots import (
    _check_key_order,
    _fold_stream,
    _keyed_state_schema,
    read_latest_upsert,
)


OP = "max_drawdown_stream"

def max_drawdown_stream(
    events: DataFrame,
    out_dir: str,
    key_cols: Sequence[str],
    flow_col: Column | str,
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
    checkpoint_dir: str | None = None,
    keep_snapshots: int = 3,
):
    """Start the streaming drawdown tracker over ``events`` (a
    streaming DataFrame). ``flow_col`` must already be in integer
    units (the engine-wide micro-unit rule — the caller casts, the
    operator never touches floats). Returns the StreamingQuery."""
    keys = list(key_cols)
    reserved = {"cum", "peak", "maxdd", "n_flows", "ts_last", "tb_last",
                "final", "max_drawdown", "batch_id", "__ts", "__tb",
                "__flow", "__cum", "__peak", "__cum0", "__peak0",
                "__maxdd0", "__n0", "__first", "__held", "__ts_last",
                "__tb_last"}
    clash = sorted(reserved.intersection(keys))
    if clash:
        raise ValueError(
            f"max_drawdown_stream: key columns {clash} collide with the "
            "operator's state/working/output columns — rename them first"
        )
    flow = F.col(flow_col) if isinstance(flow_col, str) else flow_col

    def fold(batch_df, batch_id, state, fresh):
        if batch_df.isEmpty():
            return None
        rows = batch_df.select(
            *keys,
            F.col(time_col).alias("__ts"),
            F.col(tiebreak_col).alias("__tb"),
            flow.cast("long").alias("__flow"),
        )
        _check_key_order(
            batch_df, state, keys, time_col, tiebreak_col, batch_id, OP
        )
        seeded = rows.join(
            state.select(
                *keys,
                F.col("cum").alias("__cum0"),
                F.col("peak").alias("__peak0"),
                F.col("maxdd").alias("__maxdd0"),
                F.col("n_flows").alias("__n0"),
            ),
            keys,
            "left",
        )
        w = (
            Window.partitionBy(*keys)
            .orderBy("__ts", "__tb")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        path = seeded.withColumn(
            "__cum",
            F.coalesce("__cum0", F.lit(0)) + F.sum("__flow").over(w),
        ).withColumn(
            # greatest() skips NULL, so a fresh key's peak is just the
            # running max — identical to the batch operator's seed
            "__peak",
            F.greatest(F.col("__peak0"), F.max("__cum").over(w)),
        )
        report = path.groupBy(*keys).agg(
            (
                F.coalesce(F.max("__n0"), F.lit(0)) + F.count("*")
            ).cast("long").alias("n_flows"),
            (
                F.coalesce(F.max("__cum0"), F.lit(0)) + F.sum("__flow")
            ).cast("long").alias("final"),
            F.max("__peak").cast("long").alias("peak"),
            F.greatest(
                F.max("__maxdd0"),
                F.max(F.col("__peak") - F.col("__cum")),
            ).cast("long").alias("max_drawdown"),
            F.max("__ts").alias("__ts_last"),
            F.max_by("__tb", F.struct("__ts", "__tb")).alias("__tb_last"),
        )
        new_state = report.select(
            *keys,
            F.col("final").alias("cum"),
            "peak",
            F.col("max_drawdown").alias("maxdd"),
            "n_flows",
            F.col("__ts_last").alias("ts_last"),
            F.col("__tb_last").alias("tb_last"),
        )
        carried = state.join(new_state.select(*keys), keys, "left_anti")
        out = report.select(
            *keys,
            "n_flows",
            "final",
            "peak",
            "max_drawdown",
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        return out, carried.unionByName(new_state)

    state_schema = _keyed_state_schema(
        keys, ("cum", "peak", "maxdd", "n_flows"), time_col, tiebreak_col
    )
    return _fold_stream(
        events, out_dir, OP, state_schema, fold, checkpoint_dir,
        keep_snapshots,
    )


def read_max_drawdown(
    spark: SparkSession, out_dir: str, key_cols: Sequence[str]
) -> DataFrame:
    """Current cumulative report: latest batch's row per key (the
    shared read_latest_upsert merge). Matches the batch
    ``max_drawdown`` output columns."""
    return read_latest_upsert(spark, out_dir, key_cols)
