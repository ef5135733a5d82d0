"""Streaming state-dwell accounting — the stream twin of
``operators/temporal.state_dwell`` (q188), the second round-9 twin
(with drawdown) extending §2.10 to the analytics wave's LEAD shape.

The batch operator takes one LEAD over each key's (time, tiebreak)
total order — every event's dwell is closed by the key's NEXT event;
the last event holds indefinitely and is right-censored. The whole
recurrence memory is therefore: ONE open hold per key (the key's
latest event: its state + timestamp) plus the bounded per-STATE
aggregate table (n_holds, total, max). Each micro-batch prepends the
carried open holds to its rows, closes whatever the new events close
through the SAME windowed LEAD, folds the closed dwells into the
carried per-state aggregates, and carries each key's new latest event
forward as the open hold — so the cumulative report after batch N is
bit-identical to running ``state_dwell`` over the concatenated
history (equivalence-tested in tests/test_streaming.py, including a
checkpoint-redelivery replay).

Per-batch output is one CUMULATIVE row per state (an upsert merged by
``read_state_dwell``: latest batch per state — a bounded |states|-row
window). Delivery contract: per-key (event-time, tiebreak) order
across batches (fail loud), enforced by the shared guard against each
key's open hold. Snapshots, replay and pruning follow the protocol in
``streaming/snapshots.py``. State at 100 TB: one row per key plus
|states| rows, shuffled like any keyed join.

State-size bound: the snapshot is exactly |keys ever seen| open-hold
rows + |distinct states| aggregate rows, regardless of batch count
(asserted over 20 micro-batches with key churn in
tests/test_streaming.py::TestTwinStateBounds). ``compact_snapshots``
with ``removable=kind == 'open'`` drops retired keys' open holds
between runs; their closed dwells stay in the per-state aggregates.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_guiacores_spark.streaming.snapshots import (
    _check_key_order,
    _fold_stream,
    read_latest_upsert,
)


def state_dwell_stream(
    events: DataFrame,
    out_dir: str,
    key_cols: Sequence[str],
    state_col: str,
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
    checkpoint_dir: str | None = None,
    keep_snapshots: int = 3,
):
    """Start the streaming dwell tracker over ``events`` (a streaming
    DataFrame). Returns the StreamingQuery."""
    keys = list(key_cols)
    reserved = {"kind", "__state", "__ts", "__tb", "__dwell", "__first",
                "__held", "n_holds", "total_dwell_us", "mean_dwell_us",
                "max_dwell_us", "batch_id", state_col}
    clash = sorted(reserved.intersection(keys))
    if clash:
        raise ValueError(
            f"state_dwell_stream: key columns {clash} collide with the "
            "operator's state/output columns (or the state column "
            "itself) — rename them first"
        )

    # every field typed from the stream itself (the acquisition.py
    # round-8 lesson)
    def state_schema(batch: T.StructType) -> T.StructType:
        return T.StructType(
            [T.StructField("kind", T.StringType())]
            + [batch[k] for k in keys]
            + [
                T.StructField("__state", batch[state_col].dataType),
                T.StructField("__ts", batch[time_col].dataType),
                T.StructField("__tb", batch[tiebreak_col].dataType),
                T.StructField("n_holds", T.LongType()),
                T.StructField("total_dwell_us", T.LongType()),
                T.StructField("max_dwell_us", T.LongType()),
            ]
        )

    def fold(batch_df, batch_id, state, fresh):
        if batch_df.isEmpty():
            return None
        from etl_guiacores_spark.operators.temporal import event_micros

        open0 = state.filter(F.col("kind") == "open").select(
            *keys, "__state", "__ts", "__tb"
        )
        agg0 = state.filter(F.col("kind") == "agg").select(
            F.col("__state").alias(state_col),
            "n_holds",
            "total_dwell_us",
            "max_dwell_us",
        )
        # the open hold IS the key's last processed event
        _check_key_order(
            batch_df,
            open0.select(
                *keys,
                F.col("__ts").alias("ts_last"),
                F.col("__tb").alias("tb_last"),
            ),
            keys,
            time_col,
            tiebreak_col,
            batch_id,
            "state_dwell_stream",
        )
        rows = batch_df.select(
            *keys,
            F.col(state_col).alias("__state"),
            F.col(time_col).alias("__ts"),
            F.col(tiebreak_col).alias("__tb"),
        )

        combined = open0.unionByName(rows)
        m = event_micros(combined, "__ts")
        w = Window.partitionBy(*keys).orderBy("__ts", "__tb")
        path = combined.select(
            *keys,
            "__state",
            "__ts",
            "__tb",
            (F.lead(m).over(w) - m).alias("__dwell"),
        )
        closed = path.filter(F.col("__dwell").isNotNull())
        batch_agg = closed.groupBy(
            F.col("__state").alias(state_col)
        ).agg(
            F.count("*").cast("long").alias("n_holds"),
            F.sum("__dwell").cast("long").alias("total_dwell_us"),
            F.max("__dwell").cast("long").alias("max_dwell_us"),
        )
        merged = (
            agg0.unionByName(batch_agg)
            .groupBy(state_col)
            .agg(
                F.sum("n_holds").cast("long").alias("n_holds"),
                F.sum("total_dwell_us").cast("long").alias(
                    "total_dwell_us"
                ),
                F.max("max_dwell_us").cast("long").alias("max_dwell_us"),
            )
        )
        report = merged.select(
            state_col,
            "n_holds",
            "total_dwell_us",
            F.expr("total_dwell_us div n_holds").cast("long").alias(
                "mean_dwell_us"
            ),
            "max_dwell_us",
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        # new state: each key's LAST event is the new open hold
        # (max_by over the injective (ts, tb) order), plus the merged
        # per-state aggregates
        ordk = F.struct("__ts", "__tb")
        new_open = path.groupBy(*keys).agg(
            F.max_by("__state", ordk).alias("__state"),
            F.max_by("__ts", ordk).alias("__ts"),
            F.max_by("__tb", ordk).alias("__tb"),
        )
        snap = new_open.select(
            F.lit("open").alias("kind"),
            *keys,
            "__state",
            "__ts",
            "__tb",
            F.lit(None).cast("long").alias("n_holds"),
            F.lit(None).cast("long").alias("total_dwell_us"),
            F.lit(None).cast("long").alias("max_dwell_us"),
        ).unionByName(
            merged.select(
                F.lit("agg").alias("kind"),
                *[
                    F.lit(None).cast(
                        state.schema[k].dataType.simpleString()
                    ).alias(k)
                    for k in keys
                ],
                F.col(state_col).alias("__state"),
                F.lit(None).cast(
                    state.schema["__ts"].dataType.simpleString()
                ).alias("__ts"),
                F.lit(None).cast(
                    state.schema["__tb"].dataType.simpleString()
                ).alias("__tb"),
                "n_holds",
                "total_dwell_us",
                "max_dwell_us",
            )
        )
        return report, snap

    return _fold_stream(
        events, out_dir, "state_dwell_stream", state_schema, fold,
        checkpoint_dir, keep_snapshots,
    )


def read_state_dwell(
    spark: SparkSession, out_dir: str, state_col: str
) -> DataFrame:
    """Current cumulative report: latest batch's row per state (the
    shared read_latest_upsert merge, |states|-bounded). Matches the
    batch ``state_dwell`` output columns."""
    return read_latest_upsert(spark, out_dir, [state_col])
