"""Streaming CUSUM drift monitor — the stream twin of
``operators/funnel.cusum_drift`` (q142).

The batch form eliminates the clamped recurrence
S_t = max(0, S_{t-1} + dev_t) via its closed form
S_t = P_t - min(0, min_{j<=t} P_j) over deviation prefix sums. That
closed form is also what makes the STREAM version cheap: the only
state a key needs between micro-batches is the pair
(p_last = P at its last seen row, p_min = min prefix so far) — two
BIGINTs, not the row history. Each micro-batch computes its own
LOCAL prefix/running-min windows (per-key parallel, the exact batch
plan) and shifts them by the carried state:

    P_t      = p_last_prev + localP_t
    minP_t   = min(p_min_prev, p_last_prev + localMin_t)
    cusum_t  = P_t - min(0, minP_t)

which is algebraically identical to running the batch operator over
the concatenated history — equivalence-tested against it in
tests/test_streaming.py.

Delivery contract (the same one every recurrence-over-a-stream
carries, incl. the carry-select EWMA): rows must arrive in
(event-time, tiebreak) order PER KEY across micro-batches — a row at
or before its key's last processed event would need history rewrite,
so it raises rather than silently corrupting the statistic. Order WITHIN a batch is free (the
local window sorts); use an upstream watermark + sorted replay for
out-of-order sources.

State: one row per key, (p_last, p_min) plus the key's last
(time, tiebreak) for the order guard; it shuffles on the key like any
keyed join. Snapshots, replay and pruning follow the protocol in
``streaming/snapshots.py``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_guiacores_spark.streaming.snapshots import (
    _check_key_order,
    _fold_stream,
    _keyed_state_schema,
)


OP = "cusum_drift_stream"

def cusum_drift_stream(
    events: DataFrame,
    out_dir: str,
    key_cols: Sequence[str],
    value_micro: Column | str,
    target_micro: int,
    slack_micro: int,
    threshold_micro: int,
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
    checkpoint_dir: str | None = None,
    keep_snapshots: int = 3,
):
    """Start the streaming CUSUM monitor over ``events`` (a streaming
    DataFrame). Per-batch outputs land in ``out_dir/out/batch=<id>``
    with the batch operator's exact columns (input keys + ts,
    cusum_micro, drift_flag); state snapshots in
    ``out_dir/state/batch=<id>``. Returns the StreamingQuery."""
    keys = list(key_cols)
    dev = (
        (F.col(value_micro) if isinstance(value_micro, str) else value_micro)
        - F.lit(target_micro)
        - F.lit(slack_micro)
    ).cast("long")

    def fold(batch_df, batch_id, state, fresh):
        if batch_df.isEmpty():
            return None
        _check_key_order(
            batch_df, state, keys, time_col, tiebreak_col, batch_id, OP
        )
        w = (
            Window.partitionBy(*keys)
            .orderBy(time_col, tiebreak_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        local = (
            batch_df.withColumn("__lp", F.sum(dev).over(w))
            .withColumn("__lmin", F.min("__lp").over(w))
        )
        shifted = (
            local.join(F.broadcast(state), keys, "left")
            .withColumn(
                "__p", F.coalesce("p_last", F.lit(0)) + F.col("__lp")
            )
            .withColumn(
                "__pmin",
                F.least(
                    F.coalesce("p_min", F.lit(None).cast("long")),
                    F.coalesce("p_last", F.lit(0)) + F.col("__lmin"),
                ),
            )
            .withColumn(
                "cusum_micro",
                (F.col("__p") - F.least(F.lit(0), F.col("__pmin"))).cast(
                    "long"
                ),
            )
            .withColumn("drift_flag", F.col("cusum_micro") > threshold_micro)
        )
        # new per-key state from what was just computed: last-row P and
        # running min at the last row (which is min over ALL rows seen)
        ordk = F.struct(F.col(time_col), F.col(tiebreak_col))
        new_state = shifted.groupBy(*keys).agg(
            F.max_by("__p", ordk).cast("long").alias("p_last"),
            F.max_by("__pmin", ordk).cast("long").alias("p_min"),
            F.max(time_col).alias("ts_last"),
            F.max_by(tiebreak_col, ordk).alias("tb_last"),
        )
        carried = state.join(new_state.select(*keys), keys, "left_anti")
        return (
            shifted.select(*batch_df.columns, "cusum_micro", "drift_flag"),
            carried.unionByName(new_state),
        )

    state_schema = _keyed_state_schema(
        keys, ("p_last", "p_min"), time_col, tiebreak_col
    )
    return _fold_stream(
        events, out_dir, OP, state_schema, fold, checkpoint_dir,
        keep_snapshots,
    )
