"""Streaming Holt smoothing — the stream twin of
``operators/rollup_time.holt_smooth`` (q170), completing the §2.10
parity set alongside the OHLC and CUSUM stream twins.

The batch operator folds each key's ordered series in-plan from a
NULL seed. The stream version carries exactly the recurrence's state
between micro-batches — (level, trend) per key, two BIGINTs, plus
the key's last (time, tiebreak), never row history — and folds each
micro-batch's rows FROM that carried seed through the identical
blocked two-level scan (the ``seed_sql`` parameter of the batch
helpers), so the concatenated outputs are bit-identical to running
``holt_smooth`` over the full history: equivalence-tested in
tests/test_streaming.py.

Delivery contract: the CUSUM twin's per-key (event-time, tiebreak)
order across batches, enforced by the shared guard. Snapshots, replay and pruning
follow the protocol in ``streaming/snapshots.py``. State at 100 TB is
one row per key, shuffled like any keyed join.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_guiacores_spark.streaming.snapshots import (
    _check_key_order,
    _fold_stream,
    _keyed_state_schema,
)


OP = "holt_smooth_stream"

def holt_smooth_stream(
    events: DataFrame,
    out_dir: str,
    key_cols: Sequence[str],
    value_micro: Column | str,
    alpha_ppm: int = 200_000,
    beta_ppm: int = 100_000,
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
    checkpoint_dir: str | None = None,
    keep_snapshots: int = 3,
):
    """Start the streaming Holt (level+trend) smoother over ``events``
    (a streaming DataFrame). Per-batch outputs land in
    ``out_dir/out/batch=<id>`` with the batch operator's columns
    (keys + ts, tiebreak, v_micro, level_micro, trend_micro); state
    snapshots in ``out_dir/state/batch=<id>``. Returns the
    StreamingQuery."""
    from etl_guiacores_spark.operators.rollup_time import (
        _holt_block_seeds_expr,
        _holt_scan_expr,
    )

    if not 0 < alpha_ppm <= 1_000_000:
        raise ValueError("alpha_ppm must be in (0, 1e6]")
    if not 0 < beta_ppm <= 1_000_000:
        raise ValueError("beta_ppm must be in (0, 1e6]")
    keys = list(key_cols)
    a, b = alpha_ppm, 1_000_000 - alpha_ppm
    g, h = beta_ppm, 1_000_000 - beta_ppm
    val = F.col(value_micro) if isinstance(value_micro, str) else value_micro

    def fold(batch_df, batch_id, state, fresh):
        if batch_df.isEmpty():
            return None
        rows = batch_df.select(
            *keys,
            F.col(time_col).alias("__ts"),
            F.col(tiebreak_col).alias("__tb"),
            val.cast("long").alias("__v"),
        )
        _check_key_order(
            batch_df, state, keys, time_col, tiebreak_col, batch_id, OP
        )
        grouped = (
            rows.groupBy(*keys)
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("__ts", "__tb", "__v"))
                ).alias("__arr")
            )
            .withColumn("__vals", F.expr("transform(__arr, x -> x.__v)"))
            .join(F.broadcast(state), keys, "left")
        )
        seed = "named_struct('l', level, 't', trend)"
        scanned = grouped.withColumn(
            "__bseeds",
            F.expr(
                _holt_block_seeds_expr("__vals", a, b, g, h, seed_sql=seed)
            ),
        ).withColumn(
            "__s", F.expr(_holt_scan_expr("__vals", "__bseeds", a, b, g, h))
        )
        exploded = scanned.select(
            *keys,
            F.explode(F.arrays_zip("__arr", F.col("__s").alias("__st")))
            .alias("__z"),
        ).select(
            *keys,
            F.col("__z.__arr.__ts").alias(time_col),
            F.col("__z.__arr.__tb").alias(tiebreak_col),
            F.col("__z.__arr.__v").alias("v_micro"),
            F.col("__z.__st.l").alias("level_micro"),
            F.col("__z.__st.t").alias("trend_micro"),
        )
        ordk = F.struct(F.col(time_col), F.col(tiebreak_col))
        new_state = exploded.groupBy(*keys).agg(
            F.max_by("level_micro", ordk).cast("long").alias("level"),
            F.max_by("trend_micro", ordk).cast("long").alias("trend"),
            F.max(time_col).alias("ts_last"),
            F.max_by(tiebreak_col, ordk).alias("tb_last"),
        )
        carried = state.join(new_state.select(*keys), keys, "left_anti")
        return exploded, carried.unionByName(new_state)

    state_schema = _keyed_state_schema(
        keys, ("level", "trend"), time_col, tiebreak_col
    )
    return _fold_stream(
        events, out_dir, OP, state_schema, fold, checkpoint_dir,
        keep_snapshots,
    )
