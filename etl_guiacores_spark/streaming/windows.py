"""Structured Streaming window/dedupe surface (SURVEY §2.10).

The reference is batch-only; these transformations define the
engine's streaming semantics on the ``events`` shape
(event_id, ts, user_id, event_type, value). Each builder works on
BOTH a batch DataFrame and a streaming DataFrame — the watermark is a
no-op in batch mode — so the batch oracle queries (q30-q33) verify
the same logic the stream runs.

State-at-scale notes:
- every windowed agg below bounds its state with ``withWatermark``;
  unbounded keyed state is the streaming analog of an unpartitioned
  shuffle — it eventually OOMs the state store.
- ``dropDuplicates`` on (key, window-bucketed time) keeps the dedupe
  state bounded too (plain key-only dedupe would grow forever).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame, size: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", size).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", size, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time session windows (gap-close semantics); the batch
    twin is q32's lag+cumsum sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_dedupe(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Keyed dedupe with bounded state — the streaming form of D2
    (reference: src/extractors/sequential_collector.py:591-594).

    Streaming input uses ``dropDuplicatesWithinWatermark``: plain
    ``dropDuplicates`` on non-event-time keys NEVER evicts its state
    (the watermark only cleans dedup state when the event-time column
    is part of the keys), so a long-running stream would grow one
    state entry per key pair forever. The within-watermark form keeps
    exactly-once semantics for duplicates arriving inside the
    watermark delay and bounds state to that horizon — after eviction
    a key CAN re-emit, the documented trade for bounded state. Batch
    input keeps plain ``dropDuplicates`` (no state to bound), which is
    what the q33 oracle twin verifies."""
    keys = keys or ["user_id", "event_type"]
    wm = events.withWatermark("ts", watermark)
    if events.isStreaming:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def ohlc_bars(
    events: DataFrame,
    keys: list[str] | None = None,
    bucket: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of ``operators/rollup_time.ohlc_resample``
    (q139): per (key, event-time bucket) open/high/low/close/count as
    a watermarked native window aggregate — state bounded, bars emit
    in append mode when the watermark closes the bucket. Identical
    aggregate expressions to the batch form (min_by/max_by over the
    (time, tiebreak) STRUCT total order; all outputs SELECTED raw
    values, never float arithmetic), so a closed bar is bit-identical
    to the batch twin's row for the same data —
    equivalence-tested in tests/test_streaming.py."""
    keys = keys or ["event_type"]
    ordk = F.struct(F.col(time_col), F.col(tiebreak_col))
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(*keys, F.window(time_col, bucket).alias("w"))
        .agg(
            F.min_by(value_col, ordk).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, ordk).alias("close"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            *keys,
            F.col("w.start").alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
