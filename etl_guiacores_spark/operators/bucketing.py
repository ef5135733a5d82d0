"""Bucketed (pre-shuffled) tables for co-located joins.

At 100 TB, the dominant cost of a repeated big-big join is re-shuffling
both sides on every run. Bucketing pays the shuffle ONCE at write
time: both tables are hash-partitioned into the same number of buckets
on the join key, so subsequent joins read bucket-aligned splits and
plan a SortMergeJoin with NO exchange on either side.

This is the engine's answer to the reference's fixed worker/chunk
partitioning (reference: src/common/config.py:71-80) for the case
where the partitioning should outlive one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame, table: str, key: str, num_buckets: int = 16
) -> None:
    """Persist as a bucketed+sorted managed table (one-time shuffle)."""
    (
        df.write.bucketBy(num_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
