"""Parquet table catalog over the driver's synthetic star schema.

Scans are plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown, column pruning, and partition pruning for free — the
equivalent of the reference's hand-rolled ``usecols=['id_negocio']``
column-pruned CSV scan (reference: src/extractors/sequential_scraper.py:172)
falls out of ``df.select`` here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: tables whose queries do expensive per-row work (shingling, hashing,
#: vector math) — worth spreading when the scan itself can't parallelize
_SPREAD_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}

#: memo key -> bool; the partition-count probe costs a driver-side
#: plan->RDD conversion, so callers with a stable identity (table +
#: sf_dir + cluster parallelism) decide once per session, not once
#: per query. Parallelism is part of the key so a later session with
#: different cores in the same process re-probes.
_SPREAD_DECISION: dict[tuple, bool] = {}


def spread_narrow_input(
    df: DataFrame, key_col: str, memo_key: tuple | None = None
) -> DataFrame:
    """Hash-repartition ``df`` on ``key_col`` IF its scan parallelism
    is below the cluster's, else pass through untouched.

    Parquet scan parallelism is capped at row-group granularity: a
    corpus landed as few/single-row-group files serializes every
    downstream per-row computation no matter how many cores exist.
    For expensive per-row work (shingling, hashing, vector distance)
    the one-time shuffle is worth it exactly when this fires — the
    input is small relative to the cluster, so the shuffle is cheap.
    At production scale (thousands of row groups) the condition is
    false and no shuffle is added. Catalyst pushes filters and column
    pruning through RepartitionByExpression, so scan pushdown is
    unaffected.

    ``memo_key``: stable identity of the input (e.g. (sf_dir, table));
    when given, the probe result is cached for the session under
    (memo_key, cluster parallelism).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    full_key = (memo_key, target) if memo_key is not None else None
    if full_key is not None and full_key in _SPREAD_DECISION:
        narrow = _SPREAD_DECISION[full_key]
    else:
        narrow = df.rdd.getNumPartitions() < target
        if full_key is not None:
            _SPREAD_DECISION[full_key] = narrow
    if narrow:
        return df.repartition(target, F.col(key_col))
    return df


#: (id(session), sf_dir, name) -> (session, DataFrame). A DataFrame is
#: an immutable LAZY plan handle — sharing one across queries changes
#: no result and caches no data (every action still scans the parquet)
#: — but re-creating it costs a footer read + file listing + the
#: events-ts schema walk in py4j, ~80-100 ms warm. At ~600 load_table
#: calls per full bench run that rebuild chatter was ~10% of the whole
#: suite's wall time. The session object rides along in the value so a
#: recycled id() from a garbage-collected session can never serve a
#: stale plan (same defensive shape as _SPREAD_DECISION's memo).
_TABLE_PLANS: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    cache_key = (id(spark), sf_dir, name)
    hit = _TABLE_PLANS.get(cache_key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    if name == "events":
        # runtime-settable; without it a raw (non-configure_session)
        # SparkSession refuses the nanos-timestamp parquet outright
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS): with
    # spark.sql.legacy.parquet.nanosAsLong it scans as epoch-nanos long;
    # restore TimestampType (microsecond floor) via integer division —
    # double math would lose precision above 2^53 ns.
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    key = _SPREAD_KEYS.get(name)
    if key is not None and key in df.columns:
        df = spread_narrow_input(df, key, memo_key=(sf_dir, name))
    _TABLE_PLANS[cache_key] = (spark, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


#: (sf_dir, name) -> footer row count; parquet metadata is immutable
#: for a given file, so the memo never goes stale within a run
_TABLE_ROWS: dict[tuple[str, str], int] = {}


def table_row_count(name: str, sf_dir: str = DEFAULT_SF_DIR) -> int:
    """Exact row count of a catalog table from parquet FOOTER metadata
    only — a few-ms driver-side read, no Spark job, no data scan.

    For sizing decisions (chunk counts, partition targets) this
    replaces an eager ``df.count()`` that would run a full cluster job
    before the first real action; at 100 TB the difference is a
    footer read vs a complete pass over the table. Handles both a
    single ``<name>.parquet`` file and a flat directory of part files;
    a directory with no top-level part files (a nested, partitioned
    layout) raises FileNotFoundError rather than counting 0 rows."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    key = (sf_dir, name)
    hit = _TABLE_ROWS.get(key)
    if hit is not None:
        return hit
    import glob

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    files = (
        sorted(glob.glob(f"{path}/*.parquet"))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        raise FileNotFoundError(f"no top-level part files under {path}")
    n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    _TABLE_ROWS[key] = n
    return n


#: session id -> the sf_dir its views currently point at
_registered_views: dict[int, str] = {}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` works.

    Memoized on the session's CURRENT sf_dir: the SQL-surface queries
    call this on every invocation, and re-registering all tables
    repeats parquet footer reads plus the narrow-scan spread probes
    for tables the query never touches. Switching sf_dir re-registers
    (the views must follow the data), including switching back."""
    if _registered_views.get(id(spark)) == sf_dir:
        return
    for name in TABLE_NAMES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
    _registered_views[id(spark)] = sf_dir
