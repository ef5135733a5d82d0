"""SparkSession factory with deterministic, scale-aware defaults.

The reference hard-codes a 4-process pool and fixed chunk sizes
(reference: src/common/config.py:71-80, src/main.py:241-253); here
parallelism is Spark partitioning and every knob that affects plan
shape or result hashing is pinned:

- ``spark.sql.session.timeZone=UTC``: parquet timestamps compare
  bit-stably against the DuckDB oracle.
- AQE on: runtime coalescing + skew-join handling — the 100 TB
  story relies on it.
- Arrow on: every Pandas-UDF boundary is vectorized.
- shuffle partitions sized to cores for local runs; a real cluster
  deployment overrides via ``extra_conf`` (AQE coalesces anyway).
- generated-code cache of ``CODEGEN_CACHE_ENTRIES``: Spark's default
  of 100 classes is below every working set here (a perfbench
  ``query_mix`` pass compiles ~130 classes, a golden corpus run ~300,
  one pass over the full registry at sf0.001 ~2,550 cache entries),
  so the LRU evicted everything and each repeated plan recompiled
  every class with Janino and JIT-warmed it again. The cache is built
  once per JVM from a STATIC conf, so it is set on the builder before
  the first session starts; a runtime ``conf.set`` cannot reach it.
- generated class names without the codegen stage id
  (``spark.sql.codegen.useIdInClassName=false``): AQE numbers stages
  in the order it plans them, so with the id in the name a repeated
  plan missed the cache with byte-identical code (a repeated golden
  run recompiled 6, a repeated sf0.001 registry pass 108 classes; 0
  and 20 without the id; SCALE.md "compile once per JVM").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


#: holds the full registry's two-pass working set (~2,640 entries) with
#: headroom; see the module docstring
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "etl-guiacores-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # nanosecond parquet timestamps (events table) read as long;
        # sources.tables converts them back to TimestampType
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    from etl_guiacores_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Pin result-affecting conf on an externally created session.

    The verification driver owns its own SparkSession; only settings
    that are safe to change at runtime are applied here. The static
    ``spark.sql.codegen.cache.maxEntries`` is not among them: a session
    created elsewhere keeps Spark's 100-entry codegen cache.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from etl_guiacores_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    return spark


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """A small driver-built DataFrame of ``rows`` (tuples in ``schema``
    order), handed to Spark as a ``pyarrow.Table``.

    It plans as a ``LocalTableScan``, also when empty. A
    ``createDataFrame(list)`` plans as a Python-RDD scan (``Scan
    ExistingRDD``) that unpickles its rows in Python workers on every
    evaluation — the boundary crossing that dominates a small result."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
