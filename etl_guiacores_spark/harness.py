"""One way into the query suite for ``bench.py``, the driver entry and
the measurement tools: load the registry, open a quiet session, warm
it, and time one query through the noop sink.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_guiacores_spark.queries import REGISTRY, QuerySpec
from etl_guiacores_spark.session import get_spark


def load_registry() -> dict[str, QuerySpec]:
    """Import every query module and return the filled registry.

    The import order fixes the registry's iteration order in a fresh
    process, which is the order ``bench.py`` times queries in."""
    import etl_guiacores_spark.queries_extra  # noqa: F401
    import etl_guiacores_spark.queries_eval  # noqa: F401
    import etl_guiacores_spark.queries_analytics  # noqa: F401
    import etl_guiacores_spark.queries_scale  # noqa: F401
    import etl_guiacores_spark.queries_corpus  # noqa: F401

    return REGISTRY


def session(app_name: str) -> SparkSession:
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark: SparkSession, sf_dir: str) -> None:
    """Pay the session's one-time costs before anything is timed."""
    # warm up JVM/codegen/parquet footers so the first timed query
    # isn't charged for session startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # warm up the Python worker pool: the first mapInPandas stage in a
    # session spawns one Python worker per core (~8s on local[32]) —
    # a one-time environment cost, not a property of whichever Arrow
    # query happens to run first (measured: q65 10.7s cold-attributed
    # vs 1.0s steady-state)
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: (pdf for pdf in it), "id long").count()


def run_noop(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> tuple[float, float]:
    """Build one query and execute it into the noop sink, which forces
    the full plan without collecting rows to the driver. Returns
    ``(build_s, total_s)``; ``total_s`` spans build and execution.

    Queries that stage persisted tables (the MinHash/LSH family) hand
    cache ownership to the caller, so the cache is cleared after every
    run: a re-run re-executes the full plan (JVM/codegen warm, not
    cached-data warm) and a long session does not accumulate cache
    pressure."""
    t0 = time.time()
    df = fn(spark, sf_dir)
    t1 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    spark.catalog.clearCache()
    return t1 - t0, t2 - t0
