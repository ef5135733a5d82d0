"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``etl_guiacores_spark.queries.REGISTRY``: the driver
runs ``entry(spark)`` as a smoke check, runs each ``queries()[name]``
at sf=0.01 and compares against ``oracle_sql()[name]`` via DuckDB
(row-count + schema + order-insensitive value-hash).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_guiacores_spark.harness import load_registry
from etl_guiacores_spark.session import configure_session

REGISTRY = load_registry()

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver's CORRECTNESS artifact truncates at 50 rows, so the order
# in which queries() yields names decides which queries get a fresh
# driver confirmation each round. generate() below derives that order
# from the CORRECTNESS_r*.json history next to this file on every call,
# so a newly dropped artifact moves the order with it and no committed
# list can go stale. Every row is also re-verified locally every round
# (tools/check_oracle.py at sf0.01 AND sf0.1).
HERE = os.path.dirname(os.path.abspath(__file__))


def last_green_rounds(directory: str = HERE) -> dict[str, int]:
    """Latest round with a green driver row, per query name."""
    hist: dict[str, int] = {}
    for path in glob.glob(os.path.join(directory, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            green = bool(row.get("hash_match")) or (
                bool(row.get("rows_match")) and row.get("err") is None
            )
            if green:
                hist[name] = max(hist.get(name, 0), rnd)
    return hist


def _qnum(name: str) -> int:
    """Numeric id from a registry name (``q101_pagerank`` → 101)."""
    return int(re.match(r"q(\d+)", name).group(1))


#: Queries whose IMPLEMENTATION changed in a given round — maintained
#: by the round that touches them. A name whose touched round is LATER
#: than its last driver-green round carries re-verification debt that
#: outranks ordinary staleness (the r13 verdict, item 5: the driver's
#: rotating 50-row window must re-hash a changed query before plain
#: stale rows). Entries become inert once the driver re-confirms the
#: query (last green >= touched round) and are then deleted.
TOUCHED_SINCE: dict[str, int] = {
    # round 15: q127's footer sizing estimate counts id 0; hll_audit
    # drops a NULL group as q175's oracle does
    "q127_ewma_global": 15,
    "q175_hll_audit": 15,
    # round 15: the graph operators' one-fetch driver-local gate and
    # Arrow-backed local results (every query reaching CC, PageRank or
    # k-core)
    "q62_dedup_clusters": 15,
    "q90_cluster_representatives": 15,
    "q101_pagerank_neardup": 15,
    "q110_entity_resolution": 15,
    "q118_qgram_entity_resolution": 15,
    "q120_leakage_safe_split": 15,
    "q162_kcore_dedup": 15,
    "q181_cluster_cohesion": 15,
    # round 15: the chunked text queries read prechunk_documents rows
    # (the in-task salted operators are gone)
    "q196_salted_quality_lang": 15,
    "q197_salted_gopher": 15,
    "q200_prechunked_span_strip": 15,
    # round 15: the near-dup queries call the corpus pipeline's
    # near_dup_pairs (one signature pass, one verify)
    "q50_corpus_dedup_survivors": 15,
    "q85_split_leakage": 15,
    # round 15: qgram_match_pairs is one SQL text (q118, listed above,
    # reaches it through resolve_entities too)
    "q116_qgram_fuzzy_join": 15,
    # round 15: daily_acquisition_stream folds through the shared
    # snapshot driver (streaming/snapshots.py)
    "q199_streaming_acquisition_twin": 15,
}


def debt_key(name: str, hist: dict[str, int]) -> tuple:
    """Sort key encoding driver-verification debt: (group, last-green
    round, numeric id, name). Group 0 = never driver-confirmed (new-row
    debt leads), group 1 = implementation touched AFTER the last green
    round (changed-code debt), group 2 = ordinary staleness."""
    last = hist.get(name, -1)
    if last < 0:
        group = 0
    elif TOUCHED_SINCE.get(name, -1) > last:
        group = 1
    else:
        group = 2
    return (group, last, _qnum(name), name)


def generate(directory: str = HERE) -> list[str]:
    """Full registry ordering by driver-verification debt (debt_key).

    The tie-break is the numeric query id, NOT registry insertion
    order: that order is whatever the first importer of the query
    modules happened to use, so it differs between a CLI run and a
    pytest run that imported one query module first.
    """
    hist = last_green_rounds(directory)
    return sorted(REGISTRY, key=lambda n: debt_key(n, hist))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary, TPC-H Q1 shape) on sf0.001."""
    configure_session(spark)
    return REGISTRY["q01_pricing_summary"].fn(spark, SMOKE_SF_DIR)


def _run(
    fn: Callable[[SparkSession, str], DataFrame], spark: SparkSession, sf_dir: str
) -> DataFrame:
    configure_session(spark)
    # reclaim the PREVIOUS query's persisted tables before building
    # this one: several queries stage persist()ed relations (the
    # MinHash/LSH family, q137/q200/q92) and hand cache ownership to
    # the caller; a 203-query driver correctness session would
    # otherwise accumulate every entry (MEMORY_AND_DISK spills rather
    # than OOMs, but the pressure slows the driver's own run — r13
    # verdict item 8). The previous query's result was collected
    # before the next query is called, so nothing live is dropped;
    # recomputation cost is nil because each query re-persists what it
    # needs.
    spark.catalog.clearCache()
    return fn(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: functools.partial(_run, REGISTRY[name].fn) for name in generate()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted -> rows-only check)."""
    return {
        name: REGISTRY[name].oracle
        for name in generate()
        if REGISTRY[name].oracle is not None
    }
