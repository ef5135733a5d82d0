"""Sketch aggregates: error bounds against exact answers (sf0.01)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_guiacores_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_frequent_items_contains_true_heavy_hitter(spark):
    o = load_table(spark, "orders", SF_DIR)
    row = o.freqItems(["o_orderpriority"], support=0.15).collect()[0][0]
    true_counts = {
        r["o_orderpriority"]: r["c"]
        for r in o.groupBy("o_orderpriority").agg(F.count("*").alias("c")).collect()
    }
    n = sum(true_counts.values())
    for val, c in true_counts.items():
        if c / n >= 0.15:
            assert val in row  # never under-reports true heavy hitters


def test_count_min_estimates_bounded_overcount(spark):
    from etl_guiacores_spark.operators.sketches import count_min_frequencies

    o = load_table(spark, "orders", SF_DIR)
    probes = [r["o_orderpriority"] for r in o.select("o_orderpriority").distinct().collect()]
    est = count_min_frequencies(o, "o_orderpriority", probes, eps=0.001)
    exact = {
        r["o_orderpriority"]: r["c"]
        for r in o.groupBy("o_orderpriority").agg(F.count("*").alias("c")).collect()
    }
    n = sum(exact.values())
    for p in probes:
        assert est[p] >= exact[p]                 # CM never undercounts
        assert est[p] <= exact[p] + 0.01 * n      # bounded overcount
