"""Bucketed join: the plan must elide both shuffles."""

from __future__ import annotations

from etl_guiacores_spark.operators.bucketing import write_bucketed


def test_bucketed_join_has_no_shuffle(spark):
    a = spark.range(0, 1000).selectExpr("id as k", "id * 2 as va")
    b = spark.range(0, 1000).selectExpr("id as k", "id * 3 as vb")
    write_bucketed(a, "bkt_a", "k", num_buckets=4)
    write_bucketed(b, "bkt_b", "k", num_buckets=4)
    try:
        joined = spark.table("bkt_a").hint("merge").join(spark.table("bkt_b"), "k")
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the whole point: bucket-aligned scans, zero shuffle exchanges
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_unbucketed_join_does_shuffle(spark):
    # contrast: the same join without bucketing plans exchanges
    a = spark.range(0, 1000).selectExpr("id as k", "id * 2 as va")
    b = spark.range(0, 1000).selectExpr("id as k", "id * 3 as vb")
    plan = (
        a.hint("merge").join(b, "k")._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" in plan
