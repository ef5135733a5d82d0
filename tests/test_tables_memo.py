"""The load_table plan memo must reuse the lazy handle, not results.

Round-13 optimization: load_table memoizes the DataFrame (an immutable
lazy plan) per (session, sf_dir, table) to cut per-query rebuild
chatter. The memo must (a) hand back the identical object on a repeat
call, (b) keep results identical to a fresh read, and (c) key on the
sf_dir so different scale factors never share a plan.
"""

from __future__ import annotations

from etl_guiacores_spark.sources import tables as tbl

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def test_repeat_call_returns_same_plan_object(spark):
    a = tbl.load_table(spark, "documents", SF_A)
    b = tbl.load_table(spark, "documents", SF_A)
    assert a is b


def test_sf_dirs_do_not_share_plans(spark):
    a = tbl.load_table(spark, "orders", SF_A)
    b = tbl.load_table(spark, "orders", SF_B)
    assert a is not b
    assert a.count() != b.count()  # sf0.001 vs sf0.01 row counts differ


def test_memoized_plan_matches_fresh_read(spark):
    memoized = tbl.load_table(spark, "lineitem", SF_A)
    fresh = spark.read.parquet(f"{SF_A}/lineitem.parquet")
    assert memoized.columns == fresh.columns
    assert memoized.count() == fresh.count()


def test_stale_session_id_never_serves_foreign_plan(spark):
    # simulate an id() collision from a recycled session object: the
    # memo stores the owning session and must miss when it differs
    key = (id(spark), SF_A, "region")
    df = tbl.load_table(spark, "region", SF_A)
    assert tbl._TABLE_PLANS[key] == (spark, df)
    tbl._TABLE_PLANS[key] = (object(), df)  # poison: wrong owner
    try:
        again = tbl.load_table(spark, "region", SF_A)
        assert again.count() == df.count()  # rebuilt, not served stale
    finally:
        tbl._TABLE_PLANS.pop(key, None)


def test_table_row_count_matches_spark_count(spark):
    # footer-only count must agree with an actual scan, and memoize
    for name in ("events", "region"):
        n_meta = tbl.table_row_count(name, SF_A)
        n_scan = tbl.load_table(spark, name, SF_A).count()
        assert n_meta == n_scan
        assert tbl._TABLE_ROWS[(SF_A, name)] == n_meta
    # distinct sf_dirs do not share counts
    assert tbl.table_row_count("events", SF_A) != tbl.table_row_count(
        "events", SF_B
    )


def test_table_row_count_rejects_unknown_table():
    import pytest

    with pytest.raises(KeyError):
        tbl.table_row_count("nope", SF_A)


def test_table_row_count_rejects_nested_layout(tmp_path):
    # part files one level down (a partitioned layout) must fail
    # loudly, not count 0 rows
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    part = tmp_path / "events.parquet" / "day=1"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"event_id": [0, 1, 2]}), part / "part-0.parquet")
    with pytest.raises(FileNotFoundError):
        tbl.table_row_count("events", str(tmp_path))
