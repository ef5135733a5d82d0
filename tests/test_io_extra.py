"""IO parity helpers: CSV consolidation, JSON round-trip, stats, audit."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_guiacores_spark import io as gio


def test_csv_consolidation_scan(spark, tmp_path):
    # S9: two run CSVs -> one union scan
    a = spark.createDataFrame([("1", "x")], ["id_negocio", "nombre"])
    b = spark.createDataFrame([("2", "y")], ["id_negocio", "nombre"])
    a.write.option("header", True).csv(str(tmp_path / "runs" / "r1"))
    b.write.option("header", True).csv(str(tmp_path / "runs" / "r2"))
    got = gio.read_processed_csvs(spark, str(tmp_path / "runs" / "*"))
    assert got.count() == 2
    assert sorted(r["id_negocio"] for r in got.collect()) == ["1", "2"]


def test_json_round_trip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    gio.write_json(df, str(tmp_path / "j"))
    back = gio.read_json(spark, str(tmp_path / "j"))
    assert {(r["k"], r["v"]) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_stats_and_audit(spark, tmp_path):
    gio.write_stats_json({"records": 5, "errors": 0}, str(tmp_path / "stats.json"))
    assert json.load(open(tmp_path / "stats.json"))["records"] == 5

    gio.append_audit_log(spark, str(tmp_path / "audit"), status="success", records=5)
    gio.append_audit_log(spark, str(tmp_path / "audit"), status="warning", records=0)
    log = gio.read_json(spark, str(tmp_path / "audit"))
    assert log.count() == 2
    entries = [json.loads(r["entry"]) for r in log.collect()]
    assert {e["status"] for e in entries} == {"success", "warning"}
    assert all("logged_at" in e for e in entries)


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A partition-column filter must prune at planning time
    (PartitionFilters on the scan), not post-read."""
    import os

    from etl_guiacores_spark.io import write_partitioned
    from etl_guiacores_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text", "source"
    )
    out = str(tmp_path / "docs_by_source")
    write_partitioned(docs, out, ["source"], max_records_per_file=1000)
    # hive layout on disk
    dirs = [d for d in os.listdir(out) if d.startswith("source=")]
    assert len(dirs) == docs.select("source").distinct().count()

    back = spark.read.parquet(out).filter("source = 'src3'")
    n = back.count()
    assert n == docs.filter("source = 'src3'").count() and n > 0
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "src3" in plan


def test_orc_roundtrip(spark, tmp_path):
    from etl_guiacores_spark.io import read_orc, write_orc
    from etl_guiacores_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out)
    back = read_orc(spark, out)
    assert back.schema == docs.schema
    assert back.count() == docs.count()
    # predicate pushdown reaches the ORC scan like parquet
    plan = (
        back.filter("doc_id = 7")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "doc_id" in plan


def test_binary_file_ingest_feeds_multimodal(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_guiacores_spark.io import read_binary_files
    from etl_guiacores_spark.operators.multimodal import extract_media_features

    assets = tmp_path / "assets"
    assets.mkdir()
    payloads = {f"img_{i}.jpg": bytes([i]) * (100 + i) for i in range(5)}
    (assets / "notes.txt").write_bytes(b"not media")
    for name, data in payloads.items():
        (assets / name).write_bytes(data)

    raw = read_binary_files(spark, str(assets), glob="*.jpg")
    assert raw.count() == 5  # pathGlobFilter pruned the .txt

    media = raw.select(
        F.regexp_extract("path", r"img_(\d+)\.jpg", 1).cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content").alias("payload"),
    )
    feats = extract_media_features(media).collect()
    assert len(feats) == 5
    by_id = {r.media_id: r for r in feats}
    for i in range(5):
        assert by_id[i].n_bytes == 100 + i
        assert by_id[i].decode_error is None
        assert by_id[i].width is not None


def test_xml_roundtrip(spark, tmp_path):
    from etl_guiacores_spark.io import read_xml, write_xml
    from etl_guiacores_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = str(tmp_path / "docs_xml")
    write_xml(docs, out, row_tag="doc")
    back = read_xml(spark, out, row_tag="doc")
    assert sorted(back.columns) == sorted(docs.columns)
    assert back.count() == docs.count()
    # values survive: spot-compare one row end-to-end
    a = docs.filter("doc_id = 3").collect()[0]
    b = back.filter("doc_id = 3").collect()[0]
    assert (a.lang, a.source, a.n_chars) == (b.lang, b.source, b.n_chars)


#: each path form the storage helpers take: a plain path and its file:// URI
PATH_FORMS = (("plain", str), ("uri", lambda p: p.as_uri()))


class TestCompactParquet:
    def test_compaction_reduces_files_and_preserves_rows(self, spark, tmp_path):
        from etl_guiacores_spark.io import compact_parquet
        import glob

        for form, as_path in PATH_FORMS:
            local = str(tmp_path / form / "frag")
            p = as_path(tmp_path / form / "frag")
            # simulate fine-grained appends: 20 tiny files
            for i in range(20):
                spark.range(i * 10, i * 10 + 10).withColumn(
                    "v", F.col("id") * 2
                ).coalesce(1).write.mode("append").parquet(p)
            before = len(glob.glob(f"{local}/*.parquet"))
            assert before >= 20
            n = compact_parquet(spark, p, target_records_per_file=200)
            assert n == 200
            after = len(glob.glob(f"{local}/*.parquet"))
            assert after < before
            back = spark.read.parquet(p)
            assert back.count() == 200
            assert back.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(200))
            # no leftover staging dirs
            assert not glob.glob(f"{local}.__commit_*")

    def test_mid_swap_crash_rolls_back_on_next_call(self, spark, tmp_path, monkeypatch):
        """A crash between the swap's two renames leaves the table only
        in its rollback copy; the next compaction restores it first and
        loses no row."""
        import glob
        import os

        import pytest

        p = str(tmp_path / "crash")
        for i in range(5):
            spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(p)
        real_rename = gio._rename
        calls = {"n": 0}

        def crashing_rename(spark_, src, dst):
            calls["n"] += 1
            if calls["n"] == 2:  # after table -> old, before tmp -> table
                raise RuntimeError("simulated crash mid-swap")
            real_rename(spark_, src, dst)

        monkeypatch.setattr(gio, "_rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            gio.compact_parquet(spark, p, target_records_per_file=100)
        monkeypatch.setattr(gio, "_rename", real_rename)
        assert not os.path.isdir(p) and os.path.isdir(f"{p}.__commit_old__")

        assert gio.compact_parquet(spark, p, target_records_per_file=100) == 50
        back = spark.read.parquet(p)
        assert sorted(r["id"] for r in back.collect()) == list(range(50))
        assert len(glob.glob(f"{p}/*.parquet")) == 1
        assert not glob.glob(f"{p}.__commit_*")

    def test_sorted_compaction_clusters_ranges(self, spark, tmp_path):
        from etl_guiacores_spark.io import compact_parquet
        import pyarrow.parquet as pq
        import glob

        p = str(tmp_path / "frag2")
        # shuffled writes: each file spans the whole id range
        spark.range(0, 1000).withColumn("k", F.pmod(F.col("id") * 7919, F.lit(1000))) \
            .repartition(8).write.mode("overwrite").parquet(p)
        compact_parquet(spark, p, target_records_per_file=300, sort_cols=["k"])
        files = glob.glob(f"{p}/*.parquet")
        spans = []
        for f in files:
            t = pq.read_table(f, columns=["k"])["k"].to_pylist()
            if t:
                spans.append((min(t), max(t)))
        # range-partitioned files must not all overlap: total span
        # covered by each file is a fraction of the domain
        spans.sort()
        overlaps = sum(
            1 for (a1, b1), (a2, b2) in zip(spans, spans[1:]) if b1 > a2
        )
        assert overlaps == 0, spans
        assert spark.read.parquet(p).count() == 1000


class TestDeleteKeys:
    def test_only_affected_files_rewritten(self, spark, tmp_path):
        from etl_guiacores_spark.io import delete_keys
        import glob

        for form, as_path in PATH_FORMS:
            local = str(tmp_path / form / "t")
            p = as_path(tmp_path / form / "t")
            # 4 files with disjoint key ranges
            for lo in (0, 100, 200, 300):
                spark.range(lo, lo + 100).withColumn("v", F.col("id") * 10) \
                    .coalesce(1).write.mode("append").parquet(p)
            files_before = set(glob.glob(f"{local}/*.parquet"))
            assert len(files_before) == 4
            keys = spark.createDataFrame([(105,), (150,)], "id long")
            res = delete_keys(spark, p, "id", keys)
            assert res == {"files_rewritten": 1, "rows_deleted": 2}
            files_after = set(glob.glob(f"{local}/*.parquet"))
            # three untouched files survive byte-identical (same names)
            assert len(files_before & files_after) == 3
            back = spark.read.parquet(p)
            assert back.count() == 398
            assert back.filter(F.col("id").isin(105, 150)).count() == 0
            # non-deleted row in the rewritten file survives with its value
            assert back.filter(F.col("id") == 101).first()["v"] == 1010
            assert not glob.glob(f"{local}.__delete_*")

    def test_no_affected_files_is_noop(self, spark, tmp_path):
        from etl_guiacores_spark.io import delete_keys
        import glob

        p = str(tmp_path / "t2")
        spark.range(0, 50).coalesce(1).write.parquet(p)
        before = sorted(glob.glob(f"{p}/*.parquet"))
        res = delete_keys(spark, p, "id", spark.createDataFrame([(999,)], "id long"))
        assert res == {"files_rewritten": 0, "rows_deleted": 0}
        assert sorted(glob.glob(f"{p}/*.parquet")) == before

    def test_partitioned_layout_is_rejected(self, spark, tmp_path):
        import pytest

        from etl_guiacores_spark.io import delete_keys, write_partitioned

        p = str(tmp_path / "t3")
        df = spark.range(0, 20).withColumn("part", (F.col("id") % 2).cast("string"))
        write_partitioned(df, p, ["part"])
        with pytest.raises(ValueError, match="flat parquet directory"):
            delete_keys(spark, p, "id", spark.createDataFrame([(3,)], "id long"))

    def test_key_filter_pushes_into_scan(self, spark, tmp_path):
        """The affected-file discovery must push the key predicate into
        the parquet scan (PushedFilters In(...)), not evaluate a join
        after reading everything."""
        from etl_guiacores_spark.io import delete_keys  # noqa: F401

        p = str(tmp_path / "t4")
        spark.range(0, 100).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        plan = (
            df.filter(F.col("id").isin([3, 5]))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PushedFilters" in plan and "In(id" in plan, plan
