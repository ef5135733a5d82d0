"""Shard writer: corpus -> packed training shards + manifest, with the
conservation invariants asserted against the WRITTEN artifact."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_guiacores_spark import io as gio
from etl_guiacores_spark.plans.shard_writer import write_training_shards


def _parquet_mtimes(shards_dir: str) -> dict[str, float]:
    return {
        os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(shards_dir)
        for f in files
        if f.endswith(".parquet")
    }


def test_shards_manifest_and_conservation(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.length(F.trim("text")) > 0
    ).select("doc_id", "text")
    # a plain out_dir and its file:// URI: the writer's swap, markers
    # and stats go through the Hadoop FileSystem, which takes both
    for form, as_path in (("plain", str), ("uri", lambda p: p.as_uri())):
        _check_shards_manifest_and_conservation(
            spark, docs, as_path(tmp_path / form / "shards_out")
        )


def _check_shards_manifest_and_conservation(spark, docs, out):
    stats = write_training_shards(
        docs, out, budget_tokens=128, chunk_tokens=32, overlap=4,
        num_bins=8, sequences_per_shard=50,
    )
    seqs = spark.read.parquet(f"{out}/shards")
    chunks = spark.read.parquet(f"{out}/chunks")
    manifest = {r["shard_id"]: r for r in spark.read.parquet(f"{out}/manifest").collect()}

    # token conservation: packed tokens == chunk tokens
    chunk_tokens = chunks.agg(F.sum("n_chunk_tokens")).first()[0]
    assert stats["total_tokens"] == chunk_tokens
    # chunk-count conservation: every chunk packed exactly once
    n_chunk_rows = chunks.count()
    packed_chunkrefs = seqs.agg(F.sum(F.size("doc_ids"))).first()[0]
    assert packed_chunkrefs == n_chunk_rows == stats["n_chunks"]
    # no sequence over budget
    assert seqs.filter(F.col("n_tokens") > 128).count() == 0
    # global_seq is dense 0..n-1 and token offsets tile
    rows = sorted(
        ((r["global_seq"], r["token_offset"], r["n_tokens"]) for r in seqs.collect())
    )
    assert [g for g, _, _ in rows] == list(range(stats["n_sequences"]))
    run = 0
    for _, off, n in rows:
        assert off == run
        run += n
    assert run == stats["total_tokens"]
    # manifest covers contiguous, disjoint sequence ranges per shard
    covered = 0
    for sid in sorted(manifest):
        m = manifest[sid]
        assert m["first_seq"] == covered
        covered = m["last_seq"] + 1
        assert m["n_sequences"] == m["last_seq"] - m["first_seq"] + 1
        assert m["n_sequences"] <= 50
    assert covered == stats["n_sequences"]
    assert stats["n_shards"] == len(manifest)
    assert 0 < stats["fill_ratio"] <= 1.0


def test_empty_corpus(spark, tmp_path):
    docs = spark.createDataFrame([], "doc_id long, text string")
    stats = write_training_shards(docs, str(tmp_path / "empty_out"))
    assert stats["n_sequences"] == 0 and stats["n_shards"] == 0
    assert stats["fill_ratio"] == 0.0


def test_append_continues_global_stream_without_rewrites(spark, tmp_path):
    """Append must (a) never touch landed shard files, (b) keep
    global_seq dense and token offsets tiling across the COMBINED
    artifact, (c) extend the manifest coherently."""
    import pytest

    from etl_guiacores_spark.plans.shard_writer import append_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.length(F.trim("text")) > 0
    ).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    out = str(tmp_path / "shards_inc")
    kw = dict(budget_tokens=128, chunk_tokens=32, overlap=4,
              num_bins=8, sequences_per_shard=50)
    b_stats = write_training_shards(base, out, **kw)

    before = _parquet_mtimes(f"{out}/shards")
    a_stats = append_training_shards(inc, out, **kw)
    after = _parquet_mtimes(f"{out}/shards")

    # (a) no landed file rewritten or removed
    for p, m in before.items():
        assert p in after and after[p] == m, f"landed file touched: {p}"
    assert len(after) > len(before)

    # (b) combined stream invariants
    seqs = spark.read.parquet(f"{out}/shards")
    n = b_stats["n_sequences"] + a_stats["n_sequences"]
    rows = sorted(
        (r["global_seq"], r["token_offset"], r["n_tokens"]) for r in seqs.collect()
    )
    assert [g for g, _, _ in rows] == list(range(n))
    run = 0
    for _, off, tok in rows:
        assert off == run
        run += tok
    assert run == b_stats["total_tokens"] + a_stats["total_tokens"]
    assert seqs.filter(F.col("n_tokens") > 128).count() == 0

    # (c) manifest: old rows intact, new rows tile on
    manifest = sorted(
        (r.asDict() for r in spark.read.parquet(f"{out}/manifest").collect()),
        key=lambda m: m["shard_id"],
    )
    covered, tok_run = 0, 0
    for m in manifest:
        assert m["first_seq"] == covered
        assert m["first_token"] == tok_run
        covered = m["last_seq"] + 1
        tok_run += m["n_tokens"]
    assert covered == n and tok_run == run
    assert a_stats["appended_after_seq"] == b_stats["n_sequences"]

    # appending without an initial load is an explicit error
    with pytest.raises(FileNotFoundError, match="manifest"):
        append_training_shards(inc, str(tmp_path / "never_written"), **kw)


class TestBatchAppendProtocol:
    def _docs(self, spark, lo, hi):
        return spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).filter(
            (F.length(F.trim("text")) > 0)
            & (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).select("doc_id", "text")

    KW = dict(budget_tokens=128, chunk_tokens=32, overlap=4,
              num_bins=8, sequences_per_shard=50)

    def test_marker_makes_replay_a_noop(self, spark, tmp_path):
        from etl_guiacores_spark.plans.shard_writer import append_batch_shards

        out = str(tmp_path / "stream_shards")
        s0 = append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        assert s0 is not None
        n0 = spark.read.parquet(f"{out}/shards").count()
        # replay of a completed batch: marker short-circuits
        assert append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW) is None
        assert spark.read.parquet(f"{out}/shards").count() == n0
        # next batch appends, stream stays dense
        s1 = append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)
        seqs = spark.read.parquet(f"{out}/shards")
        n = s0["n_sequences"] + s1["n_sequences"]
        assert sorted(r["global_seq"] for r in seqs.collect()) == list(range(n))

    def test_orphans_from_crashed_append_are_pruned(self, spark, tmp_path):
        """Simulate a crash between shard write and manifest commit:
        an uncovered shard partition exists; the retry must prune it
        before re-appending, restoring manifest==landed."""
        import os
        import shutil

        from etl_guiacores_spark.plans.shard_writer import (
            append_batch_shards,
            prune_orphan_shards,
        )

        out = str(tmp_path / "crash_shards")
        append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        covered = sorted(
            int(d.split("=")[1]) for d in os.listdir(f"{out}/shards")
            if d.startswith("shard_id=")
        )
        # fake the partial append: copy a real partition to an
        # uncovered shard id (files present, manifest silent)
        orphan = f"{out}/shards/shard_id={covered[-1] + 1}"
        shutil.copytree(f"{out}/shards/shard_id={covered[-1]}", orphan)
        assert prune_orphan_shards(out) == 1
        assert not os.path.exists(orphan)
        # and the batch retry lands cleanly on the pruned state
        s1 = append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)
        assert s1 is not None
        seqs = spark.read.parquet(f"{out}/shards")
        manifest = spark.read.parquet(f"{out}/manifest")
        assert seqs.count() == manifest.agg(F.sum("n_sequences")).first()[0]

    def test_mid_swap_crash_rolls_back_and_retry_is_exact(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill the manifest commit INSIDE the rename swap (the one
        residual window): the retry must roll back to the old
        manifest, prune the crashed batch's partitions, and re-append
        exactly once — no lost shards, no duplicated content."""
        import os

        import pytest

        from etl_guiacores_spark.plans.shard_writer import append_batch_shards

        out = str(tmp_path / "swap_crash")
        s0 = append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        landed = _parquet_mtimes(f"{out}/shards")

        real_rename = gio._rename
        calls = {"n": 0}

        def crashing_rename(spark_, src, dst):
            calls["n"] += 1
            if calls["n"] == 2:  # after manifest -> old, before tmp -> manifest
                raise RuntimeError("simulated crash mid-swap")
            real_rename(spark_, src, dst)

        monkeypatch.setattr(gio, "_rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)
        monkeypatch.setattr(gio, "_rename", real_rename)

        # crash residue: manifest gone, rollback copy present
        assert not os.path.isdir(f"{out}/manifest")
        assert os.path.isdir(f"{out}/manifest.__commit_old__")

        s1 = append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)
        assert s1 is not None
        seqs = spark.read.parquet(f"{out}/shards")
        manifest = sorted(
            (r.asDict() for r in spark.read.parquet(f"{out}/manifest").collect()),
            key=lambda m: m["shard_id"],
        )
        n = s0["n_sequences"] + s1["n_sequences"]
        assert sorted(r["global_seq"] for r in seqs.collect()) == list(range(n))
        covered, tok_run = 0, 0
        for m in manifest:
            assert m["first_seq"] == covered and m["first_token"] == tok_run
            covered = m["last_seq"] + 1
            tok_run += m["n_tokens"]
        assert covered == n
        assert tok_run == s0["total_tokens"] + s1["total_tokens"]
        assert seqs.filter(F.col("n_tokens") > 128).count() == 0
        # chunk conservation across the crash: every chunk exactly once
        packed_chunkrefs = seqs.agg(F.sum(F.size("doc_ids"))).first()[0]
        assert packed_chunkrefs == s0["n_chunks"] + s1["n_chunks"]
        # the crash and the retry's prune left batch 0's files alone
        after = _parquet_mtimes(f"{out}/shards")
        assert all(after.get(p) == m for p, m in landed.items())

    def test_lost_manifest_with_landed_batches_refuses_to_prune(
        self, spark, tmp_path
    ):
        """Once any batch marker exists, a missing manifest means lost
        metadata over VALID shards — mass deletion must be refused."""
        import shutil

        import pytest

        from etl_guiacores_spark.plans.shard_writer import (
            append_batch_shards,
            prune_orphan_shards,
        )

        out = str(tmp_path / "lost_manifest")
        append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        shutil.rmtree(f"{out}/manifest")
        with pytest.raises(RuntimeError, match="Refusing to mass-delete"):
            prune_orphan_shards(out)
        with pytest.raises(RuntimeError, match="Refusing to mass-delete"):
            append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)

    def test_manifest_without_success_marker_refuses_to_prune(
        self, spark, tmp_path
    ):
        import os

        import pytest

        from etl_guiacores_spark.plans.shard_writer import (
            append_batch_shards,
            prune_orphan_shards,
        )

        out = str(tmp_path / "no_success")
        append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        os.remove(f"{out}/manifest/_SUCCESS")
        with pytest.raises(RuntimeError, match="_SUCCESS"):
            prune_orphan_shards(out)

    def test_first_batch_crash_resets_cleanly(self, spark, tmp_path):
        """Before ANY marker exists, shards-without-manifest is debris
        from a crashed first attempt — the retry resets and lands."""
        import os
        import shutil

        from etl_guiacores_spark.plans.shard_writer import append_batch_shards

        out = str(tmp_path / "first_crash")
        append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        # simulate the first attempt having crashed pre-manifest/marker
        shutil.rmtree(f"{out}/manifest")
        shutil.rmtree(f"{out}/_appended_batches")
        s0 = append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        assert s0 is not None
        seqs = spark.read.parquet(f"{out}/shards")
        assert sorted(r["global_seq"] for r in seqs.collect()) == list(
            range(s0["n_sequences"])
        )
        assert os.path.exists(f"{out}/_appended_batches/batch_0")

    def test_append_after_empty_initial_load(self, spark, tmp_path):
        """An empty initial write leaves a 0-row manifest; the first
        real batch must start the stream at seq 0 / token 0."""
        from etl_guiacores_spark.plans.shard_writer import (
            append_training_shards,
            write_training_shards,
        )

        out = str(tmp_path / "empty_then_append")
        empty = spark.createDataFrame([], "doc_id long, text string")
        write_training_shards(empty, out, **self.KW)
        stats = append_training_shards(self._docs(spark, 0, 100), out, **self.KW)
        assert stats["appended_after_seq"] == 0
        seqs = spark.read.parquet(f"{out}/shards")
        rows = sorted((r["global_seq"], r["token_offset"]) for r in seqs.collect())
        assert rows[0] == (0, 0)
        assert [g for g, _ in rows] == list(range(len(rows)))
