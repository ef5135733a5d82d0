"""Unit tests for near-dup / similarity-search operators."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_guiacores_spark.operators.similarity import (
    cosine,
    embedding_near_dup_pairs,
    jaccard_of_shingles,
    knn_brute_force,
    lsh_candidate_pairs,
    simhash,
    with_minhash,
    word_shingles,
)

TEXT_A = "the quick brown fox jumps over the lazy dog"
TEXT_B = "the quick brown fox jumps over the sleepy dog"  # near-dup of A
TEXT_C = "completely different content about spark engines"


class TestShingles:
    def test_word_shingles(self, spark):
        row = spark.range(1).select(
            word_shingles(F.lit("a b c d"), 3).alias("s"),
            word_shingles(F.lit("a b"), 3).alias("short"),
        ).collect()[0]
        assert row["s"] == ["a b c", "b c d"]
        assert row["short"] == []


class TestMinhashLsh:
    def test_near_dups_share_bands_distinct_docs_dont(self, spark):
        df = spark.createDataFrame(
            [(1, TEXT_A), (2, TEXT_B), (3, TEXT_C)], ["doc_id", "text"]
        )
        pairs = {
            (r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(df, "doc_id", "text").collect()
        }
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_signature_deterministic(self, spark):
        df = spark.createDataFrame([(1, TEXT_A)], ["doc_id", "text"])
        s1 = with_minhash(df, "text").collect()[0]
        s2 = with_minhash(df, "text").collect()[0]
        assert [s1[f"sig_{i}"] for i in range(4)] == [s2[f"sig_{i}"] for i in range(4)]

    def test_shingle_col_collision_raises(self, spark):
        import pytest

        df = spark.createDataFrame([(1, TEXT_A, "x")], ["doc_id", "text", "shingles"])
        with pytest.raises(ValueError, match="already exists"):
            with_minhash(df, "text", shingle_col="shingles")
        staged = spark.createDataFrame([(1, TEXT_A, "x")], ["doc_id", "text", "__shingles"])
        with pytest.raises(ValueError, match="__shingles"):
            with_minhash(staged, "text")


class TestJaccardSimhash:
    def test_jaccard_bounds(self, spark):
        def jaccard(a, b):
            return jaccard_of_shingles(
                word_shingles(F.lit(a), 3), word_shingles(F.lit(b), 3)
            )

        row = spark.range(1).select(
            jaccard(TEXT_A, TEXT_A).alias("same"),
            jaccard(TEXT_A, TEXT_B).alias("near"),
            jaccard(TEXT_A, TEXT_C).alias("far"),
        ).collect()[0]
        assert row["same"] == 1.0
        assert 0 < row["near"] < 1.0
        assert row["far"] == 0.0

    def test_simhash_near_dups_close_in_hamming(self, spark):
        row = spark.range(1).select(
            simhash(F.lit(TEXT_A)).alias("a"),
            simhash(F.lit(TEXT_B)).alias("b"),
            simhash(F.lit(TEXT_C)).alias("c"),
        ).collect()[0]
        ham = lambda x, y: bin(x ^ y).count("1")
        assert ham(row["a"], row["b"]) < ham(row["a"], row["c"])

    def test_simhash_grouped_matches_fold_form(self, spark):
        from etl_guiacores_spark.operators.similarity import simhash_grouped

        docs = spark.createDataFrame(
            [(1, TEXT_A), (2, TEXT_B), (3, TEXT_C), (4, ""), (5, "   ")],
            "doc_id long, text string",
        )
        for bits in (16, 32):
            fold = docs.select(
                "doc_id", simhash(F.col("text"), bits).alias("sig")
            )
            grouped = simhash_grouped(docs, bits)
            assert (
                fold.alias("f")
                .join(grouped.alias("g"), "doc_id")
                .filter("f.sig <> g.sig")
                .count()
                == 0
            )
            assert grouped.count() == 5  # empty docs survive (sig 0)


class TestEmbeddings:
    def test_cosine(self, spark):
        df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])], ["a", "b"])
        row = df.select(
            cosine(F.col("a"), F.col("a")).alias("same"),
            cosine(F.col("a"), F.col("b")).alias("ortho"),
        ).collect()[0]
        assert math.isclose(row["same"], 1.0)
        assert math.isclose(row["ortho"], 0.0)

    def test_knn_finds_identical_vector_first(self, spark):
        vecs = [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.001, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        got = knn_brute_force(df, df.filter(F.col("vec_id") == 0), k=2).collect()
        assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] == [1, 2]

    def test_near_dup_pairs_bucketed(self, spark):
        vecs = [
            (0, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
            (1, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.9]),
            (2, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),
        ]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        pairs = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(df, threshold=0.9, bucket_dims=8).collect()
        }
        assert pairs == {(0, 1)}


def test_knn_null_ids_not_dropped(spark):
    """Null-safe self-exclusion: a corpus row with a NULL id is a valid
    neighbor, not silently discarded by id != query_id."""
    from etl_guiacores_spark.operators.similarity import knn_brute_force

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (None, [1.0, 0.05])],
        "vec_id bigint, embedding array<double>",
    )
    queries = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>")
    got = knn_brute_force(emb, queries, k=5).collect()
    neighbor_ids = {r["neighbor_id"] for r in got}
    assert None in neighbor_ids and 2 in neighbor_ids and 1 not in neighbor_ids


class TestSaltedMinhash:
    """Near-dup removal over pre-chunked rows (spread on
    (doc_id, chunk_pos)) must match the per-row path exactly."""

    def test_near_dup_removal_salted_identical(self, spark):
        from etl_guiacores_spark.operators.chunking import prechunk_documents
        from etl_guiacores_spark.plans.corpus_pipeline import near_dup_removal

        docs = spark.createDataFrame(
            [
                (1, (TEXT_A + " ") * 21, "s1"),
                (2, (TEXT_A + " ") * 20 + TEXT_B, "s1"),
                (3, TEXT_C * 30, "s2"),
                (4, TEXT_C * 30, "s2"),
                (5, "tiny", "s3"),
            ],
            "doc_id int, text string, source string",
        )
        surv_u, pairs_u = near_dup_removal(docs, 0.5)
        surv_s, pairs_s = near_dup_removal(
            docs, 0.5, chunks=prechunk_documents(docs, chunk_tokens=16)
        )
        assert sorted(r["doc_id"] for r in surv_u.collect()) == sorted(
            r["doc_id"] for r in surv_s.collect()
        )
        pu = sorted((r["id_a"], r["id_b"]) for r in pairs_u.collect())
        ps = sorted((r["id_a"], r["id_b"]) for r in pairs_s.collect())
        assert pu == ps and len(pu) >= 2
        for pairs in (pairs_u, pairs_s):
            pairs.staged_sigs.unpersist()

