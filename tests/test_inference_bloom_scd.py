"""Round-4 operators: hashed linear-model inference, distributed
Bloom filter, and SCD2 history construction."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_guiacores_spark.operators.bloom import bloom_build, bloom_probe
from etl_guiacores_spark.operators.inference import (
    linear_score,
    synthetic_weights,
)
from etl_guiacores_spark.operators.scd import scd2_history


class TestLinearScore:
    def test_known_weights_exact_scores(self, spark):
        """A hand-built two-bucket model: score is the exact integer
        sum of per-token weights (with multiplicity) plus bias."""
        from etl_guiacores_spark.operators.importance import feature_bucket

        docs = spark.createDataFrame(
            [(1, "alpha alpha beta"), (2, "beta"), (3, "")],
            "doc_id long, text string",
        )
        # resolve each token's real bucket so the expectation is exact
        buckets = {
            r["tok"]: r["b"]
            for r in spark.createDataFrame(
                [("alpha",), ("beta",)], "tok string"
            ).select("tok", feature_bucket(F.col("tok"), 4096, "t").alias("b")).collect()
        }
        weights = spark.createDataFrame(
            [(buckets["alpha"], 10), (buckets["beta"], -3)],
            "bucket long, weight_ppm long",
        )
        out = {
            r["doc_id"]: r
            for r in linear_score(
                docs, weights, num_buckets=4096, seed="t", bias_ppm=5
            ).collect()
        }
        # doc 3 is empty -> no tokens -> no row (explode convention)
        assert set(out) == {1, 2}
        assert out[1]["score_ppm"] == 10 + 10 - 3 + 5
        assert out[2]["score_ppm"] == -3 + 5
        assert out[1]["n_tok"] == 3 and out[2]["n_tok"] == 1

    def test_unknown_bucket_weighs_zero(self, spark):
        docs = spark.createDataFrame([(1, "gamma")], "doc_id long, text string")
        weights = spark.createDataFrame([], "bucket long, weight_ppm long")
        out = linear_score(docs, weights, seed="t").collect()
        assert out[0]["score_ppm"] == 0

    def test_synthetic_weights_deterministic_and_bounded(self, spark):
        w1 = synthetic_weights(spark, num_buckets=64, seed="s", scale_ppm=100)
        w2 = synthetic_weights(spark, num_buckets=64, seed="s", scale_ppm=100)
        rows1 = sorted((r["bucket"], r["weight_ppm"]) for r in w1.collect())
        rows2 = sorted((r["bucket"], r["weight_ppm"]) for r in w2.collect())
        assert rows1 == rows2 and len(rows1) == 64
        assert all(-100 <= w <= 100 for _, w in rows1)


class TestBloom:
    def test_no_false_negatives_and_fp_bounded(self, spark):
        members = spark.createDataFrame(
            [(f"member-{i}",) for i in range(200)], "v string"
        )
        bits = bloom_build(members, "v", num_bits=1 << 14, num_hashes=3, seed="t")
        n_bits = bits.count()
        assert 0 < n_bits <= 600  # <= members * k, after distinct

        probes = spark.createDataFrame(
            [(f"member-{i}",) for i in range(200)]
            + [(f"other-{i}",) for i in range(500)],
            "v string",
        )
        out = bloom_probe(
            probes, bits, "v", num_bits=1 << 14, num_hashes=3, seed="t"
        ).collect()
        members_set = {f"member-{i}" for i in range(200)}
        fp = 0
        for r in out:
            if r["v"] in members_set:
                assert r["maybe_member"], f"false negative: {r['v']}"
            elif r["maybe_member"]:
                fp += 1
        # 600/16384 bits set -> p(fp) ~ (600/16384)^3 ~ 5e-5; 500 probes
        # should essentially never collide — allow a tiny margin anyway
        assert fp <= 2, fp

    def test_empty_member_set_rejects_everything(self, spark):
        members = spark.createDataFrame([], "v string")
        bits = bloom_build(members, "v", num_bits=1024, num_hashes=3, seed="t")
        probes = spark.createDataFrame([("x",), ("y",)], "v string")
        out = bloom_probe(probes, bits, "v", num_bits=1024, num_hashes=3, seed="t").collect()
        assert all(not r["maybe_member"] for r in out)

    def test_probe_preserves_extra_columns(self, spark):
        members = spark.createDataFrame([("a",)], "v string")
        bits = bloom_build(members, "v", num_bits=1024, num_hashes=3, seed="t")
        probes = spark.createDataFrame([("a", 1), ("b", 2)], "v string, k int")
        out = {r["v"]: r for r in bloom_probe(probes, bits, "v", 1024, 3, "t").collect()}
        assert out["a"]["k"] == 1 and out["a"]["maybe_member"]
        assert out["b"]["k"] == 2 and not out["b"]["maybe_member"]


class TestScd2:
    def _changes(self, spark):
        t = dt.datetime
        rows = [
            (1, t(2024, 1, 1), "A"),
            (1, t(2024, 1, 2), "A"),   # no-op change: collapses
            (1, t(2024, 1, 3), "B"),
            (1, t(2024, 1, 4), "A"),   # back to A: NEW version (SCD2)
            (2, t(2024, 1, 1), "X"),
        ]
        return spark.createDataFrame(rows, "k long, ts timestamp, state string")

    def test_intervals_versions_current(self, spark):
        out = scd2_history(self._changes(spark), "k", "ts", ["state"]).collect()
        k1 = sorted((r for r in out if r["k"] == 1), key=lambda r: r["version_n"])
        assert [r["state"] for r in k1] == ["A", "B", "A"]
        assert [r["version_n"] for r in k1] == [1, 2, 3]
        assert k1[0]["valid_from"] == dt.datetime(2024, 1, 1)
        assert k1[0]["valid_to"] == dt.datetime(2024, 1, 3)  # collapse skipped 1/2
        assert k1[1]["valid_to"] == dt.datetime(2024, 1, 4)
        assert k1[2]["valid_to"] is None and k1[2]["is_current"]
        assert sum(r["is_current"] for r in k1) == 1
        k2 = [r for r in out if r["k"] == 2]
        assert len(k2) == 1 and k2[0]["is_current"] and k2[0]["version_n"] == 1

    def test_null_state_transitions(self, spark):
        t = dt.datetime
        rows = [
            (1, t(2024, 1, 1), "A"),
            (1, t(2024, 1, 2), None),   # A -> NULL: a real change
            (1, t(2024, 1, 3), None),   # NULL -> NULL: collapses
            (1, t(2024, 1, 4), "A"),
        ]
        df = spark.createDataFrame(rows, "k long, ts timestamp, state string")
        out = sorted(
            scd2_history(df, "k", "ts", ["state"]).collect(),
            key=lambda r: r["version_n"],
        )
        assert [r["state"] for r in out] == ["A", None, "A"]

    def test_intervals_tile_without_gaps(self, spark):
        """Consecutive versions must share boundaries: valid_to of
        version n equals valid_from of version n+1."""
        out = sorted(
            (r for r in scd2_history(self._changes(spark), "k", "ts", ["state"]).collect()
             if r["k"] == 1),
            key=lambda r: r["version_n"],
        )
        for a, b in zip(out, out[1:]):
            assert a["valid_to"] == b["valid_from"]
