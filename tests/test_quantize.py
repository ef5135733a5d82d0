"""Embedding normalization / quantization: round-trip error bounds."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_guiacores_spark.operators.quantize import dequantize_int8, quantize_int8
from etl_guiacores_spark.operators.similarity import cosine, with_minhash
from etl_guiacores_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_quantize_round_trip_cosine_error(spark):
    emb = load_table(spark, "embeddings", SF_DIR).limit(100)
    q = emb.select(
        "vec_id", "embedding", dequantize_int8(quantize_int8(F.col("embedding"))).alias("deq")
    )
    sims = q.select(cosine(F.col("embedding"), F.col("deq")).alias("s")).collect()
    assert all(r["s"] > 0.995 for r in sims)  # <0.5% cosine distortion

    zero = spark.createDataFrame([([0.0, 0.0],)], ["embedding"])
    z = zero.select(dequantize_int8(quantize_int8(F.col("embedding"))).alias("d")).collect()
    assert z[0]["d"] == [0.0, 0.0]


def test_fast_minhash_variant(spark):
    docs = load_table(spark, "documents", SF_DIR).filter(F.length(F.trim("text")) > 0)
    fast = with_minhash(docs.select("doc_id", "text"), "text", portable=False)
    rows = fast.limit(5).collect()
    # 64-bit int signatures, deterministic across invocations
    assert all(isinstance(r["sig_0"], int) for r in rows)
    again = {r["doc_id"]: r["sig_0"] for r in fast.limit(5).collect()}
    assert {r["doc_id"]: r["sig_0"] for r in rows} == again


class TestRandomProjection:
    def test_matches_numpy_reference(self, spark):
        import math

        import numpy as np

        from etl_guiacores_spark.operators.projection import MICRO, jl_signs, rp_project

        rng = np.random.RandomState(3)
        vecs = rng.randn(10, 16).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(10)],
            "id long, v array<float>",
        )
        out = {r["id"]: [r[f"rp_{j}"] for j in range(4)]
               for r in rp_project(df, "v", out_dim=4, in_dim=16).collect()}
        signs = np.array(jl_signs(4, 16))
        for i in range(10):
            micro = np.floor(vecs[i].astype("float64") * MICRO).astype("int64")
            expect = (signs * micro).sum(axis=1)
            assert out[i] == [int(x) for x in expect], i

    def test_collision_guard_hits_real_reserved_names(self, spark):
        """Round-8 advice: the guard must reject the names the
        operator actually writes (__rp_micro, rp_0..rp_{k-1}) and must
        NOT reject a harmless 'rp_micro' input column."""
        import pytest

        from etl_guiacores_spark.operators.projection import rp_project

        base = [(1, [0.5] * 4)]
        for bad in ("__rp_micro", "rp_0", "rp_3"):
            df = spark.createDataFrame(
                [(1, [0.5] * 4, "x")], f"id long, v array<float>, `{bad}` string"
            )
            with pytest.raises(ValueError, match="collide"):
                rp_project(df, "v", out_dim=4, in_dim=4)
        # harmless names: rp_micro (not a working column) and rp_4
        # (outside out_dim=4's output range) must pass
        ok = spark.createDataFrame(
            [(1, [0.5] * 4, "x", "y")],
            "id long, v array<float>, rp_micro string, rp_4 string",
        )
        out = rp_project(ok, "v", out_dim=4, in_dim=4)
        assert {"rp_0", "rp_1", "rp_2", "rp_3"}.issubset(out.columns)

    def test_signs_deterministic_and_balanced(self, spark):
        from etl_guiacores_spark.operators.projection import jl_signs

        a = jl_signs(8, 64, "s")
        b = jl_signs(8, 64, "s")
        assert a == b
        flat = [s for row in a for s in row]
        assert set(flat) == {-1, 1}
        # md5-derived signs should be roughly balanced
        assert 0.35 < (sum(1 for s in flat if s == 1) / len(flat)) < 0.65

    def test_distance_preservation_trend(self, spark):
        """JL contract sanity: across random pairs, projected distance
        correlates with original distance (rank-order check, not a
        tight eps bound at k=8)."""
        import numpy as np

        from etl_guiacores_spark.operators.projection import MICRO, rp_project

        rng = np.random.RandomState(11)
        vecs = rng.randn(40, 64).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(40)],
            "id long, v array<float>",
        )
        rows = {r["id"]: np.array([r[f"rp_{j}"] for j in range(8)], dtype="float64")
                for r in rp_project(df, "v", out_dim=8, in_dim=64).collect()}
        orig, proj = [], []
        for i in range(0, 40, 2):
            a, b = vecs[i].astype("float64"), vecs[i + 1].astype("float64")
            orig.append(np.linalg.norm(a - b))
            proj.append(np.linalg.norm(rows[i] - rows[i + 1]) / MICRO)
        corr = np.corrcoef(orig, proj)[0, 1]
        assert corr > 0.3, corr


# --- product quantization -----------------------------------------------------

def test_pq_assign_picks_nearest_and_breaks_ties_by_cid(spark):
    from pyspark.sql import functions as F

    from etl_guiacores_spark.operators.quantize import pq_assign

    # dim=4, n_sub=2 (2 dims per subspace); codebook = first 2 vectors
    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [10.0, 10.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 1.0, 1.0]),    # sub0 near cb0, sub1 near cb1
        (3, [5.0, 5.0, 5.0, 5.0]),    # equidistant -> tie -> cid 0 wins
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = df.filter(F.col("vec_id") < 2)
    got = {(r["vec_id"], r["sub"]): (r["code"], r["d2"])
           for r in pq_assign(df, cb, code_id_col="vec_id", dim=4, n_sub=2).collect()}
    assert got[(2, 0)][0] == 0 and got[(2, 1)][0] == 1
    assert got[(3, 0)][0] == 0 and got[(3, 1)][0] == 0  # ties -> lowest cid
    assert got[(0, 0)] == (0, 0) and got[(1, 1)] == (1, 0)  # self-distance 0


def test_pq_assign_dim_validation(spark):
    import pytest

    from etl_guiacores_spark.operators.quantize import pq_assign

    df = spark.createDataFrame([(0, [0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        pq_assign(df, df, code_id_col="vec_id", dim=5, n_sub=2)
