"""Embedding int8 quantization (ANN storage prep).

A 10^10-vector corpus at float32x64 dims is ~2.5 TB of vector bytes;
int8 symmetric quantization cuts it 4x with ~1% cosine error. Both
directions are pure array expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8: struct(scale double, q array<tinyint>)
    with x ~ q * scale. Dequantize with ``dequantize_int8``."""

    def build(v: Column) -> Column:
        max_abs = F.aggregate(
            v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
        )
        scale = F.when(max_abs > 0, max_abs / 127.0).otherwise(F.lit(1.0))
        q = F.transform(v, lambda x: F.round(x.cast("double") / scale).cast("tinyint"))
        return F.struct(scale.alias("scale"), q.alias("q"))

    return F.element_at(F.transform(F.array(vec), build), 1)


def dequantize_int8(qstruct: Column) -> Column:
    scale = qstruct.getField("scale")
    return F.transform(qstruct.getField("q"), lambda x: x.cast("double") * scale)


def pq_assign(
    embeddings,
    codebook,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_id_col: str = "cid",
    dim: int = 64,
    n_sub: int = 4,
):
    """Product-quantization ASSIGNMENT: compress each vector to one
    code per subspace by nearest codebook centroid — the m*log2(k)
    bits-per-vector compression behind every billion-scale ANN index
    (IVF-PQ), complementing ann.py's IVF (coarse cells) and
    quantize_int8 (scalar codes). This operator is the scale-relevant
    ASSIGN path (runs over every vector); codebook TRAINING is the
    caller's seam — pass k-means-trained centroids in production, a
    frozen deterministic sample in tests/oracles (the ivf_build
    train-on-sample philosophy).

    Exactness: coordinates quantize to 1e-6 fixed point
    (``floor(x * 1e6)`` BIGINT) BEFORE distance math, so squared
    L2 distances are exact integers and the argmin — ties broken by
    centroid id — replays bit-identically on any engine. Distances
    on raw doubles would tie-break on float noise.

    Shape: dimensions explode relationally ((id, dim_idx, coord) —
    posexplode, no UDF), equi-join the BROADCAST codebook dims on
    dim_idx, partial-aggregate squared diffs per (vector, subspace,
    centroid), then a (d2, cid)-ordered argmin window per (vector,
    subspace). Everything is equi-join + map-side-combinable
    aggregation; the only corpus-sized shuffle keys on (vector,
    subspace) pairs. At 1e10 vectors this is the same plan, with the
    codebook still KBs.

    Returns one row per (vector, subspace): (id_col, sub, code,
    d2) with ``code`` the winning centroid id and ``d2`` the exact
    integer squared distance in 1e-12 units.
    """
    from pyspark.sql import DataFrame, Window

    if dim % n_sub:
        raise ValueError("dim must divide evenly into n_sub subspaces")
    sub_dim = dim // n_sub

    def dims(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(out_id),
            F.posexplode(vec_col).alias("d", "x"),
        ).select(
            out_id,
            "d",
            F.expr(f"d div {sub_dim}").alias("sub"),
            F.floor(F.col("x").cast("double") * 1_000_000).cast("long").alias("fx"),
        )

    e = dims(embeddings, id_col, "__vid")
    c = dims(codebook, code_id_col, "__cid").withColumnRenamed("fx", "cfx")
    d2 = (
        e.join(F.broadcast(c.select("__cid", "d", "sub", "cfx")), ["d", "sub"])
        .groupBy("__vid", "sub", "__cid")
        .agg(
            F.sum(
                (F.col("fx") - F.col("cfx")) * (F.col("fx") - F.col("cfx"))
            )
            .cast("long")
            .alias("d2")
        )
    )
    w = Window.partitionBy("__vid", "sub").orderBy("d2", "__cid")
    return (
        d2.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__vid").alias(id_col),
            F.col("sub").cast("long").alias("sub"),
            F.col("__cid").cast("long").alias("code"),
            "d2",
        )
    )
