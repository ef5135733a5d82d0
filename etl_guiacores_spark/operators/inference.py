"""Linear-model inference over hashed text features — model scoring
without a UDF.

The workhorse quality filter in large-scale corpus curation is a
linear classifier over hashed bag-of-words features (fastText-style:
CCNet's wiki-vs-crawl filter, GPT-3's WebText-quality LR, the
RefinedWeb/FineWeb quality gates all take this shape). Inference at
100 TB must not be a per-row Python call; this operator expresses it
as pure DataFrame algebra:

1. tokenize -> hash each token into a bounded feature id
   (``feature_bucket``, shared with the DSIR estimator),
2. join the (bounded, broadcast) ``weights`` table on the feature id,
3. sum weights per document and add the bias -> margin; threshold ->
   keep/drop decision.

The weight table IS the model: swap in fastText's quantized unigram
weights, an exported sklearn LR, or the synthetic frozen model below
without touching the plan. Weights are integer micro-units (ppm) so
scoring is exact BIGINT arithmetic — engine-portable and
oracle-checkable bit-for-bit (float weights would reproduce fine at
inference too, but the test contract prefers exactness; the q58/q104
discipline).

Scale shape: the weights table is bounded by ``num_buckets`` rows
regardless of corpus size and broadcasts; the only corpus-sized
shuffle keys on ``id_col`` for the per-document sum (map-side partial
aggregation applies). Text never rides a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_guiacores_spark.operators.importance import feature_bucket
from etl_guiacores_spark.operators.textstats import tokens


def synthetic_weights(
    spark: SparkSession,
    num_buckets: int = 4096,
    seed: str = "lmq",
    scale_ppm: int = 1000,
) -> DataFrame:
    """A frozen, deterministic weight table for tests/oracles: one row
    per bucket, ``weight_ppm`` uniform-ish in [-scale_ppm, +scale_ppm]
    derived from md5 of the bucket id — the same engine-portable hash
    family as ``feature_bucket``. Stands in for a trained model's
    exported weights; identical rows are derivable in any engine.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":w:"), F.col("id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return spark.range(num_buckets).select(
        F.col("id").cast("long").alias("bucket"),
        (h % F.lit(2 * scale_ppm + 1) - F.lit(scale_ppm)).cast("long").alias("weight_ppm"),
    )


def linear_score(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    seed: str = "lmq",
    bias_ppm: int = 0,
) -> DataFrame:
    """Score every document with a hashed-feature linear model.

    ``weights`` has columns (bucket BIGINT, weight_ppm BIGINT) and at
    most ``num_buckets`` rows; missing buckets weigh 0 (left join).
    Returns (id_col, n_tok, score_ppm) — one row per document with at
    least one token; ``score_ppm = bias + sum over tokens (with
    multiplicity) of weight_ppm(bucket(token))``. Thresholding is the
    caller's: ``score_ppm >= 0`` is the usual keep rule.

    One scan of the corpus: explode -> hash -> broadcast-join the
    bounded weight table -> per-doc sum (map-side combine). The same
    shape serves any bounded-table model: n-gram LMs, logistic
    regression, per-token perplexity lookups.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    ).select(id_col, feature_bucket(F.col("__tok"), num_buckets, seed).alias("__bucket"))
    w = weights.select(
        F.col("bucket").alias("__bucket"), F.col("weight_ppm").alias("__w")
    )
    return (
        toks.join(F.broadcast(w), "__bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tok"),
            (F.sum(F.coalesce(F.col("__w"), F.lit(0))) + F.lit(bias_ppm))
            .cast("bigint")
            .alias("score_ppm"),
        )
    )
