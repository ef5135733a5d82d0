"""Sketch-based approximate frequency aggregates.

At 100 TB, an exact frequency table for a hot column shuffles every
distinct value; a Count-Min sketch bounds it to a fixed grid of
counters that merges associatively, so partial aggregation works and
a pre-aggregated sketch tier can serve any grouping rollup.

``count_min_frequencies`` wraps Spark's built-in sketch behind an
explicit, tested error contract (not oracle-checked: approximation is
engine-specific by design — the tests assert the error bound against
the exact answer instead); ``countmin_audit`` builds the sketch
relationally so an oracle can replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def count_min_frequencies(
    df: DataFrame, col: str, probes: list, eps: float = 0.001, confidence: float = 0.99
) -> dict:
    """Approximate per-value frequencies from a Count-Min sketch.

    The sketch is a fixed-size mergeable aggregate (rows x width
    counters) — at 100 TB the frequency table for a hot column costs
    KBs instead of a distinct-count shuffle. Returns {probe: est};
    estimates overcount by at most eps*N with the given confidence.
    """
    from pyspark.sql import functions as F

    sketch_bytes = df.select(
        F.count_min_sketch(F.col(col), F.lit(eps), F.lit(confidence), F.lit(42)).alias("s")
    ).collect()[0]["s"]
    # decode via the JVM helper to stay faithful to Spark's layout
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    bais = jvm.java.io.ByteArrayInputStream(bytes(sketch_bytes))
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bais)
    return {p: sketch.estimateCount(p) for p in probes}


def countmin_audit(
    counts: DataFrame,
    key_col: str,
    count_col: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 20,
    seed: str = "cms",
) -> DataFrame:
    """Audit an EXPLICIT relational Count-Min sketch against exact
    counts — the frequency twin of the q105 HLL-vs-exact audit.

    ``count_min_frequencies`` above uses Spark's built-in JVM sketch;
    this operator instead BUILDS the sketch relationally (depth x
    width counters, md5-derived bucket per hash row) so the result
    is engine-independent and a DuckDB oracle can replay it exactly.
    That is the validate-then-trust protocol for sketches at 100 TB:
    run sketch and exact side by side on one stratum, assert the
    estimate never undercounts and stays inside the e*N/width
    overcount bound, then run the KB-sized sketch fleet-wide where
    the exact groupBy would be the dominant shuffle.

    Input is the (key, exact_count) relation (already aggregated —
    one shuffle the caller pays anyway for the exact side). The
    sketch builds FROM those counts: explode each distinct key across
    ``depth`` hash rows, sum counts per (row, bucket) — a bounded
    depth*width-cell table that collapses map-side; the audited
    top-k keys join back on (row, bucket) and take the MIN estimate.
    The top-k probes re-derive their buckets from the shared hash
    definition (deterministic in (row, key)) rather than re-joining
    the counts-lineage reps relation, which dropped two of the four
    replays of the caller's aggregation. The remaining three
    (sketch, total, top-k) share one job and overlap on idle cores;
    an eager bounded-sketch barrier was measured SLOWER at sf0.1
    (serializing the overlapped replays costs more than it saves —
    the same result as the pmi_collocations persist experiment) and
    at 100 TB the staging call is the caller handing in a
    materialized counts table, not a barrier here.

    Mergeability is inherited from SUM: the sketch of a union is the
    cell-wise sum of the parts' sketches.

    Returns the top-k keys by exact count (ties broken by key asc):
    (key, n_exact, n_est, overcount, within_bound) with the bound
    fixed at overcount <= (3 * N) // width, N = total count mass
    (3 standing in for e; CMS guarantees the e*N/width bound with
    probability 1 - 2^-depth, and the flag makes a violated bound
    VISIBLE instead of silently trusted).
    """
    if depth < 1 or width < 2:
        raise ValueError("countmin_audit requires depth >= 1, width >= 2")
    key, cnt = F.col(key_col), F.col(count_col).cast("long")

    def bucket_of(k: Column, r: Column) -> Column:
        # the ONE definition of the (row, key) -> bucket hash, used by
        # both the sketch build and the top-k probes so they can never
        # drift
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(seed + ":"),
                            r.cast("string"),
                            F.lit(":"),
                            k,
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % width
        )

    rows_seq = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias(
        "__r"
    )
    reps = counts.select(
        key.alias("__k"), cnt.alias("__c"), rows_seq
    ).withColumn("__bucket", bucket_of(F.col("__k"), F.col("__r")))
    sketch = reps.groupBy("__r", "__bucket").agg(
        F.sum("__c").cast("long").alias("__cell")
    )
    total = counts.agg(F.sum(cnt).cast("long").alias("__n"))
    top = (
        counts.select(key.alias("__k"), cnt.alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("__k").asc())
        .limit(top_k)
    )
    # probes re-derive their buckets straight from the top_k keys (the
    # hash is deterministic in (row, key)) instead of joining the
    # counts-lineage reps relation — the old join replayed the
    # caller's aggregation a third and fourth time
    probes = top.select(
        "__k", "n_exact", rows_seq
    ).withColumn("__bucket", bucket_of(F.col("__k"), F.col("__r")))
    est = (
        probes.join(sketch, ["__r", "__bucket"])
        .groupBy("__k", "n_exact")
        .agg(F.min("__cell").cast("long").alias("n_est"))
    )
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            F.col("__k").alias(key_col),
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).cast("long").alias("overcount"),
            (
                F.col("n_est") - F.col("n_exact")
                <= F.expr(f"(3 * __n) div {width}")
            ).alias("within_bound"),
        )
    )


def hll_audit(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Audit an EXPLICIT relational HyperLogLog against exact distinct
    counts — completing the sketch-audit family: q105 validates
    Spark's built-in HLL++ behind a tolerance flag, q168 the
    Count-Min frequencies; this one BUILDS the HLL itself from
    relational primitives (md5 hash, integer log2 via the minimal
    binary-string length — identical in Spark and DuckDB), so the
    oracle replays every register bit-exactly.

    Layout: p=6 -> m=64 registers per group. The 60-bit md5 hash
    splits into a 6-bit bucket and a 54-bit tail; the register keeps
    max(rho) where rho = leading zeros of the tail in its 54-bit
    field + 1 (tail 0 -> 55). The raw estimator is
    alpha_64 * m^2 / sum(2^-M_b) with EMPTY registers contributing
    2^0 — empties fold arithmetically as (64 - n_present) * 2^60
    from the bounded register table (present registers always have
    rho >= 1), so silence counts without a materialized bucket
    spine. All interior arithmetic is
    exact: 2^(60-M) as BIGINT shifts summed in DECIMAL(38,0)
    (64 * 2^60 overflows BIGINT), alpha frozen at 709365 ppm
    (0.7213/(1+1.079/64)), truncating divisions.

    Registers are MERGEABLE (max commutes), which is the 100 TB
    story: 64 BIGINTs per group per executor, one tiny final
    max-merge, versus the full (group, value) distinct shuffle the
    exact side pays — run both on a stratum (this audit), then trust
    the sketch fleet-wide. The small-range correction regime
    (E <= 2.5m with empty buckets) is reported via n_empty rather
    than applied — ln() is float territory; callers in that regime
    should use exact counts anyway.

    Returns (group_col, n_exact, hll_est, err_ppm, n_empty) — all
    BIGINT; err_ppm is signed (est - exact) * 1e6 div exact.
    """
    h = F.conv(F.substring(F.md5(F.col(value_col)), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    ).cast("long")
    # a NULL group is dropped, as q175's oracle drops it in its final
    # USING join (NULL never equals NULL)
    df = df.filter(F.col(group_col).isNotNull())
    hashed = df.select(
        F.col(group_col).alias("__g"),
        h.alias("__h"),
    ).select(
        "__g",
        (F.col("__h") % 64).alias("__bucket"),
        F.expr("__h div 64").alias("__rest"),
    ).withColumn(
        "__rho",
        F.when(F.col("__rest") == 0, F.lit(55)).otherwise(
            F.lit(55) - F.length(F.bin(F.col("__rest")))
        ),
    )
    # NULL values hash to a NULL bucket; they never reached a spine
    # register in the old shape and are filtered identically here
    regs = (
        hashed.filter(F.col("__bucket").isNotNull())
        .groupBy("__g", "__bucket")
        .agg(F.max("__rho").alias("__m"))
    )
    exact = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.countDistinct(value_col).cast("long").alias("n_exact")
    )
    # empty registers fold ARITHMETICALLY from the bounded register
    # table: present registers always have rho >= 1 (rest < 2^54 ->
    # bin length <= 54), so n_empty = 64 - n_present and each empty
    # contributes exactly 2^60 to the estimator sum. The old shape
    # materialized a (group x 64) spine FROM the exact relation and
    # left-joined the registers — which re-executed the exact
    # aggregation's corpus lineage a second time (no CSE across join
    # sides) and paid two extra exchanges for rows whose content was
    # knowable from a count.
    pg = regs.groupBy("__g").agg(
        F.sum(
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT), 60 - CAST(__m AS INT)) "
                "AS DECIMAL(38,0))"
            )
        ).alias("__sp"),
        F.count("*").cast("long").alias("__np"),
    )
    # LEFT join: a group whose values are all NULL has no register
    # rows at all; it folds as 64 empty registers, exactly what the
    # old spine gave it
    per_group = (
        exact.join(pg, "__g", "left")
        .withColumn(
            "n_empty",
            (F.lit(64) - F.coalesce(F.col("__np"), F.lit(0))).cast("long"),
        )
        .withColumn(
            "__s",
            F.expr(
                "coalesce(__sp, CAST(0 AS DECIMAL(38,0))) "
                "+ CAST(n_empty AS DECIMAL(38,0)) "
                "* CAST(1152921504606846976 AS DECIMAL(38,0))"
            ),
        )
        .withColumn(
            "hll_est",
            F.expr(
                "CAST(CAST(709365 AS DECIMAL(38,0)) * 4096 "
                "* CAST(1152921504606846976 AS DECIMAL(38,0)) "
                "div __s div 1000000 AS BIGINT)"
            ),
        )
    )
    return per_group.select(
        F.col("__g").alias(group_col),
        "n_exact",
        "hll_est",
        F.expr(
            "CAST((hll_est - n_exact) * 1000000 "
            "div NULLIF(n_exact, 0) AS BIGINT)"
        ).alias("err_ppm"),
        "n_empty",
    )
