"""Corpus-curation queries (round-2 continuation): duplicate-n-gram
quality signal, winnowing fingerprints, deterministic dataset splits,
and an n-gram LM quality score — the remaining operators a
training-data pipeline runs between raw text and tokenized shards.

Same contract as the rest of the suite: each Spark program has a
DuckDB oracle over the identical parquet tables, all computed columns
aliased identically, doubles rounded, so the driver's
order-insensitive value-hash matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_guiacores_spark.operators.sampling import hash_split
from etl_guiacores_spark.operators.textstats import (
    gram_hash_u32,
    kgrams,
    tokens,
    winnow_fingerprints,
)
from etl_guiacores_spark.queries import register
from etl_guiacores_spark.sources.tables import load_table, table_row_count

#: DuckDB twin of textstats.tokens() — identical token boundaries
_TOKS = "string_split_regex(trim(text), '[ \\t\\n\\r\\f\\v]+')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "documents", sf_dir)
        .filter(F.length(F.trim("text")) > 0)
    )


# ---------------------------------------------------------------------------
# q71: duplicate-n-gram fraction (Gopher/C4-style quality signal)
# ---------------------------------------------------------------------------

@register(
    "q71_dup_ngram_fraction",
    f"""
    WITH w AS MATERIALIZED (
        SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 5
                 THEN list_transform(range(1, len(toks) - 3),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           || ' ' || toks[i+3] || ' ' || toks[i+4])
                 ELSE CAST([] AS VARCHAR[]) END) AS win
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
    ),
    c AS (SELECT win, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY win)
    SELECT doc_id, COUNT(*) AS n_windows,
           ROUND(AVG(CASE WHEN nd > 1 THEN CAST(1 AS DOUBLE)
                          ELSE CAST(0 AS DOUBLE) END), 6) AS dup_frac
    FROM w JOIN c USING (win)
    GROUP BY doc_id
    """,
    doc="Cross-document duplicate-n-gram fraction (the Gopher/C4 "
    "repetition-across-corpus signal): fraction of a document's 5-token "
    "windows that occur in >= 2 distinct documents. One explode, one "
    "count-distinct agg on the window key, one co-partitioned join "
    "back, one per-doc agg — the shuffles move (window, id) pairs, "
    "never the text; Zipf-hot windows are AQE skew-join territory. At "
    "100 TB the window string becomes xxhash64(window) to cut shuffle "
    "bytes (deterministic either way).",
)
def q71_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    wins = kgrams(tokens(F.col("text")), 5)
    w = d.select("doc_id", F.explode(wins).alias("win"))
    nd = w.groupBy("win").agg(F.count_distinct("doc_id").alias("nd"))
    dup = F.when(F.col("nd") > 1, F.lit(1.0)).otherwise(F.lit(0.0))
    return (
        w.join(nd, "win")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.round(F.avg(dup), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q72: winnowing fingerprints (MOSS rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

#: shared winnowing-fingerprint SQL (q72 output, q77 input): k=4 token
#: grams, u32 md5-prefix hashes, window-of-4 minima, distinct per doc
_WINNOW_SQL = f"""
    SELECT DISTINCT doc_id,
           list_min(list_slice(h, j, j + 3)) AS fingerprint
    FROM (
        SELECT doc_id, h, unnest(range(1, len(h) - 2)) AS j
        FROM (
            SELECT doc_id,
                   list_transform(
                       list_transform(range(1, len(toks) - 2),
                           i -> toks[i] || ' ' || toks[i+1] || ' '
                                || toks[i+2] || ' ' || toks[i+3]),
                       g -> CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)) AS h
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
                  WHERE LENGTH(trim(text)) > 0)
            WHERE len(toks) >= 7
        )
    )
"""


@register(
    "q72_winnowing_fingerprints",
    _WINNOW_SQL,
    doc="Winnowing fingerprints (Schleimer et al., MOSS): hash every "
    "4-token gram, slide a 4-wide window over the hash sequence, keep "
    "each window's min, distinct per doc. Any shared 7-token run "
    "between two documents is guaranteed >= 1 shared fingerprint, so "
    "overlap detection becomes an equi-join on the fingerprint — the "
    "local-algorithm property that makes substring-level dedup "
    "shuffle a few longs per doc instead of the text. Token/gram/hash "
    "stages are materialized columns (interpreted HOFs have no CSE).",
)
def q72_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fingerprints(_docs(spark, sf_dir), k=4, w=4)


# ---------------------------------------------------------------------------
# q77: winnowing overlap pairs (substring-dedup candidates)
# ---------------------------------------------------------------------------

@register(
    "q77_winnow_overlap_pairs",
    f"""
    WITH fps AS MATERIALIZED ({_WINNOW_SQL}),
    nd AS (SELECT fingerprint, COUNT(*) AS nd FROM fps GROUP BY fingerprint),
    kept AS (SELECT fps.doc_id, fps.fingerprint
             FROM fps JOIN nd USING (fingerprint) WHERE nd.nd <= 50)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM kept a JOIN kept b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
    doc="Substring-overlap candidate pairs from winnowing fingerprints "
    "(the scalable stand-in for suffix-array substring dedup, Lee et "
    "al.): equi-join documents on shared fingerprints, count per "
    "pair, keep pairs sharing >= 2. Fingerprints appearing in > 50 "
    "docs (boilerplate) are dropped BEFORE the pair join — they cost "
    "posting^2 rows and carry no signal — so output scales with true "
    "overlap density, not corpus size.",
)
def q77_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.textstats import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _docs(spark, sf_dir), k=4, w=4, min_shared=2, max_postings=50
    )


# ---------------------------------------------------------------------------
# q73: deterministic train/val/test split accounting
# ---------------------------------------------------------------------------

@register(
    "q73_hash_split_counts",
    """
    SELECT source, split, COUNT(*) AS n FROM (
        SELECT source,
               CASE WHEN u < 3435973836 THEN 'train'
                    WHEN u < 3865470566 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT source,
                   CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS u
            FROM documents)
    )
    GROUP BY source, split
    """,
    doc="Deterministic 80/10/10 train/val/test assignment by md5-hash "
    "threshold on the doc id, then per-(source, split) accounting. "
    "Pure scan-speed expression — reproducible across engines, "
    "retries, and repartitionings; a document never migrates splits "
    "when upstream filters change; the only shuffle is the final "
    "tiny counts agg.",
)
def q73_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    assigned = hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="split"
    )
    return assigned.groupBy("source", "split").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# q74: bigram LM quality score (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

@register(
    "q74_bigram_lm_score",
    f"""
    WITH dbc AS MATERIALIZED (
        SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1, COUNT(*) AS n
        FROM (
            SELECT doc_id, unnest(
                CASE WHEN len(toks) >= 2
                     THEN list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1])
                     ELSE CAST([] AS VARCHAR[]) END) AS bg
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
                  WHERE LENGTH(trim(text)) > 0))
        GROUP BY doc_id, bg
    ),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT unnest(toks) AS tok FROM (
            SELECT {_TOKS} AS toks FROM documents
            WHERE LENGTH(trim(text)) > 0)))
    SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           ROUND(SUM(n * -ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)))
                 / SUM(n), 4) AS lm_score
    FROM (SELECT doc_id, n,
                 SUM(n) OVER (PARTITION BY bg) AS c12,
                 SUM(n) OVER (PARTITION BY w1) AS c1
          FROM dbc), v
    GROUP BY doc_id
    """,
    doc="CCNet-style LM quality filter: score each document by the "
    "(occurrence-weighted) mean negative log-probability of its "
    "bigrams under an add-one-smoothed corpus bigram model, "
    "p(w2|w1) = (C(w1 w2)+1)/(C(w1)+V). One tokenize+explode scan "
    "reduced to a persisted distinct (doc, bigram) count table; the "
    "corpus counts C(w1 w2) and C(w1) are groupBy aggregations joined "
    "back — map-side partial aggregation collapses the agg input and "
    "AQE's skew-join splits the Zipf-hot function-word partitions on "
    "the join, neither of which a window-sum plan gets (window "
    "exchanges have no partial agg and AQE never splits window "
    "partitions). The model IS the count table, nothing broadcast "
    "(vocab^2 is unbounded). Low score = fluent/common text, high = "
    "gibberish; the real-pipeline use is thresholding before "
    "pretraining.",
)
def q74_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bigrams = kgrams(tokens(F.col("text")), 2)
    # the reduced table feeds three subtrees (itself + both count
    # aggs) — persist so the corpus is tokenized once (Catalyst won't
    # CSE across join sides); bench.py reclaims the cache per query
    dbc = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .persist()
    )
    c12 = dbc.groupBy("bg").agg(F.sum("n").alias("c12"))
    # C(w1) folds the already-reduced per-bigram counts, not dbc rows
    c1 = (
        c12.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    scored = dbc.join(c12, "bg").join(c1, "w1")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    p = (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double")
    return (
        scored.crossJoin(F.broadcast(vocab))  # 1-row scalar, in-plan (one job)
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(F.sum(F.col("n") * -F.log(p)) / F.sum("n"), 4).alias(
                "lm_score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q75: BPE-ish regex token counting
# ---------------------------------------------------------------------------

#: GPT-2-style pre-tokenizer classes, ASCII-scoped so Java regex and
#: RE2 agree byte-for-byte: optional leading space + letter run /
#: digit run / punctuation run.
_BPE_PAT = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+"


@register(
    "q75_bpe_token_count",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe,
           len(string_split_regex(trim(text), '[ \\t\\n\\r\\f\\v]+')) AS n_ws
    FROM documents WHERE LENGTH(trim(text)) > 0
    """,
    doc="BPE-ish token counting: a GPT-2-style pre-tokenizer regex "
    "(optional-space + letter/digit/punct runs) counted next to the "
    "whitespace token count — the budget estimate a pretraining "
    "pipeline runs before the real tokenizer. Pure per-row "
    "regexp_extract_all inside codegen; scan speed, no shuffle, and "
    "the regex is ASCII-scoped so Java regex and RE2 tokenize "
    "identically.",
)
def q75_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))).alias(
            "n_bpe"
        ),
        F.size(tokens(F.col("text"))).alias("n_ws"),
    )


# ---------------------------------------------------------------------------
# q76: per-source length deciles (curation threshold analysis)
# ---------------------------------------------------------------------------

@register(
    "q76_source_length_deciles",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(percentile_cont(0.1) WITHIN GROUP (ORDER BY n_chars), 4) AS p10,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars), 4) AS p50,
           ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars), 4) AS p90
    FROM documents
    GROUP BY source
    """,
    doc="Exact per-source length percentiles (the distribution scan "
    "that sets curation cutoffs). Spark's percentile aggregate uses "
    "the same linear interpolation as SQL percentile_cont, so the "
    "oracle matches bit-for-bit after rounding. Exact percentiles "
    "shuffle each group's values; at 100 TB swap approx_percentile "
    "(t-digest sketch, decomposable, map-side combined) — the "
    "operator is registry-adjacent in operators/sketches.py with "
    "error-contract tests.",
)
def q76_source_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.1)), 4).alias("p10"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90"),
    )


# ---------------------------------------------------------------------------
# q78: Gopher-style quality rules (pre-tokenizer curation gate)
# ---------------------------------------------------------------------------

_STOPLIST_SQL = "['the','a','an','and','of','to','in','is','it','for']"

@register(
    "q78_gopher_quality_rules",
    f"""
    WITH m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               ROUND(CAST(list_sum(list_transform(toks, t -> LENGTH(t))) AS DOUBLE)
                     / len(toks), 6) AS mean_token_len,
               ROUND(CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                          AS DOUBLE) / len(toks), 6) AS alpha_frac,
               len(list_distinct(list_filter(list_transform(toks, t -> lower(t)),
                   t -> list_contains({_STOPLIST_SQL}, t)))) AS n_stop_distinct
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
    )
    SELECT doc_id, n_tokens, mean_token_len, alpha_frac, n_stop_distinct,
           CAST(n_tokens BETWEEN 20 AND 80
                AND mean_token_len BETWEEN 3.0 AND 10.0
                AND alpha_frac >= 0.8
                AND n_stop_distinct >= 2 AS INT) AS passes
    FROM m
    """,
    doc="Gopher-style (Rae et al.) quality rules: token-count band, "
    "mean-token-length band, alphabetic-word fraction, distinct "
    "stopword presence, and the combined pass flag. Pure per-row "
    "codegen arithmetic — no shuffle, no UDF; at 100 TB this is the "
    "cheapest gate so it runs FIRST, before any dedup shuffle moves "
    "bytes the filter was going to drop. Pass decision compares the "
    "ROUNDED metrics so both engines agree at band boundaries.",
)
def q78_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.textstats import gopher_quality

    return gopher_quality(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# q79: per-label centroid + L2 outlier distance (embedding curation)
# ---------------------------------------------------------------------------

@register(
    "q79_centroid_outliers",
    """
    WITH ex AS (
        SELECT vec_id, label,
               unnest(range(1, LEN(embedding) + 1)) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, dim, ROUND(SUM(v), 6) / COUNT(v) AS c
        FROM ex GROUP BY label, dim
    )
    SELECT ex.vec_id, ex.label,
           ROUND(SQRT(SUM((v - c) * (v - c))), 6) AS l2_to_centroid
    FROM ex JOIN cent USING (label, dim)
    GROUP BY ex.vec_id, ex.label
    """,
    doc="Per-group embedding centroid + each vector's L2 distance to "
    "its own group centroid (the outlier score curation thresholds "
    "to drop mis-clustered documents). posexplode -> decomposable "
    "sum/count agg gives an n_groups x dims centroid table — tiny at "
    "ANY corpus scale — broadcast back against the exploded vectors; "
    "the only shuffle is the centroid agg. Per-dim sums rounded "
    "before the divide so column-store summation order can't leak "
    "ulp drift through the sqrt.",
)
def q79_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import centroid_outlier_scores

    return centroid_outlier_scores(load_table(spark, "embeddings", sf_dir))


# ---------------------------------------------------------------------------
# q80: scalable dense id assignment (shard-writer numbering)
# ---------------------------------------------------------------------------

@register(
    "q80_dense_ids",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS row_id
    FROM documents
    """,
    doc="Contiguous 1-based ids in key order WITHOUT the "
    "single-partition global window the naive ROW_NUMBER plan "
    "forces: range-partition on the key, rank locally per partition, "
    "add broadcast cumulative partition offsets (one row per "
    "partition). The only all-rows shuffle is the range repartition "
    "— the numbering a 100 TB shard-writer runs before packing, "
    "where a one-partition sort would serialize the job.",
)
def q80_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.ordering import dense_ids

    return dense_ids(
        load_table(spark, "documents", sf_dir).select("doc_id"), "doc_id"
    )


# ---------------------------------------------------------------------------
# q81: duplicated-span removal with document reconstruction (C4-style)
# ---------------------------------------------------------------------------

@register(
    "q81_span_dedup_reconstruct",
    f"""
    WITH base AS MATERIALIZED (
        SELECT doc_id, toks
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
        WHERE len(toks) >= 5
    ),
    segs AS MATERIALIZED (
        SELECT doc_id, u.idx AS idx, u.seg AS seg
        FROM (SELECT doc_id,
                     unnest(list_transform(range(0, len(toks) // 5),
                         i -> struct_pack(idx := i,
                              seg := array_to_string(
                                  list_slice(toks, i * 5 + 1, i * 5 + 5),
                                  ' ')))) AS u
              FROM base)
    ),
    dup AS (SELECT seg, COUNT(DISTINCT doc_id) > 1 AS is_dup
            FROM segs GROUP BY seg)
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_segments,
           CAST(5 * (COUNT(*) - SUM(CASE WHEN is_dup THEN 1 ELSE 0 END))
                AS BIGINT) AS retained_tokens,
           md5(COALESCE(array_to_string(
                   array_agg(seg ORDER BY idx) FILTER (WHERE NOT is_dup),
                   ' '), '')) AS retained_md5
    FROM segs JOIN dup USING (seg)
    GROUP BY doc_id
    """,
    doc="Exact span-level dedup with reconstruction (the C4 / "
    "dedup-training-data move at segment granularity): cut each "
    "document into non-overlapping 5-token spans, drop every span "
    "that occurs in >= 2 distinct documents, and rebuild the "
    "surviving document in original span order (md5 of the "
    "reconstruction proves order end-to-end against the oracle). "
    "Shuffles move only (span, doc_id) pairs and the final per-doc "
    "agg; the rebuild is collect_list within one doc's group — "
    "bounded by document length, never by corpus size. At 100 TB the "
    "span string becomes xxhash64(span) for the dup-count leg while "
    "the rebuild leg keeps text; Zipf-hot spans are AQE skew "
    "territory, same as q71.",
)
def q81_span_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 5)
    )
    nseg = F.floor(F.size("toks") / 5).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - F.lit(1)),
        lambda i: F.array_join(F.slice(F.col("toks"), i * 5 + 1, F.lit(5)), " "),
    )
    s = d.select("doc_id", F.posexplode(segs).alias("idx", "seg"))
    dup = s.groupBy("seg").agg(
        (F.count_distinct("doc_id") > 1).alias("is_dup")
    )
    kept = F.when(~F.col("is_dup"), F.struct(F.col("idx"), F.col("seg")))
    n_dup = F.sum(F.col("is_dup").cast("long"))
    return (
        s.join(dup, "seg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            n_dup.alias("n_dup_segments"),
            (F.lit(5) * (F.count("*") - n_dup)).cast("long").alias(
                "retained_tokens"
            ),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept)), lambda x: x["seg"]
                    ),
                    " ",
                )
            ).alias("retained_md5"),
        )
    )


# ---------------------------------------------------------------------------
# q82: temperature-scaled mixture weights (multilingual alpha-sampling)
# ---------------------------------------------------------------------------

@register(
    "q82_temperature_mixture",
    """
    WITH c AS (SELECT source, lang, COUNT(*) AS n_docs
               FROM documents GROUP BY source, lang),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
                 SUM(SQRT(CAST(n_docs AS DOUBLE))) AS pow_sum
          FROM c)
    SELECT source, lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / total, 6) AS share,
           ROUND(SQRT(CAST(n_docs AS DOUBLE)) / pow_sum, 6) AS weight
    FROM c CROSS JOIN t
    """,
    doc="Temperature-scaled sampling weights per (source, lang) "
    "stratum — the multilingual alpha-sampling rule (weight "
    "proportional to n^alpha, here alpha=0.5 via SQRT, which is "
    "IEEE-exact in both engines so the oracle matches bit-for-bit; "
    "1/N^alpha cancels in the normalization). The stratum table is "
    "one partial-agg shuffle; the totals row is a broadcast cross "
    "join, keeping the whole computation one in-plan job with no "
    "driver-side scalars — the shape that still works when the "
    "stratum count is thousands and the corpus is 100 TB.",
)
def q82_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    c = d.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").alias("total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("pow_sum"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "source",
        "lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias(
            "share"
        ),
        F.round(
            F.sqrt(F.col("n_docs").cast("double")) / F.col("pow_sum"), 6
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# q83: Z-order layout keys (multi-dimensional data clustering for pruning)
# ---------------------------------------------------------------------------

@register(
    "q83_zorder_layout",
    """
    WITH b AS (
        SELECT (o_custkey & 65535) AS x,
               ((CAST(o_orderdate AS DATE) - DATE '1992-01-01') & 65535) AS y
        FROM orders
    ),
    s1 AS (SELECT ((x | (x << 8)) & 16711935) AS x,
                  ((y | (y << 8)) & 16711935) AS y FROM b),
    s2 AS (SELECT ((x | (x << 4)) & 252645135) AS x,
                  ((y | (y << 4)) & 252645135) AS y FROM s1),
    s3 AS (SELECT ((x | (x << 2)) & 858993459) AS x,
                  ((y | (y << 2)) & 858993459) AS y FROM s2),
    s4 AS (SELECT ((x | (x << 1)) & 1431655765) AS x,
                  ((y | (y << 1)) & 1431655765) AS y FROM s3),
    z AS (SELECT (x | (y << 1)) AS zkey FROM s4)
    SELECT CAST(zkey >> 18 AS BIGINT) AS zbucket,
           COUNT(*) AS n_orders,
           CAST(MIN(zkey) AS BIGINT) AS min_z,
           CAST(MAX(zkey) AS BIGINT) AS max_z
    FROM z GROUP BY zbucket
    """,
    doc="Z-order (Morton) layout keys over (customer, order-date): "
    "interleave 16 bits of each dimension with magic-mask spreads — "
    "pure 64-bit integer expressions, whole-stage codegen, zero "
    "shuffle until the tiny bucket histogram agg. This is the sort "
    "key a 100 TB table is range-partitioned and written by (Delta "
    "ZORDER / Iceberg sort-order semantics) so min-max file stats "
    "prune BOTH dimensions; the bucket histogram is exactly the file- "
    "skipping statistic the layout buys. range-partition-by-zkey + "
    "sortWithinPartitions + write is write_partitioned's job; the "
    "key computation here is the engine-portable part.",
)
def q83_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.ordering import zorder_key

    o = load_table(spark, "orders", sf_dir)
    zkey = zorder_key(
        F.col("o_custkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ),
    )
    return (
        o.select(zkey.alias("zkey"))
        .groupBy(F.shiftright(F.col("zkey"), 18).cast("long").alias("zbucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("zkey").cast("long").alias("min_z"),
            F.max("zkey").cast("long").alias("max_z"),
        )
    )


# ---------------------------------------------------------------------------
# q84: kNN label voting (nearest-neighbor classification / auto-labeling)
# ---------------------------------------------------------------------------

_Q84_DOT = (
    "list_sum(list_transform(range(1, LEN(q.embedding) + 1), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
)
_Q84_NQ = (
    "SQRT(list_sum(list_transform(range(1, LEN(q.embedding) + 1), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))"
)
_Q84_NE = (
    "SQRT(list_sum(list_transform(range(1, LEN(e.embedding) + 1), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))"
)


@register(
    "q84_knn_label_vote",
    f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.label AS label,
               ROUND({_Q84_DOT} / ({_Q84_NQ} * {_Q84_NE}), 6) AS sim
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id % 100 = 7
    ),
    knn AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rank
            FROM pairs
        ) WHERE rank <= 5
    ),
    votes AS (SELECT query_id, label, COUNT(*) AS votes
              FROM knn GROUP BY query_id, label)
    SELECT query_id, CAST(label AS INT) AS pred_label, votes FROM (
        SELECT query_id, label, votes,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY votes DESC, label) AS rn
        FROM votes
    ) WHERE rn = 1
    """,
    doc="kNN majority-vote classification (the auto-labeling / "
    "semantic-filter pass a curation pipeline runs with a small "
    "labeled seed set): exact top-5 cosine neighbors per query "
    "(knn_brute_force — broadcast query set, one corpus scan), then "
    "a vote count and a deterministic argmax (ties broken by "
    "smallest label, mirrored in the oracle's ROW_NUMBER). The vote "
    "legs shuffle only (query, label) pairs — negligible next to the "
    "scan; sims are rounded to 6 digits before ranking on BOTH "
    "engines so float fold order cannot flip the neighbor set.",
)
def q84_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_guiacores_spark.operators.similarity import knn_brute_force

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") % 100 == 7)
    knn = knn_brute_force(e, q, k=5)
    votes = (
        knn.join(
            e.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id", F.col("label").cast("int").alias("pred_label"), "votes"
        )
    )


# ---------------------------------------------------------------------------
# q85: near-dup split leakage (train/test contamination accounting)
# ---------------------------------------------------------------------------

from etl_guiacores_spark.queries_scale import _MINHASH_CTE  # noqa: E402

#: LSH band/candidate legs shared by q85/q86 — identical to q50's.
_BANDS_CTE = """,
    bands AS MATERIALIZED (
        SELECT doc_id, '0|' || sig_0 AS band FROM sigs WHERE sig_0 IS NOT NULL
        UNION ALL SELECT doc_id, '1|' || sig_1 FROM sigs WHERE sig_1 IS NOT NULL
        UNION ALL SELECT doc_id, '2|' || sig_2 FROM sigs WHERE sig_2 IS NOT NULL
        UNION ALL SELECT doc_id, '3|' || sig_3 FROM sigs WHERE sig_3 IS NOT NULL
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    )
"""

_SPLIT_CTE = """,
    splits AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN u < 3435973836 THEN 'train'
                    WHEN u < 3865470566 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) AS u
              FROM documents)
    )
"""


@register(
    "q85_split_leakage",
    _MINHASH_CTE
    + _BANDS_CTE
    + _SPLIT_CTE
    + """
    SELECT LEAST(pa.split, pb.split) AS split_lo,
           GREATEST(pa.split, pb.split) AS split_hi,
           COUNT(*) AS n_pairs,
           CAST(LEAST(pa.split, pb.split) <> GREATEST(pa.split, pb.split)
                AS INT) AS is_cross
    FROM (
        SELECT c.id_a, c.id_b
        FROM candidates c
        JOIN shingled sa ON sa.doc_id = c.id_a
        JOIN shingled sb ON sb.doc_id = c.id_b
        WHERE LEN(list_distinct(list_concat(sa.sh, sb.sh))) > 0
          AND CAST(LEN(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / LEN(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.6
    ) v
    JOIN splits pa ON pa.doc_id = v.id_a
    JOIN splits pb ON pb.doc_id = v.id_b
    GROUP BY split_lo, split_hi
    """,
    doc="Train/test contamination accounting: verified near-dup pairs "
    "(the q50 LSH -> exact-Jaccard leg) joined against the "
    "deterministic hash-split assignment (q73) of BOTH endpoints, "
    "grouped by unordered split pair — n_pairs with is_cross=1 are "
    "documents whose near-duplicate landed in a different split, the "
    "leakage an eval pipeline must subtract. All legs are the "
    "already-scale-shaped operators (banded LSH, hash split); the "
    "leakage join moves only (id, split) pairs.",
)
def q85_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.plans.corpus_pipeline import near_dup_pairs

    d = _docs(spark, sf_dir)
    verified = near_dup_pairs(d.select("doc_id", "text"), 0.6, portable=True)
    splits = hash_split(
        load_table(spark, "documents", sf_dir).select("doc_id"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed="split",
    )
    pa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    pb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    return (
        verified.join(pa, "id_a")
        .join(pb, "id_b")
        .groupBy(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
        .agg(F.count("*").alias("n_pairs"))
        .withColumn(
            "is_cross",
            (F.col("split_lo") != F.col("split_hi")).cast("int"),
        )
    )


# ---------------------------------------------------------------------------
# q86: MinHash estimator error vs exact Jaccard (sketch quality audit)
# ---------------------------------------------------------------------------

@register(
    "q86_minhash_estimate_error",
    _MINHASH_CTE
    + _BANDS_CTE
    + """
    SELECT id_a, id_b, est_jaccard, exact_jaccard,
           ROUND(ABS(est_jaccard - exact_jaccard), 6) AS abs_err
    FROM (
        SELECT c.id_a, c.id_b,
               ROUND((CASE WHEN ga.sig_0 = gb.sig_0 THEN 1 ELSE 0 END
                    + CASE WHEN ga.sig_1 = gb.sig_1 THEN 1 ELSE 0 END
                    + CASE WHEN ga.sig_2 = gb.sig_2 THEN 1 ELSE 0 END
                    + CASE WHEN ga.sig_3 = gb.sig_3 THEN 1 ELSE 0 END)
                     / 4.0, 6) AS est_jaccard,
               ROUND(CAST(LEN(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / LEN(list_distinct(list_concat(sa.sh, sb.sh))), 6)
                   AS exact_jaccard
        FROM candidates c
        JOIN shingled sa ON sa.doc_id = c.id_a
        JOIN shingled sb ON sb.doc_id = c.id_b
        JOIN sigs ga ON ga.doc_id = c.id_a
        JOIN sigs gb ON gb.doc_id = c.id_b
        WHERE LEN(list_distinct(list_concat(sa.sh, sb.sh))) > 0
    )
    """,
    doc="Sketch-quality audit: for every LSH candidate pair, the "
    "MinHash-estimated Jaccard (fraction of the 4 signature slots "
    "that agree — the unbiased estimator the production dedup path "
    "relies on) next to the exact shingle Jaccard, with the absolute "
    "error. This is the query you run on a sample before trusting a "
    "signature budget at 100 TB: est is free once signatures exist; "
    "exact re-reads shingles only for the candidate set, which LSH "
    "has already bounded. Both columns rounded before the "
    "difference so the error itself hash-matches the oracle.",
)
def q86_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import (
        jaccard_of_shingles,
        lsh_candidate_pairs_from_sigs,
        staged_minhash_shingles,
    )

    d = _docs(spark, sf_dir)
    docs = d.select("doc_id", "text")
    staged = staged_minhash_shingles(docs, "doc_id", "text")
    candidates = lsh_candidate_pairs_from_sigs(staged, "doc_id")
    est = (
        sum(
            (F.col(f"a_sig_{i}") == F.col(f"b_sig_{i}")).cast("int")
            for i in range(4)
        )
        / F.lit(4.0)
    )
    # one join per side: each side row carries shingles AND signature
    a_side = staged.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        *[F.col(f"sig_{i}").alias(f"a_sig_{i}") for i in range(4)],
    )
    b_side = staged.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        *[F.col(f"sig_{i}").alias(f"b_sig_{i}") for i in range(4)],
    )
    pairs = (
        candidates.join(a_side, "id_a")
        .join(b_side, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(
                jaccard_of_shingles(F.col("sh_a"), F.col("sh_b")), 6
            ).alias("exact_jaccard"),
        )
    )
    return pairs.withColumn(
        "abs_err",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6),
    )


# ---------------------------------------------------------------------------
# q87: weighted sampling without replacement (A-Res)
# ---------------------------------------------------------------------------

@register(
    "q87_weighted_sample",
    """
    SELECT doc_id, n_chars FROM (
        SELECT doc_id, LENGTH(text) AS n_chars,
               -ln((CAST(('0x' || substr(md5('wrs:' || CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) + 0.5) / 4294967296.0)
               / LENGTH(text) AS race
        FROM documents WHERE LENGTH(trim(text)) > 0
    ) ORDER BY race, doc_id LIMIT 120
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "A-Res): each doc draws u ~ U(0,1) deterministically from its id "
    "hash and races with exponential key -ln(u)/weight (weight = doc "
    "length); the 120 smallest win, so selection probability tracks "
    "weight and the chosen set is identical across engines, retries, "
    "and partitionings. One scan + distributed top-k (per-partition "
    "heads merged), never a global sort — the mixture-construction "
    "sampler that replaces non-reproducible df.sample at 100 TB.",
)
def q87_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sampling import weighted_sample_topk

    d = _docs(spark, sf_dir).select(
        "doc_id", F.length("text").alias("n_chars")
    )
    return weighted_sample_topk(d, "doc_id", "n_chars", 120, seed="wrs")


# ---------------------------------------------------------------------------
# q88: blocklist domain filtering (suffix-matched, equi-joinable)
# ---------------------------------------------------------------------------

@register(
    "q88_blocklist_filter",
    """
    SELECT c_custkey, url FROM (
        SELECT c_custkey,
               CASE c_custkey % 4
                 WHEN 0 THEN 'https://spam.example.com/p/' || CAST(c_custkey AS VARCHAR)
                 WHEN 1 THEN 'https://shop.com.ar/s/' || CAST(c_custkey AS VARCHAR)
                 WHEN 2 THEN 'http://cdn.tracker.io/x/' || CAST(c_custkey AS VARCHAR)
                 ELSE 'https://example.com/' || CAST(c_custkey AS VARCHAR)
               END AS url
        FROM customer
    )
    WHERE c_custkey % 4 = 1
    """,
    doc="Crawl blocklist filtering at table scale: drop every row whose "
    "URL host is, or is a subdomain of, a blocked registrable domain "
    "(spam.example.com and bare example.com both match example.com; "
    "cdn.tracker.io matches tracker.io). The operator probes the "
    "host's last-2/last-3 labels against a broadcast blocklist as an "
    "EQUI-join — never a contains() nested loop — so a million-entry "
    "blocklist over 100 TB of URLs stays a hash join. The oracle "
    "resolves each synthetic URL branch to its known verdict.",
)
def q88_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.joins import filter_blocked_domains

    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    url = (
        F.when(k % 4 == 0, F.concat(F.lit("https://spam.example.com/p/"), k.cast("string")))
        .when(k % 4 == 1, F.concat(F.lit("https://shop.com.ar/s/"), k.cast("string")))
        .when(k % 4 == 2, F.concat(F.lit("http://cdn.tracker.io/x/"), k.cast("string")))
        .otherwise(F.concat(F.lit("https://example.com/"), k.cast("string")))
    )
    df = c.select("c_custkey", url.alias("url"))
    blocked = spark.createDataFrame([("example.com",), ("tracker.io",)], ["domain"])
    # Rows are keyed, so removal is a key-only anti-join (text/url
    # never rides the removal shuffle) — joins.py keyed path.
    return filter_blocked_domains(df, blocked, "url", key_col="c_custkey")


# ---------------------------------------------------------------------------
# q89: global token offsets (scalable prefix sum)
# ---------------------------------------------------------------------------

@register(
    "q89_token_offsets",
    f"""
    SELECT doc_id,
           CAST(LEN({_TOKS}) AS BIGINT) AS n_tok,
           CAST(COALESCE(SUM(LEN({_TOKS}))
                    OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS token_offset
    FROM documents WHERE LENGTH(trim(text)) > 0
    """,
    doc="Corpus serialization offsets: at which global token position "
    "does each document start when the corpus is concatenated in id "
    "order — the index a shard-writer needs before packing. The naive "
    "SUM() OVER (ORDER BY id) forces every row through ONE partition; "
    "this runs the dense_ids machinery instead: range-partition on id, "
    "partition-local running sums (parallel windows), then a broadcast "
    "join of one-row-per-partition cumulative totals. The only "
    "all-rows shuffle is the range repartition.",
)
def q89_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.ordering import global_prefix_sum

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    out = global_prefix_sum(
        d, "doc_id", "n_tok", out_col="token_offset", exclusive=True
    )
    return out.select("doc_id", "n_tok", "token_offset")


# ---------------------------------------------------------------------------
# q94: mixture rebalancing (accounting -> keep rates -> hash thinning)
# ---------------------------------------------------------------------------

@register(
    "q94_mixture_rebalance",
    f"""
    WITH per_doc AS (
        SELECT doc_id, source, LEN({_TOKS}) AS n_tok
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    agg AS (
        SELECT source, SUM(n_tok) AS src_tokens FROM per_doc GROUP BY source
    ),
    tot AS (
        SELECT SUM(src_tokens) AS total, COUNT(*) AS n_sources FROM agg
    ),
    rates AS (
        SELECT source,
               LEAST(1.0, (CAST(total AS DOUBLE) / n_sources)
                          / CAST(src_tokens AS DOUBLE)) AS keep_rate
        FROM agg, tot
    )
    SELECT p.source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens_kept
    FROM per_doc p JOIN rates r ON p.source = r.source
    WHERE CAST(('0x' || substr(md5('rebal:' || CAST(p.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)
          < CAST(FLOOR(r.keep_rate * 4294967296.0) AS BIGINT)
    GROUP BY p.source
    """,
    doc="Mixture rebalancing end-to-end: per-source token accounting "
    "(the q58 leg) derives a keep rate capping every source at the "
    "uniform token target, then deterministic hash thinning (the q67 "
    "leg, per-row rate column) applies it — the close-the-loop "
    "operation that turns mixture ACCOUNTING into an actual "
    "rebalanced corpus. Rates travel as a broadcast n_sources-row "
    "table; the filter is scan-speed; keep decisions are stable "
    "across engines, retries, and partitionings. Rate arithmetic "
    "stays in +,*,/,floor (IEEE-exact) so both engines compute the "
    "identical integer threshold.",
)
def q94_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sampling import hash_sample

    d = _docs(spark, sf_dir)
    per_doc = d.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    agg = per_doc.groupBy("source").agg(F.sum("n_tok").alias("src_tokens"))
    tot = agg.agg(
        F.sum("src_tokens").alias("total"), F.count("*").alias("n_sources")
    )
    rates = agg.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.col("total").cast("double") / F.col("n_sources"))
            / F.col("src_tokens").cast("double"),
        ).alias("keep_rate"),
    )
    kept = hash_sample(
        per_doc.join(F.broadcast(rates), "source"),
        "doc_id",
        F.col("keep_rate"),
        seed="rebal",
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"), F.sum("n_tok").alias("n_tokens_kept")
    )


# ---------------------------------------------------------------------------
# q95: shard manifest (token offsets -> shard assignment -> manifest)
# ---------------------------------------------------------------------------

@register(
    "q95_shard_manifest",
    f"""
    WITH offs AS (
        SELECT doc_id,
               LEN({_TOKS}) AS n_tok,
               COALESCE(SUM(LEN({_TOKS}))
                    OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off
        FROM documents WHERE LENGTH(trim(text)) > 0
    )
    SELECT CAST(off // 2000 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM offs GROUP BY shard_id
    """,
    doc="Shard-writer manifest: serialize the corpus in id order, cut "
    "fixed-token-budget shards at document boundaries (shard = "
    "token_offset div budget; 2000 tokens here so the small fixtures "
    "produce a real manifest), and emit each shard's accounting and id "
    "range. Built on the scalable prefix sum (q89's operator — no "
    "single-partition window); the manifest is what a downstream "
    "trainer reads to locate and size its input files. Pure integer "
    "arithmetic end to end.",
)
def q95_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.ordering import global_prefix_sum

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    offs = global_prefix_sum(d, "doc_id", "n_tok", out_col="off", exclusive=True)
    return (
        offs.withColumn("shard_id", F.expr("off div 2000"))
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# q97: embedding class-separation audit (per-label centroid cosines)
# ---------------------------------------------------------------------------

@register(
    "q97_label_centroid_cosine",
    """
    WITH ex AS (
        -- dim derived from each row's own array via parallel unnest
        -- (generate_series rejects lateral column args): a regenerated
        -- fixture with a different width must not make the oracle
        -- silently truncate while Spark posexplodes all of it
        SELECT label, unnest(range(1, LEN(embedding) + 1)) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cent AS (
        SELECT label, pos, AVG(x) AS c FROM ex GROUP BY label, pos
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(SUM(a.c * b.c)
                 / (SQRT(SUM(a.c * a.c)) * SQRT(SUM(b.c * b.c))), 6)
               AS centroid_cosine
    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
    GROUP BY a.label, b.label
    """,
    doc="Embedding class-separation audit: per-label centroid (element-"
    "wise mean via posexplode + groupBy — two shuffles moving (label, "
    "dim, value) triples, never whole vectors twice) and the cosine "
    "between every label pair. High off-diagonal cosines mean the "
    "label classes are not separable in embedding space — the check "
    "run before trusting kNN auto-labeling (q84) or class-balanced "
    "sampling. Output is |labels|^2 rows regardless of corpus size; "
    "sims rounded to 6 digits on both engines (the q63 discipline).",
)
def q97_label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    ex = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    cent = ex.groupBy("label", "pos").agg(
        F.avg(F.col("x").cast("double")).alias("c")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("c").alias("cb")
    )
    return (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.round(
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                ),
                6,
            ).alias("centroid_cosine")
        )
    )


# ---------------------------------------------------------------------------
# q98: Zipf slope (corpus naturalness diagnostic)
# ---------------------------------------------------------------------------

@register(
    "q98_zipf_slope",
    f"""
    WITH counts AS (
        SELECT tok, COUNT(*) AS n FROM (
            SELECT unnest({_TOKS}) AS tok FROM documents
            WHERE LENGTH(trim(text)) > 0
        ) GROUP BY tok
    ),
    ranked AS (
        SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS DOUBLE)) AS lx,
               ln(CAST(n AS DOUBLE)) AS ly
        FROM counts
    )
    SELECT COUNT(*) AS n_tokens,
           ROUND((COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly))
                 / (COUNT(*) * SUM(lx * lx) - SUM(lx) * SUM(lx)), 4)
               AS zipf_slope
    FROM ranked
    """,
    doc="Zipf-slope corpus naturalness check: least-squares slope of "
    "ln(frequency) vs ln(rank) over the vocabulary — natural language "
    "sits near -1; templated/synthetic text is much flatter, and a "
    "drifting slope across ingest batches flags a corrupted source. "
    "One tokenize scan + one token-keyed groupBy; the regression "
    "itself runs over the REDUCED vocabulary (the window and sums "
    "touch one row per distinct token, not per occurrence). Ranks are "
    "tie-broken lexicographically and the slope rounded to 4 digits "
    "so both engines agree.",
)
def q98_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    # vocabulary-sized window (one row per distinct token) — tiny
    w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    ranked = counts.select(
        F.log(F.row_number().over(w).cast("double")).alias("lx"),
        F.log(F.col("n").cast("double")).alias("ly"),
    )
    n = F.count("*")
    slope = (n * F.sum(F.col("lx") * F.col("ly")) - F.sum("lx") * F.sum("ly")) / (
        n * F.sum(F.col("lx") * F.col("lx")) - F.sum("lx") * F.sum("lx")
    )
    return ranked.agg(
        F.count("*").alias("n_tokens"), F.round(slope, 4).alias("zipf_slope")
    )


# ---------------------------------------------------------------------------
# q99: strict-order conversion funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------

@register(
    "q99_funnel",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS tv FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS tc
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.tv
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS tp
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.tc
        GROUP BY e.user_id
    )
    SELECT 'view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL SELECT 'click', COUNT(*) FROM c
    UNION ALL SELECT 'purchase', COUNT(*) FROM p
    """,
    doc="Strict-order conversion funnel: users whose first view "
    "precedes a click that precedes a purchase — each stage keeps the "
    "FIRST qualifying event and the next stage requires a strictly "
    "later one, so out-of-order events never count. Three keyed "
    "aggregations + two user-keyed joins (user_id is the shuffle key "
    "throughout, so a co-partitioned layout runs it exchange-free); "
    "output is one row per stage regardless of event volume.",
)
def q99_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    stage = lambda df, name: df.agg(F.count("*").alias("n_users")).select(
        F.lit(name).alias("stage"), "n_users"
    )
    return stage(v, "view").unionAll(stage(c, "click")).unionAll(
        stage(p, "purchase")
    )


# ---------------------------------------------------------------------------
# q100: weekly cohort retention matrix
# ---------------------------------------------------------------------------

@register(
    "q100_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_trunc('week', e.ts) AS DATE) AS activity_week
        FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, activity_week) // 7 AS BIGINT)
               AS week_offset,
           COUNT(*) AS n_active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
    doc="Weekly cohort retention: users grouped by the ISO week of "
    "their first event, counted once per later week they were active "
    "— the (cohort, week-offset) retention matrix every product "
    "analytics stack computes. Two user-keyed aggregations and one "
    "user-keyed join; week arithmetic stays in integer day-diffs "
    "(floor division by 7) so both engines bucket identically. "
    "Output is bounded by cohorts x observed weeks, not event volume.",
)
def q100_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).cast("date").alias("activity_week"),
        )
        .distinct()
    )
    return (
        activity.withColumn(
            "week_offset",
            F.expr("datediff(activity_week, cohort_week) div 7").cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active_users"))
    )


# ---------------------------------------------------------------------------
# q102: ranking-window breadth (ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------

@register(
    "q102_rank_windows",
    """
    SELECT doc_id, source,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           LAG(doc_id) OVER w AS prev_doc,
           LEAD(doc_id) OVER w AS next_doc
    FROM (
        SELECT doc_id, source, LENGTH(text) AS n_chars FROM documents
        WHERE LENGTH(trim(text)) > 0
    )
    WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
    """,
    doc="Ranking-window surface in one query: per-source quartile "
    "(NTILE), PERCENT_RANK, CUME_DIST, and LAG/LEAD neighbors over a "
    "deterministic (n_chars, doc_id) ordering — the remaining window "
    "functions q38/q51's frame queries don't exercise. Every window "
    "is PARTITIONED by source (parallel, never global); the ordering "
    "key is unique so ranks are tie-free and engine-identical, and "
    "the rank ratios are exact rationals both engines round alike.",
)
def q102_rank_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return d.select(
        "doc_id",
        "source",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.lag("doc_id").over(w).alias("prev_doc"),
        F.lead("doc_id").over(w).alias("next_doc"),
    )


# ---------------------------------------------------------------------------
# q103: grouped top-k WITHOUT a window (partial-aggregatable strategy)
# ---------------------------------------------------------------------------

@register(
    "q103_topk_via_aggregate",
    """
    SELECT o_custkey, o_orderkey, rnk
    FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
    doc="Grouped top-k by AGGREGATION instead of a ranking window: "
    "collect each group's (price, key) structs, sort-array, slice the "
    "head, posexplode ranks back out. Same spec as q09 (identical "
    "oracle, hash-matched), different physical strategy: a hash "
    "aggregate gets map-side PARTIAL aggregation and no per-group "
    "sort-within-shuffle. (Precision, added round 10: Spark >= 3.5's "
    "WindowGroupLimit gives the rank-filter window shape its own "
    "map-side pre-cut, so the window's residual cost is the final "
    "per-key stage at #partitions*k rows — see "
    "ordering.topk_per_key for the few-giant-keys variant that "
    "bounds it by a constant.) The trade is per-group memory (the "
    "collected list), so this shape wins when groups are "
    "small-to-moderate and k tiny — the common case — while the "
    "window shape wins on giant groups; an engine needs BOTH.",
)
def q103_topk_via_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    # struct sorts lexicographically: (-price? no — sort desc via
    # sort_array(..., asc=False) on (price, negated key) would flip the
    # tiebreak too, so sort ascending on (neg price, key)
    item = F.struct(
        (-F.col("o_totalprice")).alias("np"), F.col("o_orderkey").alias("k")
    )
    top = (
        o.groupBy("o_custkey")
        .agg(F.slice(F.sort_array(F.collect_list(item)), 1, 3).alias("top"))
        .select("o_custkey", F.posexplode("top").alias("pos", "it"))
    )
    return top.select(
        "o_custkey",
        F.col("it.k").alias("o_orderkey"),
        (F.col("pos") + 1).alias("rnk"),
    )


# ---------------------------------------------------------------------------
# q104: DSIR-style hashed n-gram importance weights (targeted selection)
# ---------------------------------------------------------------------------

@register(
    "q104_dsir_importance",
    f"""
    WITH toks AS (
        SELECT doc_id, (lang = 'en') AS is_t, unnest({_TOKS}) AS tok
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    b AS (
        SELECT doc_id, is_t,
               CAST(('0x' || substr(md5('dsir:' || tok), 1, 8)) AS BIGINT)
                   % 4096 AS bucket
        FROM toks
    ),
    r AS (
        SELECT bucket,
               CAST(((SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 1) * 1000000)
                    // (COUNT(*) + 1) AS BIGINT) AS ratio_ppm
        FROM b GROUP BY bucket
    )
    SELECT b.doc_id, COUNT(*) AS n_tok,
           CAST(SUM(r.ratio_ppm) AS BIGINT) AS importance_ppm
    FROM b JOIN r USING (bucket)
    GROUP BY b.doc_id
    """,
    doc="DSIR-shaped importance weighting (Xie et al. 2023): score "
    "every document by how much its hashed token features resemble a "
    "target distribution (here lang='en' plays the trusted subset) "
    "relative to the corpus — the ranking signal for targeted "
    "mixture up-sampling. Bucket ratios are add-one-smoothed integer "
    "parts-per-million with floor division instead of the paper's "
    "log-ratios: log/pow are not IEEE-exact across engines, ppm "
    "ratios hash bit-identically (the q58 discipline) and preserve "
    "the monotone per-feature structure. Scale shape: the bucket "
    "stats table is BOUNDED (4096 rows) no matter the corpus size, "
    "aggregated with map-side combine and broadcast back onto the "
    "token stream — the corpus-sized shuffles key on bucket ints and "
    "doc_id, never text (operators/importance.py).",
)
def q104_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.importance import dsir_importance

    d = _docs(spark, sf_dir)
    return dsir_importance(d, is_target=F.col("lang") == "en")


# ---------------------------------------------------------------------------
# q105: sketch-accuracy audit (HLL distinct counts vs exact)
# ---------------------------------------------------------------------------

@register(
    "q105_sketch_distinct_audit",
    f"""
    SELECT source, COUNT(DISTINCT tok) AS n_exact, TRUE AS within_tol
    FROM (SELECT source, unnest({_TOKS}) AS tok
          FROM documents WHERE LENGTH(trim(text)) > 0)
    GROUP BY source
    """,
    doc="Sketch-accuracy audit: per-source distinct-token cardinality "
    "computed BOTH ways in one aggregation — exact COUNT(DISTINCT) "
    "and HyperLogLog++ (approx_count_distinct, rsd 2%) — emitting the "
    "exact count plus a within-tolerance flag (5% relative or +-5 "
    "absolute). The oracle supplies the exact count and asserts the "
    "flag TRUE, so the driver hash-checks that the sketch stayed "
    "inside its error contract on real data. This is the vocabulary- "
    "sizing audit a pipeline runs before trusting sketches at 100 TB, "
    "where COUNT(DISTINCT) over raw tokens is a full (source, token) "
    "shuffle but the HLL is a fixed-width mergeable buffer per "
    "source: validate the cheap path against the exact one on a "
    "stratum, then run the cheap path fleet-wide (the same contract "
    "operators/sketches.py pytest-enforces synthetically).",
)
def q105_sketch_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    return (
        toks.groupBy("source")
        .agg(
            F.countDistinct("tok").alias("n_exact"),
            F.approx_count_distinct("tok", 0.02).alias("__approx"),
        )
        .select(
            "source",
            "n_exact",
            (
                F.abs(F.col("__approx") - F.col("n_exact"))
                <= F.greatest(F.ceil(F.col("n_exact") * 0.05), F.lit(5))
            ).alias("within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# q106: hashed linear-model quality scoring (model inference, no UDF)
# ---------------------------------------------------------------------------

@register(
    "q106_linear_quality_score",
    f"""
    WITH b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('lmq:' || tok), 1, 8)) AS BIGINT)
                   % 4096 AS bucket
        FROM (SELECT doc_id, unnest({_TOKS}) AS tok
              FROM documents WHERE LENGTH(trim(text)) > 0)
    ),
    w AS (
        SELECT bucket,
               CAST(('0x' || substr(md5('lmq:w:' || CAST(bucket AS VARCHAR)),
                                    1, 8)) AS BIGINT) % 2001 - 1000 AS weight_ppm
        FROM (SELECT DISTINCT bucket FROM b)
    )
    SELECT b.doc_id,
           COUNT(*) AS n_tok,
           CAST(SUM(w.weight_ppm) AS BIGINT) AS score_ppm
    FROM b JOIN w USING (bucket)
    GROUP BY b.doc_id
    """,
    doc="Linear-classifier inference over hashed bag-of-words features "
    "— the fastText/CCNet-style quality gate every large corpus "
    "pipeline runs, expressed WITHOUT a UDF: tokenize, hash to a "
    "bounded feature id, broadcast-join the (bounded) weight table, "
    "sum per document. The frozen synthetic model derives each "
    "bucket's weight deterministically from md5 so both engines "
    "materialize the identical model; production swaps in exported "
    "fastText/LR weights with the same plan. Weights are integer ppm "
    "(the q58/q104 exactness discipline). Only corpus-sized shuffle "
    "keys on doc_id; text never moves (operators/inference.py).",
)
def q106_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.inference import linear_score, synthetic_weights

    d = _docs(spark, sf_dir)
    w = synthetic_weights(spark, num_buckets=4096, seed="lmq", scale_ppm=1000)
    return linear_score(d, w, num_buckets=4096, seed="lmq")


# ---------------------------------------------------------------------------
# q107: Bloom-filter decontamination (no-false-negative audit)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 20

@register(
    "q107_bloom_decontaminate",
    f"""
    WITH grams AS (
        SELECT doc_id, unnest(
            CASE WHEN LEN(toks) >= 3
                 THEN list_distinct(list_transform(range(1, LEN(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE CAST([] AS VARCHAR[]) END) AS g
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 50),
    bits AS (
        SELECT DISTINCT unnest([
            CAST(('0x' || substr(md5('bloom:0:' || g), 1, 8)) AS BIGINT) % {_BLOOM_BITS},
            CAST(('0x' || substr(md5('bloom:1:' || g), 1, 8)) AS BIGINT) % {_BLOOM_BITS},
            CAST(('0x' || substr(md5('bloom:2:' || g), 1, 8)) AS BIGINT) % {_BLOOM_BITS}
        ]) AS bit FROM bench
    ),
    probes AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id >= 50),
    probed AS (
        SELECT doc_id, g,
               (CAST(('0x' || substr(md5('bloom:0:' || g), 1, 8)) AS BIGINT) % {_BLOOM_BITS}
                    IN (SELECT bit FROM bits))
               AND
               (CAST(('0x' || substr(md5('bloom:1:' || g), 1, 8)) AS BIGINT) % {_BLOOM_BITS}
                    IN (SELECT bit FROM bits))
               AND
               (CAST(('0x' || substr(md5('bloom:2:' || g), 1, 8)) AS BIGINT) % {_BLOOM_BITS}
                    IN (SELECT bit FROM bits)) AS maybe,
               g IN (SELECT g FROM bench) AS is_true
        FROM probes
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
           CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN is_true AND NOT maybe THEN 1 ELSE 0 END) AS BIGINT)
               = 0 AS no_false_negatives
    FROM probed GROUP BY doc_id
    """,
    doc="Bloom-filter benchmark decontamination: the benchmark's word "
    "3-grams (doc_id<50 plays the eval set, q59's convention) compress "
    "into a broadcastable set-bit table (<= 2^20 ints regardless of "
    "benchmark size); every corpus doc's distinct grams probe it "
    "map-side. Emits per-doc gram counts, Bloom positives, EXACT "
    "positives, and a hash-checked no-false-negatives flag — the "
    "Bloom contract verified on real data, with the false-positive "
    "overcount visible as n_maybe - n_true. The filter's 100 TB role "
    "is the member set q59's broadcast postings CAN'T hold (union of "
    "every benchmark, a fleet-wide gram registry): postings grow "
    "with members, the bit table stays fixed-size and the probe "
    "stays map-side — built once, persisted, reused "
    "(operators/bloom.py; measured trade in SCALE.md).",
)
def q107_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.bloom import bloom_build, bloom_probe
    from etl_guiacores_spark.operators.textstats import kgrams, tokens

    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(kgrams(tokens(F.col("text")), 3))).alias("g")
    )
    bench = grams.filter(F.col("doc_id") < 50).select("g").distinct()
    bits = bloom_build(bench, "g", num_bits=_BLOOM_BITS, num_hashes=3, seed="bloom")
    # no .distinct() on the probe side: grams is exploded from a
    # per-document array_distinct, so (doc_id, g) rows are already
    # unique — the dedup was a full extra shuffle of the data-sized
    # gram table for provably zero row change (the oracle's DISTINCT
    # dedups the identical already-unique set)
    probes = grams.filter(F.col("doc_id") >= 50)
    probed = bloom_probe(
        probes, bits, "g", num_bits=_BLOOM_BITS, num_hashes=3, seed="bloom"
    ).join(bench.withColumn("__true", F.lit(True)), "g", "left")
    return probed.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.col("maybe_member").cast("bigint")).cast("bigint").alias("n_maybe"),
        F.sum(F.coalesce(F.col("__true"), F.lit(False)).cast("bigint"))
        .cast("bigint")
        .alias("n_true"),
        (
            F.sum(
                (F.coalesce(F.col("__true"), F.lit(False)) & ~F.col("maybe_member"))
                .cast("bigint")
            )
            == 0
        ).alias("no_false_negatives"),
    )


# ---------------------------------------------------------------------------
# q108: SCD type-2 history build (validity intervals from a change stream)
# ---------------------------------------------------------------------------

@register(
    "q108_scd2_history",
    """
    WITH chg AS (
        SELECT user_id, ts, event_type,
               LAG(ts) OVER w AS prev_ts,
               LAG(event_type) OVER w AS prev_state
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    ),
    versions AS (
        SELECT user_id, ts, event_type
        FROM chg
        WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_state
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(LEAD(ts) OVER w2, '%Y-%m-%d %H:%M:%S'), 'current')
               AS valid_to,
           (LEAD(ts) OVER w2 IS NULL) AS is_current,
           CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version_n
    FROM versions
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_type)
    """,
    doc="Slowly-changing-dimension type-2 history from a change "
    "stream: per user, consecutive duplicate states collapse, each "
    "surviving state gets [valid_from, valid_to) from LEAD over a "
    "key-partitioned window, the open interval is flagged current — "
    "the Kimball SCD2 loader as ONE declarative plan (one shuffle on "
    "the key, windows all key-partitioned and AQE-splittable, never "
    "global) instead of a row-at-a-time MERGE loop. Timestamps render "
    "as strings per the oracle output-type contract "
    "(operators/scd.py).",
)
def q108_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.scd import scd2_history

    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_type")
    hist = scd2_history(ev, key_col="user_id", ts_col="ts", state_cols=["event_type"])
    return hist.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"), F.lit("current")
        ).alias("valid_to"),
        "is_current",
        "version_n",
    )


# ---------------------------------------------------------------------------
# q109/q110: fuzzy record linkage (blocked edit distance) + entity resolution
# ---------------------------------------------------------------------------

_TITLE = f"array_to_string(({_TOKS})[1:5], ' ')"

@register(
    "q109_fuzzy_match_pairs",
    f"""
    WITH t AS (
        SELECT doc_id, {_TITLE} AS title
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    b AS (SELECT doc_id, title,
                 lower(string_split_regex(trim(title), '[ \\t\\n\\r\\f\\v]+')[1]) AS blk
          FROM t WHERE title IS NOT NULL)
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
    FROM b a JOIN b c
      ON a.blk = c.blk AND a.doc_id < c.doc_id
     AND abs(LENGTH(a.title) - LENGTH(c.title)) <= 5
    WHERE levenshtein(a.title, c.title) <= 5
    """,
    doc="Fuzzy record linkage, block -> pair -> verify: documents' "
    "5-token title prefixes pair only within a blocking key (lowercased "
    "first token), prefilter on length difference (an exact lower "
    "bound on edit distance), and verify with THRESHOLDED Levenshtein "
    "so the DP aborts early above the cutoff — the business-name "
    "matching a directory scraper needs where no shared key exists, "
    "and the same shape as LSH banding: the all-pairs square never "
    "materializes, pair volume is bounded by blocking-key selectivity, "
    "hot blocks split by AQE skew-join (operators/linkage.py).",
)
def q109_fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.linkage import fuzzy_match_pairs
    from etl_guiacores_spark.operators.textstats import tokens

    d = _docs(spark, sf_dir)
    titles = d.select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 1, 5), " ").alias("title"),
    )
    return fuzzy_match_pairs(titles, "doc_id", "title", max_dist=5).select(
        "id_a", "id_b", F.col("dist").cast("int").alias("dist")
    )


@register(
    "q110_entity_resolution",
    f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, {_TITLE} AS title
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    b AS (SELECT doc_id, title,
                 lower(string_split_regex(trim(title), '[ \\t\\n\\r\\f\\v]+')[1]) AS blk
          FROM t WHERE title IS NOT NULL),
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, c.doc_id AS id_b
        FROM b a JOIN b c
          ON a.blk = c.blk AND a.doc_id < c.doc_id
         AND abs(LENGTH(a.title) - LENGTH(c.title)) <= 5
        WHERE levenshtein(a.title, c.title) <= 5
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT doc_id AS id, doc_id AS lbl FROM t
        UNION
        SELECT e.dst AS id, r.lbl
        FROM reach r JOIN edges e ON e.src = r.id
        WHERE r.lbl < e.dst
    )
    SELECT id AS doc_id, MIN(lbl) AS entity_id FROM reach GROUP BY id
    """,
    doc="Entity resolution on top of q109's fuzzy edges: connected "
    "components labels every document with its match-component's "
    "minimum id; unmatched records stay singleton entities. Spark "
    "runs the adaptive CC operator (driver union-find under the "
    "100k-edge gate since fuzzy edges are sparse, distributed "
    "pointer-jumping above it — nodes never collected either way); "
    "the oracle unrolls the same closure as a pruned recursive CTE. "
    "Block -> pair -> verify -> cluster is the complete record-"
    "linkage pipeline (operators/linkage.py resolve_entities).",
)
def q110_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.linkage import resolve_entities
    from etl_guiacores_spark.operators.textstats import tokens

    d = _docs(spark, sf_dir)
    titles = d.select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 1, 5), " ").alias("title"),
    )
    return resolve_entities(titles, "doc_id", "title", max_dist=5)


# ---------------------------------------------------------------------------
# q111: temporal dimension lookup (events joined to their SCD2 version)
# ---------------------------------------------------------------------------

@register(
    "q111_scd2_asof_lookup",
    """
    WITH chg AS (
        SELECT user_id, ts, event_type,
               LAG(ts) OVER w AS prev_ts,
               LAG(event_type) OVER w AS prev_state
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    ),
    versions AS (
        SELECT user_id, ts, event_type
        FROM chg
        WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_state
    ),
    dim AS (
        SELECT user_id, event_type AS state, ts AS valid_from,
               LEAD(ts) OVER w2 AS valid_to
        FROM versions
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_type)
    )
    SELECT e.event_id, e.user_id, d.state,
           strftime(d.valid_from, '%Y-%m-%d %H:%M:%S') AS version_from
    FROM events e JOIN dim d
      ON e.user_id = d.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
    doc="Temporal dimension lookup — the query side of q108's SCD2 "
    "build: every event joins to the dimension version that was "
    "valid AT its timestamp (point-in-interval, half-open "
    "[valid_from, valid_to)). The join is an equi-join on the key "
    "with the interval containment as residual predicates, so Spark "
    "hashes on user_id and evaluates the range inside the matched "
    "bucket — never a cross product (plan-audited); each event "
    "matches exactly one version because SCD2 intervals tile. This "
    "is how a warehouse answers 'what did the account look like "
    "when the event happened' at fact-table scale.",
)
def q111_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.scd import scd2_history

    ev = load_table(spark, "events", sf_dir)
    dim = scd2_history(
        ev.select("user_id", "ts", "event_type"),
        key_col="user_id",
        ts_col="ts",
        state_cols=["event_type"],
    ).select(
        "user_id", F.col("event_type").alias("state"), "valid_from", "valid_to"
    )
    e = ev.select("event_id", "user_id", "ts")
    return (
        e.join(dim, "user_id")
        .filter(
            (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
        )
        .select(
            "event_id",
            "user_id",
            "state",
            F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("version_from"),
        )
    )


# ---------------------------------------------------------------------------
# q112: gap-filled hourly resample (dense time series from sparse events)
# ---------------------------------------------------------------------------

@register(
    "q112_gapfill_resample",
    """
    WITH agg AS (
        SELECT event_type, date_trunc('hour', ts) AS b,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) // COUNT(*)
                    AS BIGINT) AS av_micro
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, MIN(b) AS lo, MAX(b) AS hi FROM agg GROUP BY 1),
    spine AS (
        SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
        FROM bounds
    )
    SELECT s.event_type,
           strftime(s.b, '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
           CAST(last_value(a.av_micro IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS avg_value_ffill_micro
    FROM spine s LEFT JOIN agg a
      ON a.event_type = s.event_type AND a.b = s.b
    """,
    doc="Gap-filled hourly resample: aggregate events to hourly "
    "buckets, then emit EVERY hour between each event_type's first "
    "and last bucket — zero-filling counts and carrying the last "
    "observed hourly average forward (LOCF) — the densification every "
    "time-series dashboard needs, since a gap never produces a row to "
    "plot. The spine is sequence(min, max, 1h) per key (generated "
    "where the key lives, map-side explode; never a global calendar "
    "cross join), and the forward fill is a key-partitioned running "
    "last(ignorenulls) — parallel across keys, no global sort "
    "(operators/rollup_time.resample_gapfill). The carried average is "
    "integer micro-units with floor division (per-row FLOOR(v*1e6) "
    "then exact BIGINT sum): a float AVG is summation-order-dependent "
    "and split the hash at the ROUND boundary on first landing — the "
    "q58 discipline applied after being caught by the 3-SF sweep.",
)
def q112_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rollup_time import resample_gapfill

    ev = load_table(spark, "events", sf_dir)
    tier = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").alias("n_events"),
        F.expr(
            "CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) div COUNT(*)"
            " AS BIGINT)"
        ).alias("__av_micro"),
    )
    dense = resample_gapfill(
        tier,
        keys=["event_type"],
        step="1 hour",
        zero_cols=("n_events",),
        ffill_cols=("__av_micro",),
    )
    return dense.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("__av_micro").cast("bigint").alias("avg_value_ffill_micro"),
    )


# ---------------------------------------------------------------------------
# q113: session concurrency sweep (max active sessions per hour)
# ---------------------------------------------------------------------------

@register(
    "q113_session_concurrency",
    """
    WITH gaps AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                         OR LAG(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
        SELECT user_id, tus,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY tus, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
    ),
    s AS (SELECT user_id, session_id, MIN(tus) AS st, MAX(tus) AS en
          FROM sess GROUP BY user_id, session_id),
    b AS (
        SELECT st AS us, 1 AS delta,
               lpad(CAST(st AS VARCHAR), 20, '0') || '0'
                   || lpad(CAST(user_id AS VARCHAR), 12, '0')
                   || lpad(CAST(session_id AS VARCHAR), 8, '0') AS k
        FROM s
        UNION ALL
        SELECT en AS us, -1 AS delta,
               lpad(CAST(en AS VARCHAR), 20, '0') || '1'
                   || lpad(CAST(user_id AS VARCHAR), 12, '0')
                   || lpad(CAST(session_id AS VARCHAR), 8, '0') AS k
        FROM s
    ),
    swept AS (
        SELECT us, SUM(delta) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS conc
        FROM b
    )
    SELECT strftime(date_trunc('hour', make_timestamp(us)),
                    '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent,
           COUNT(*) AS n_boundaries
    FROM swept GROUP BY 1
    """,
    doc="Session concurrency via sweep line: gap-sessionize (q32's "
    "exact integer-microsecond rule), emit +1/-1 boundary events per "
    "session, take a GLOBAL running sum in boundary order, and report "
    "each hour's peak concurrent sessions — the occupancy/capacity "
    "question every ops dashboard asks. The global cumulative sum "
    "runs on the distributed prefix-sum machinery (range-partition, "
    "partition-local windows, broadcast per-partition offsets — "
    "ordering.global_prefix_sum, the q89 shape), NEVER a "
    "single-partition window; the boundary key encodes (time, +1 "
    "before -1, user, session) so tie order is engine-identical. "
    "Same-instant start/end convention: a session is active AT its "
    "boundary instant.",
)
def q113_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.ordering import global_prefix_sum
    from etl_guiacores_spark.operators.temporal import event_micros

    e = load_table(spark, "events", sf_dir)
    tus = event_micros(e, "ts")
    w = Window.partitionBy("user_id").orderBy(tus, F.col("event_id"))
    gap = tus - F.lag(tus).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    wsum = (
        Window.partitionBy("user_id")
        .orderBy(tus, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = (
        e.withColumn("__tus", tus)
        .withColumn("session_id", F.sum(new_session).over(wsum).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.min("__tus").alias("st"), F.max("__tus").alias("en"))
    )

    def key(us_col: str, flag: str):
        return F.concat(
            F.lpad(F.col(us_col).cast("string"), 20, "0"),
            F.lit(flag),
            F.lpad(F.col("user_id").cast("string"), 12, "0"),
            F.lpad(F.col("session_id").cast("string"), 8, "0"),
        )

    starts = s.select(
        F.col("st").alias("us"), F.lit(1).alias("delta"), key("st", "0").alias("__k")
    )
    ends = s.select(
        F.col("en").alias("us"), F.lit(-1).alias("delta"), key("en", "1").alias("__k")
    )
    swept = global_prefix_sum(
        starts.unionByName(ends), order_col="__k", value_col="delta",
        out_col="conc",
    )
    return (
        swept.groupBy(
            F.date_format(
                F.date_trunc("hour", F.timestamp_micros(F.col("us"))),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("bucket")
        )
        .agg(
            F.max("conc").cast("bigint").alias("max_concurrent"),
            F.count("*").alias("n_boundaries"),
        )
    )


# ---------------------------------------------------------------------------
# q114: Johnson-Lindenstrauss random projection (embedding dim reduction)
# ---------------------------------------------------------------------------

def _jl_oracle_sql(out_dim: int = 8, in_dim: int = 64, seed: str = "jl") -> str:
    from etl_guiacores_spark.operators.projection import jl_signs

    signs = jl_signs(out_dim, in_dim, seed)
    dims = ",\n           ".join(
        "CAST(list_sum(list_transform(range(1, %d), i -> "
        "CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)"
        " * ([%s])[i])) AS BIGINT) AS rp_%d"
        % (in_dim + 1, ",".join(str(s) for s in row), j)
        for j, row in enumerate(signs)
    )
    return f"    SELECT vec_id,\n           {dims}\n    FROM embeddings\n    "


@register(
    "q114_random_projection",
    _jl_oracle_sql(),
    doc="Johnson-Lindenstrauss sign-matrix projection (Achlioptas "
    "2003): 64-dim embeddings down to 8 BIGINT micro-unit "
    "coordinates. The +-1 sign matrix is a deterministic md5 function "
    "of (seed, out-dim, in-dim) computed driver-side and embedded as "
    "plan literals, so the projection is a per-row zip_with/aggregate "
    "fold — no training pass, no shuffle, no join, scan-speed over "
    "100 TB of vectors; the cheap pass before ANN indexing or "
    "clustering. Coordinates are exact integers (per-element floor "
    "into micro-units, BIGINT sum — the q58/q112 discipline), so "
    "engines agree bit-for-bit with no float fold-order question "
    "(operators/projection.py).",
)
def q114_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.projection import rp_project

    emb = load_table(spark, "embeddings", sf_dir)
    return rp_project(emb, "embedding", out_dim=8, in_dim=64).select(
        "vec_id", *[f"rp_{j}" for j in range(8)]
    )


# ---------------------------------------------------------------------------
# q115: boilerplate removal (HTML -> training text, C4-style heuristics)
# ---------------------------------------------------------------------------

@register(
    "q115_boilerplate_extract",
    f"""
    WITH pages AS (
        SELECT doc_id,
               '<html><head><style>.x{{{{color:red}}}}</style>'
               || '<script>var nav = "</p>";</script></head><body>'
               || '<div class="nav">Home | About | Contact</div><p>'
               || text
               || '</p><div class="share">Share Like</div>'
               || '<footer>(c) 2024 corp</footer></body></html>' AS html
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    stripped AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gis'),
                     '<style[^>]*>.*?</style>', ' ', 'gis'),
                   '</(p|div|li|h[1-6]|tr|section|article)>|<br[^>]*>',
                   chr(10), 'gi'),
                 '<[^>]*>', ' ', 'g') AS t
        FROM pages
    ),
    decoded AS (
        SELECT doc_id,
               replace(replace(replace(replace(replace(replace(t,
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS t
        FROM stripped
    ),
    kept AS (
        SELECT doc_id,
               list_filter(string_split(t, chr(10)),
                   ln -> LEN(string_split_regex(trim(ln), '[ \\t\\n\\r\\f\\v]+')) >= 4
                         AND LENGTH(trim(ln)) > 0) AS lns
        FROM decoded
    )
    SELECT doc_id,
           CAST(LEN(lns) AS BIGINT) AS n_lines,
           array_to_string(
               list_transform(lns,
                   ln -> regexp_replace(trim(ln), '[ \\t\\n\\r\\f\\v]+', ' ', 'g')),
               chr(10)) AS clean_text
    FROM kept
    """,
    doc="Boilerplate removal, the HTML -> training-text bridge (the "
    "C4 recipe's heuristic class, Raffel et al. 2020): drop script/"
    "style blocks, convert block-closing tags to line breaks, strip "
    "tags, decode entities, keep only lines with >= 4 tokens — nav/"
    "footer/button chrome dies, prose survives. Pure column "
    "expressions in the RE2-compatible regex subset (no "
    "backreferences), so the identical patterns run in both engines "
    "at scan speed; each document's synthetic page wraps its text in "
    "real chrome including a script that CONTAINS '</p>' (the classic "
    "naive-stripper trap, removed correctly by the dotall block "
    "pass). The readability-grade DOM-scoring extractor belongs in "
    "the mapInPandas parse seam; this is the cheap fleet-wide pass "
    "(operators/textstats.extract_main_text).",
)
def q115_boilerplate_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.textstats import main_text_lines

    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><head><style>.x{color:red}</style>'
              '<script>var nav = "</p>";</script></head><body>'
              '<div class="nav">Home | About | Contact</div><p>'),
        F.col("text"),
        F.lit('</p><div class="share">Share Like</div>'
              '<footer>(c) 2024 corp</footer></body></html>'),
    )
    # count on the ARRAY: an all-chrome page has zero lines, and
    # re-splitting the joined string would miscount that as one
    lines = main_text_lines(html, min_line_tokens=4)
    return d.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.array_join(lines, "\n").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# q116: lossless q-gram similarity join (no blocking-key recall loss)
# ---------------------------------------------------------------------------

@register(
    "q116_qgram_fuzzy_join",
    f"""
    WITH t AS (
        SELECT doc_id AS id, {_TITLE} AS name
        FROM documents WHERE LENGTH(trim(text)) > 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
    FROM t a JOIN t b
      ON a.id < b.id
     AND abs(LENGTH(a.name) - LENGTH(b.name)) <= 3
    WHERE levenshtein(a.name, b.name) <= 3
    """,
    doc="LOSSLESS fuzzy similarity join via q-gram count filtering "
    "(Gravano et al. 2001 lineage): candidates come from an equi-join "
    "on positional 2-grams (gram + occurrence rank = true multiset "
    "intersection), pruned by the count bound (edit distance k "
    "destroys at most q*k grams) and the length bound, verified with "
    "thresholded Levenshtein; pairs of SHORT strings, where the count "
    "bound is vacuous, route through the exact distinct-name fallback "
    "(operators/linkage.qgram_match_pairs). Unlike q109's first-token "
    "blocking, NO true match within the distance budget can be missed "
    "— the oracle is therefore the brute-force all-pairs GROUND TRUTH "
    "(not a mirror of the algorithm), so the hash match proves "
    "losslessness on real data, and q109's pairs are a strict subset. "
    "Shuffle keys on (gram, occurrence) postings; pair volume bounded "
    "by gram selectivity.",
)
def q116_qgram_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.linkage import qgram_match_pairs
    from etl_guiacores_spark.operators.textstats import tokens

    d = _docs(spark, sf_dir)
    titles = d.select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 1, 5), " ").alias("title"),
    )
    return qgram_match_pairs(titles, "doc_id", "title", max_dist=3, q=2).select(
        "id_a", "id_b", F.col("dist").cast("int").alias("dist")
    )


# ---------------------------------------------------------------------------
# q117: DSIR end-to-end — importance-weighted selection of a training subset
# ---------------------------------------------------------------------------

@register(
    "q117_dsir_select",
    f"""
    WITH toks AS (
        SELECT doc_id, (lang = 'en') AS is_t, unnest({_TOKS}) AS tok
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    b AS (
        SELECT doc_id, is_t,
               CAST(('0x' || substr(md5('dsir:' || tok), 1, 8)) AS BIGINT)
                   % 4096 AS bucket
        FROM toks
    ),
    r AS (
        SELECT bucket,
               CAST(((SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 1) * 1000000)
                    // (COUNT(*) + 1) AS BIGINT) AS ratio_ppm
        FROM b GROUP BY bucket
    ),
    scores AS (
        SELECT b.doc_id, COUNT(*) AS n_tok,
               CAST(SUM(r.ratio_ppm) AS BIGINT) AS importance_ppm
        FROM b JOIN r USING (bucket)
        GROUP BY b.doc_id
    ),
    picked AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   -ln((CAST(('0x' || substr(md5('dsir-sel:' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) + 0.5) / 4294967296.0)
                   / importance_ppm AS race
            FROM scores WHERE importance_ppm > 0
        ) ORDER BY race, doc_id LIMIT 100
    )
    SELECT s.doc_id, s.n_tok, s.importance_ppm
    FROM scores s JOIN picked USING (doc_id)
    """,
    doc="DSIR end-to-end (Xie et al. 2023): fit the hashed-n-gram "
    "importance estimator (q104's integer-ppm bucket ratios, bounded "
    "4096-row broadcast table), score every document, then IMPORTANCE "
    "RESAMPLE — draw 100 documents without replacement with "
    "probability proportional to importance via the deterministic "
    "Efraimidis-Spirakis A-Res race (q87's sampler). This is the "
    "paper's actual selection step, previously pytest-only, now under "
    "the driver's hash gate. The composition inherits both parents' "
    "scale shapes: no corpus shuffle carries text, the draw is a "
    "distributed top-k, and the selected set is reproducible across "
    "engines/retries/partitionings (operators/importance.dsir_select).",
)
def q117_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.importance import dsir_select

    d = _docs(spark, sf_dir)
    return dsir_select(d, is_target=F.col("lang") == "en", k=100)


# ---------------------------------------------------------------------------
# q118: entity resolution over the LOSSLESS q-gram pairer
# ---------------------------------------------------------------------------

@register(
    "q118_qgram_entity_resolution",
    f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, {_TITLE} AS title
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b
          ON a.doc_id < b.doc_id
         AND abs(LENGTH(a.title) - LENGTH(b.title)) <= 2
        WHERE levenshtein(a.title, b.title) <= 2
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT doc_id AS id, doc_id AS lbl FROM t
        UNION
        SELECT e.dst AS id, r.lbl
        FROM reach r JOIN edges e ON e.src = r.id
        WHERE r.lbl < e.dst
    )
    SELECT id AS doc_id, MIN(lbl) AS entity_id FROM reach GROUP BY id
    """,
    doc="Entity resolution via the LOSSLESS q-gram pairer "
    "(resolve_entities method='qgram', the resolve CLI's exact mode), "
    "previously pytest-only: q-gram count-filtered pairs (with the "
    "short-string fallback) feed adaptive connected components, so "
    "clusters match the TRUE transitive closure of the edit-distance "
    "relation — the oracle builds ground-truth edges by brute force "
    "and unrolls the closure as a pruned recursive CTE, proving no "
    "blocking-induced cluster splits. Contrast q110, whose blocked "
    "pairs trade recall for cost (operators/linkage.py).",
)
def q118_qgram_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.linkage import resolve_entities
    from etl_guiacores_spark.operators.textstats import tokens

    d = _docs(spark, sf_dir)
    titles = d.select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 1, 5), " ").alias("title"),
    )
    # measured round-13: materializing titles here (localCheckpoint or
    # persist) does NOT pay — the checkpoint erases plan statistics and
    # AQE then coalesces the levenshtein-heavy verify stages to ~2
    # tasks (3.4s -> 15-20s); a persist keeps stats but is still a
    # wash (repeated narrow re-scans are cheaper than the cache
    # barrier at this width). Leave the lineage alone.
    return resolve_entities(titles, "doc_id", "title", max_dist=2, method="qgram")


# ---------------------------------------------------------------------------
# q119: BM25 ranked retrieval (lexical top-k)
# ---------------------------------------------------------------------------

@register(
    "q119_bm25_topk",
    f"""
    WITH base AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE LENGTH(trim(text)) > 0
    ),
    d AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM base),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) * 1000000 // COUNT(*) AS BIGINT) AS avgdl_micro
        FROM d
    ),
    posts AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
        WHERE tok IN ('dup', 'vector', 'spark')
    ),
    tf AS (
        SELECT p.doc_id, p.tok, d.dl, CAST(COUNT(*) AS BIGINT) AS tf
        FROM posts p JOIN d USING (doc_id)
        GROUP BY p.doc_id, p.tok, d.dl
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    scored AS (
        SELECT t.doc_id,
               CAST(CAST(CAST((2*(CAST(s.n AS HUGEINT) - f.df) + 1) * 1000000
                              // (2*f.df + 1) AS BIGINT) AS HUGEINT)
                    * CAST(CAST(44 AS HUGEINT) * 1000000 * t.tf * 1000000
                           // (20 * CAST(1000000 AS HUGEINT) * t.tf
                               + 6 * 1000000
                               + 18 * CAST(CAST(t.dl AS HUGEINT) * 1000000
                                           * 1000000 // s.avgdl_micro
                                           AS BIGINT))
                           AS BIGINT)
                    // 1000000 AS BIGINT) AS contrib
        FROM tf t JOIN dfreq f USING (tok) CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(SUM(contrib) AS BIGINT) AS score_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_hit_terms
    FROM scored
    GROUP BY doc_id
    ORDER BY score_ppm DESC, doc_id
    LIMIT 50
    """,
    doc="BM25 ranked retrieval — the lexical leg of retrieval-augmented "
    "pipelines and the standard hard-negative miner for retriever "
    "training, completing the retrieval family (TF-IDF q46, embedding "
    "kNN q28, IVF-ANN q63): top-50 documents for a 3-term query with "
    "Okapi tf saturation (k1=6/5, b=3/4 as exact rationals) and "
    "Robertson-Sparck-Jones rarity weighting. ln and float sums are "
    "not cross-engine-exact, so idf is the RSJ odds ratio in integer "
    "ppm (the monotone argument of the ln) and every term contribution "
    "is BIGINT floor arithmetic — bit-identical across engines, with "
    "float-log idf a one-column production swap (q104's discipline). "
    "Scale: postings filter to the query's terms BEFORE any shuffle "
    "(traffic bounded by matching docs x terms, text never moves), the "
    "df and corpus-stats tables broadcast, top-k is distributed "
    "TakeOrderedAndProject (operators/retrieval.py).",
)
def q119_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.retrieval import bm25_topk

    d = _docs(spark, sf_dir)
    return bm25_topk(d, ["dup", "vector", "spark"], k=50)


# ---------------------------------------------------------------------------
# q131/q132: batch BM25 + exact retrieval metrics over it
# ---------------------------------------------------------------------------

#: fixed eval query set (both engines verbatim); terms distinct per query
_BM25_QUERIES = [
    (1, ["dup", "vector"]),
    (2, ["spark", "join", "fast"]),
    (3, ["stream", "window"]),
    (4, ["merge", "scan", "batch", "sort"]),
]

_BM25_QUERIES_SQL = ", ".join(
    f"({qid}, {terms!r}::VARCHAR[])" for qid, terms in _BM25_QUERIES
)


def _bm25_qdf(spark: SparkSession) -> DataFrame:
    """The 4-query eval set as a SQL VALUES LocalRelation.

    ``spark.createDataFrame(list)`` builds a Python-RDD-backed scan
    (``applySchemaToPythonRDD``) that re-pickles through a Python
    worker on every evaluation — and the bm25 operator evaluates the
    query table several times (eager distinct-terms contract check,
    the all-terms semi-join side, the broadcast qterms side).
    A VALUES relation is a constant-folded LocalTableScan: no Python
    workers, no RDD, same rows and schema (query_id BIGINT,
    terms ARRAY<STRING>)."""
    # terms are interpolated into SQL string literals unescaped —
    # sound only while every term stays plain alphanumeric
    assert all(
        t.isascii() and t.isalnum()
        for _, terms in _BM25_QUERIES
        for t in terms
    ), "_BM25_QUERIES terms must be alphanumeric (unescaped SQL literals)"
    vals = ", ".join(
        "({}L, array({}))".format(
            qid, ", ".join(f"'{t}'" for t in terms)
        )
        for qid, terms in _BM25_QUERIES
    )
    return spark.sql(
        f"SELECT query_id, terms FROM VALUES {vals} AS t(query_id, terms)"
    )

_BM25_BATCH_CORE = f"""
    base AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE LENGTH(trim(text)) > 0
    ),
    d AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM base),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) * 1000000 // COUNT(*) AS BIGINT) AS avgdl_micro
        FROM d
    ),
    qrs(query_id, terms) AS (VALUES {{queries}}),
    qterms AS (SELECT query_id, unnest(terms) AS tok FROM qrs),
    allterms AS (SELECT DISTINCT tok FROM qterms),
    posts AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
        WHERE tok IN (SELECT tok FROM allterms)
    ),
    tf AS (
        SELECT p.doc_id, p.tok, d.dl, CAST(COUNT(*) AS BIGINT) AS tf
        FROM posts p JOIN d USING (doc_id)
        GROUP BY p.doc_id, p.tok, d.dl
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    contrib AS (
        SELECT t.doc_id, t.tok,
               CAST(CAST(CAST((2*(CAST(s.n AS HUGEINT) - f.df) + 1) * 1000000
                              // (2*f.df + 1) AS BIGINT) AS HUGEINT)
                    * CAST(CAST(44 AS HUGEINT) * 1000000 * t.tf * 1000000
                           // (20 * CAST(1000000 AS HUGEINT) * t.tf
                               + 6 * 1000000
                               + 18 * CAST(CAST(t.dl AS HUGEINT) * 1000000
                                           * 1000000 // s.avgdl_micro
                                           AS BIGINT))
                           AS BIGINT)
                    // 1000000 AS BIGINT) AS contrib
        FROM tf t JOIN dfreq f USING (tok) CROSS JOIN stats s
    ),
    scored AS (
        SELECT q.query_id, c.doc_id,
               CAST(SUM(c.contrib) AS BIGINT) AS score_ppm,
               CAST(COUNT(*) AS BIGINT) AS n_hit_terms
        FROM contrib c JOIN qterms q USING (tok)
        GROUP BY q.query_id, c.doc_id
    ),
    ranked AS (
        SELECT query_id, doc_id, score_ppm, n_hit_terms,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score_ppm DESC, doc_id)
                    AS BIGINT) AS rank
        FROM scored
    )
"""


@register(
    "q131_bm25_batch",
    "WITH" + _BM25_BATCH_CORE.format(queries=_BM25_QUERIES_SQL) + """
    SELECT query_id, doc_id, score_ppm, n_hit_terms, rank
    FROM ranked WHERE rank <= 10
    """,
    doc="Batch BM25: top-10 documents PER QUERY for a 4-query eval set "
    "in ONE plan — the form an eval harness or hard-negative miner "
    "needs (per-query plans would pay the corpus scan per query). The "
    "corpus is scanned once: postings filter against the union of all "
    "query terms via a broadcast semi-join, tf/df/corpus stats are "
    "shared, and only the bounded (doc, term) integer contribution "
    "table fans out per query (broadcast term join). Per-query cut = "
    "query-partitioned rank window, total order (score DESC, id). "
    "Same exact-integer BM25 as q119 (DECIMAL(38,0)/HUGEINT "
    "interiors) (operators/retrieval.bm25_batch_topk).",
)
def q131_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.retrieval import bm25_batch_topk

    d = _docs(spark, sf_dir)
    qdf = _bm25_qdf(spark)
    return bm25_batch_topk(d, qdf, k=10)


@register(
    "q132_retrieval_metrics",
    "WITH" + _BM25_BATCH_CORE.format(queries=_BM25_QUERIES_SQL) + """
    , nq AS (SELECT query_id, CAST(LEN(terms) AS BIGINT) AS n_terms FROM qrs)
    SELECT r.query_id, nq.n_terms,
           CAST(COUNT(*) FILTER (WHERE r.n_hit_terms = nq.n_terms)
                AS BIGINT) AS n_relevant,
           CAST(COUNT(*) FILTER (WHERE r.n_hit_terms = nq.n_terms
                                   AND r.rank <= 20) AS BIGINT) AS n_hits_top20,
           CAST(COUNT(*) FILTER (WHERE r.n_hit_terms = nq.n_terms AND r.rank <= 20)
                * 1000000
                // LEAST(20, NULLIF(COUNT(*) FILTER (
                       WHERE r.n_hit_terms = nq.n_terms), 0))
                AS BIGINT) AS recall_at20_ppm,
           CAST(1000000 // MIN(CASE WHEN r.n_hit_terms = nq.n_terms
                                    THEN r.rank END) AS BIGINT) AS mrr_ppm
    FROM ranked r JOIN nq USING (query_id)
    GROUP BY r.query_id, nq.n_terms
    """,
    doc="Exact retrieval quality metrics over the q131 batch run, with "
    "NO external labels: a document is 'relevant' to a query iff it "
    "contains EVERY query term (n_hit_terms = |terms| — an objective, "
    "engine-checkable relevance oracle), then recall@20 and reciprocal "
    "rank of the first fully-matching document in exact integer ppm "
    "(NULL when a query has no fully-matching documents). This is the "
    "measurement leg of the retrieval family — the harness that "
    "turns q119/q131 from 'produces rankings' into 'rankings are "
    "evaluated', all inside the same one-scan plan.",
)
def q132_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.retrieval import bm25_batch_topk

    d = _docs(spark, sf_dir)
    qdf = _bm25_qdf(spark)
    ranked = bm25_batch_topk(d, qdf, k=1 << 60)
    nq = qdf.select(
        "query_id", F.size("terms").cast("long").alias("n_terms")
    )
    full = F.col("n_hit_terms") == F.col("n_terms")
    return (
        ranked.join(F.broadcast(nq), "query_id")
        .groupBy("query_id", "n_terms")
        .agg(
            F.count_if(full).cast("long").alias("n_relevant"),
            F.count_if(full & (F.col("rank") <= 20))
            .cast("long")
            .alias("n_hits_top20"),
            F.expr(
                "CAST(count_if(n_hit_terms = n_terms AND rank <= 20) "
                "* 1000000 div LEAST(20, NULLIF(count_if("
                "n_hit_terms = n_terms), 0)) AS BIGINT)"
            ).alias("recall_at20_ppm"),
            F.expr(
                "CAST(1000000 div MIN(CASE WHEN n_hit_terms = n_terms "
                "THEN rank END) AS BIGINT)"
            ).alias("mrr_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q133: hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

@register(
    "q133_hard_negatives",
    """
    WITH vq AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vq
        FROM embeddings
    ),
    anchors AS (SELECT * FROM vq WHERE vec_id % 50 = 0),
    pairs AS (
        SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
               c.vec_id, c.label,
               CAST(list_sum(list_transform(range(1, LEN(c.vq) + 1),
                    i -> c.vq[i] * a.vq[i])) AS BIGINT) AS dot
        FROM vq c JOIN anchors a
          ON c.vec_id <> a.vec_id AND c.label <> a.label
    )
    SELECT anchor_id, anchor_label, vec_id AS neg_id, label AS neg_label, dot
    FROM pairs
    QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY dot DESC, vec_id) = 1
    """,
    doc="Hardest negative per anchor: for each anchor embedding, the "
    "highest-similarity vector with a DIFFERENT label — the standard "
    "mining step for contrastive/retriever training (the near-miss "
    "with the wrong label carries the gradient; easy negatives teach "
    "nothing). Similarity is the exact integer dot of quantized "
    "vectors (q125's FLOOR(x*1000) discipline) — monotone in cosine "
    "for unit-norm embeddings, bit-stable where float cosine is not. "
    "The bounded anchor set broadcasts against ONE corpus scan "
    "(|anchors| x |corpus| work, the knn shape — never corpus^2) and "
    "the per-anchor argmax folds via min_by over a total order — no "
    "window (operators/retrieval.hard_negatives).",
)
def q133_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.retrieval import hard_negatives

    e = load_table(spark, "embeddings", sf_dir)
    return hard_negatives(e, F.col("vec_id") % 50 == 0)


# ---------------------------------------------------------------------------
# q123: per-key EWMA smoothing — in-plan sequential fold, no UDF
# ---------------------------------------------------------------------------

@register(
    "q123_ewma_smooth",
    """
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ew AS (
        SELECT user_id, event_id, ts, v, rn, v AS s
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.ts, o.v, o.rn,
               CAST((200000 * o.v + 800000 * e.s) // 1000000 AS BIGINT)
        FROM ew e JOIN ordered o
          ON o.user_id = e.user_id AND o.rn = e.rn + 1
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           v AS v_micro,
           CAST(s AS BIGINT) AS ewma_micro
    FROM ew
    """,
    doc="Per-user EWMA smoothing of the event value stream (alpha = "
    "0.2): the classic anomaly/trend baseline every time-series "
    "dashboard draws. EWMA is inherently sequential (s_t depends on "
    "s_{t-1} — no window frame expresses it), so each user's ordered "
    "series folds INSIDE the plan with the aggregate higher-order "
    "function over its collected structs: JVM-evaluated, zero Python, "
    "one shuffle on the key, keys fully parallel — the in-plan "
    "answer to 'sequential scan per entity' that q66's packer solves "
    "with applyInPandas when per-row state must cross Python. The "
    "recurrence is integer fixed point (micro-units, div 1e6), "
    "bit-identical across engines/retries/partitionings where a "
    "float EWMA drifts; the oracle replays it as a recursive CTE "
    "stepping rank-by-rank within each user "
    "(operators/rollup_time.ewma_smooth).",
)
def q123_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rollup_time import ewma_smooth

    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    sm = ewma_smooth(
        ev, "user_id", "ts", "v_micro", alpha_ppm=200_000,
        tiebreak_col="event_id",
    )
    return sm.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "v_micro",
        "ewma_micro",
    )


# ---------------------------------------------------------------------------
# q127: ONE-series EWMA via the carry-select scan — no single-reducer stage
# ---------------------------------------------------------------------------

@register(
    "q127_ewma_global",
    """
    WITH RECURSIVE ordered AS (
        SELECT event_id, ts,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
        FROM events WHERE event_id % 31 = 0
    ),
    ew AS (
        SELECT event_id, ts, v, rn, v AS s
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.event_id, o.ts, o.v, o.rn,
               CAST((200000 * o.v + 800000 * e.s) // 1000000 AS BIGINT)
        FROM ew e JOIN ordered o ON o.rn = e.rn + 1
    )
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           v AS v_micro,
           CAST(s AS BIGINT) AS ewma_micro
    FROM ew
    """,
    doc="EWMA over ONE global series (a sampled event stream) — the "
    "q123 recurrence where there is no key to parallelize on, solved "
    "with a carry-select scan instead of a single-reducer fold: "
    "range-partition the series into contiguous segments, fold each "
    "from the two extreme seeds (the fold map is monotone and "
    "contracts seed intervals by ~(1-alpha) per row), speculatively "
    "evaluate each segment at every integer seed in its predecessor's "
    "now-narrow interval, chain the exact boundary states driver-side "
    "(bounded: segments x interval-width integers), then fold once "
    "more from the exact seeds — bit-identical to the sequential "
    "recurrence, proven here against the oracle's rank-by-rank "
    "recursive CTE and in pytest against the keyed fold on a 2M-row "
    "single-key series. Chunk count adapts to the sample size so "
    "segments stay long enough for the interval to contract "
    "(operators/rollup_time.ewma_smooth_global).",
)
def q127_ewma_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rollup_time import ewma_smooth_global

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_id") % 31 == 0
    ).select(
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    # segments must be long enough for the seed interval to contract
    # (~(1-alpha)^rows); ~400+ rows per chunk keeps the speculative
    # candidate set tiny at every SF, degenerating to 1 chunk (plain
    # exact fold) on tiny samples. Sizing only — the carry-select
    # protocol is bit-exact for ANY num_chunks — so the row count
    # comes from the parquet footer: (total + 30) // 31 is the number
    # of 0-based dense ids 0..total-1 with id % 31 == 0 (was an eager
    # ev.count() job that scanned the table before the first real
    # action, guide §5.4)
    n = (table_row_count("events", sf_dir) + 30) // 31
    chunks = max(1, min(8, n // 400))
    sm = ewma_smooth_global(
        ev, "ts", "v_micro", alpha_ppm=200_000,
        tiebreak_col="event_id", num_chunks=chunks,
    )
    return sm.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "v_micro",
        "ewma_micro",
    )


# ---------------------------------------------------------------------------
# q124: median/MAD robust outlier gate — integer-exact across engines
# ---------------------------------------------------------------------------

@register(
    "q124_mad_outliers",
    """
    WITH v AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS v_micro
        FROM events
    ),
    med AS (
        SELECT event_type,
               CAST(2 * quantile_cont(v_micro, 0.5) AS BIGINT) AS median2
        FROM v GROUP BY event_type
    ),
    dev AS (
        SELECT v.event_id, v.event_type, v.v_micro, m.median2,
               abs(2 * v.v_micro - m.median2) AS dev2
        FROM v JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type,
               CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.v_micro, d.median2, a.mad4,
           CASE WHEN a.mad4 > 0
                THEN CAST(CAST(20000 AS HUGEINT) * d.dev2 * 1000
                          // (14826 * a.mad4) AS BIGINT) END AS z_milli,
           CAST(CAST(20000000 AS HUGEINT) * d.dev2
                > 3000 * 14826 * CAST(a.mad4 AS HUGEINT) AS INT) AS is_outlier
    FROM dev d JOIN mad a USING (event_type)
    """,
    doc="Robust per-group outlier gate: |x - median| > 3 * 1.4826 * MAD "
    "per event_type — the numeric-telemetry quality gate whose "
    "mean/stddev cousin breaks on the very rows it should catch. "
    "Medians INTERPOLATE, the classic engine-splitting hazard: here "
    "the interpolated median of integer micro-units lands on exact "
    "halves, carried as 2x/4x-scaled BIGINTs, and the gate is "
    "cross-multiplied into pure integer arithmetic (1.4826 = "
    "14826/10000), so both engines agree bit-for-bit — the q58/q112 "
    "discipline extended to ORDER STATISTICS. Exact percentile needs "
    "each group's values on one reducer (bounded-group shape, like "
    "sessionization); huge groups swap in the mergeable t-digest "
    "(operators/sketches) with documented tolerance "
    "(operators/robust.robust_outliers).",
)
def q124_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.robust import robust_outliers

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    return robust_outliers(ev, "event_type", "v_micro", k_milli=3000).select(
        "event_id", "event_type", "v_micro", "median2", "mad4", "z_milli",
        "is_outlier",
    )


# ---------------------------------------------------------------------------
# q128: per-group winsorization — binary-exact sixteenth quantiles
# ---------------------------------------------------------------------------

@register(
    "q128_winsorize",
    """
    WITH v AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS v_micro
        FROM events
    ),
    b AS (
        SELECT event_type,
               CAST(16 * quantile_cont(v_micro, 0.0625) AS BIGINT) AS lo16,
               CAST(16 * quantile_cont(v_micro, 0.9375) AS BIGINT) AS hi16
        FROM v GROUP BY event_type
    )
    SELECT v.event_id, v.event_type, v.v_micro, b.lo16, b.hi16,
           LEAST(GREATEST(16 * v.v_micro, b.lo16), b.hi16) AS clamped16,
           CAST(16 * v.v_micro
                <> LEAST(GREATEST(16 * v.v_micro, b.lo16), b.hi16)
                AS INT) AS clipped
    FROM v JOIN b USING (event_type)
    """,
    doc="Per-group winsorization at the (1/16, 15/16) quantiles — the "
    "clip-don't-drop sibling of the q124 MAD gate for numeric "
    "telemetry. Arbitrary quantiles (0.05...) are NOT binary-exact "
    "doubles, so cross-engine interpolation can round apart (the q112 "
    "hazard); restricting to SIXTEENTHS makes the rank fraction a "
    "multiple of 1/16 and the interpolated value times 16 an exact "
    "BIGINT both engines agree on — the q124 half-carrier discipline "
    "generalized. One exact percentile per bounded group + one keyed "
    "join back (operators/robust.winsorize).",
)
def q128_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.robust import winsorize

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    return winsorize(ev, "event_type", "v_micro", tail_sixteenths=1).select(
        "event_id", "event_type", "v_micro", "lo16", "hi16", "clamped16",
        "clipped",
    )


# ---------------------------------------------------------------------------
# q129: majority-vote label aggregation — annotation consolidation
# ---------------------------------------------------------------------------

@register(
    "q129_majority_label",
    """
    WITH judged AS (
        SELECT user_id % 500 AS example_id, event_type AS label
        FROM events
    ),
    counts AS (
        SELECT example_id, label, CAST(COUNT(*) AS BIGINT) AS votes
        FROM judged GROUP BY example_id, label
    ),
    ranked AS (
        SELECT example_id, label, votes,
               ROW_NUMBER() OVER (PARTITION BY example_id
                                  ORDER BY votes DESC, label) AS rk,
               SUM(votes) OVER (PARTITION BY example_id) AS votes_total,
               COUNT(*) OVER (PARTITION BY example_id) AS n_labels
        FROM counts
    )
    SELECT example_id, label,
           votes AS votes_top,
           CAST(votes_total AS BIGINT) AS votes_total,
           CAST(n_labels AS BIGINT) AS n_labels,
           CAST(votes * 1000000 // votes_total AS BIGINT) AS agreement_ppm
    FROM ranked WHERE rk = 1
    """,
    doc="Majority-vote label consolidation — the aggregation step "
    "every multi-annotator / multi-sample labeling pipeline needs "
    "before training: one winner per example (ties broken to the "
    "lexicographically smallest label, a TOTAL order — a bare max_by "
    "on count would be tie-nondeterministic) plus the "
    "inter-annotator-agreement ratio in exact integer ppm. Two "
    "map-side-combinable count aggregations and a min_by fold over "
    "per-label counts — no window, no per-example sort, raw judgments "
    "never travel past the first combine "
    "(operators/labels.majority_label).",
)
def q129_majority_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.labels import majority_label

    judged = load_table(spark, "events", sf_dir).select(
        (F.col("user_id") % 500).alias("example_id"),
        F.col("event_type").alias("label"),
    )
    return majority_label(judged, "example_id", "label")


# ---------------------------------------------------------------------------
# q130: per-entity temporal holdout split — no future leakage
# ---------------------------------------------------------------------------

@register(
    "q130_temporal_split",
    """
    WITH r AS (
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT) AS rank,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_rows
        FROM events
    )
    SELECT event_id, user_id, ts_s, rank, n_rows,
           CASE WHEN (n_rows - rank) * 1000000 < n_rows * 200000
                THEN 'test' ELSE 'train' END AS split
    FROM r
    """,
    doc="Per-entity TEMPORAL holdout: each user's most recent 20% of "
    "events become test — the standard forecasting/recsys evaluation "
    "split, where the q73 random hash split would leak the future "
    "into training (the time-axis cousin of q120's group-aware "
    "anti-leakage split). Rank-based integer-exact cut "
    "((n - rank) * 1e6 < n * test_ppm over the (ts, tiebreak) "
    "ascending rank), entity-partitioned windows only — parallel "
    "across entities, no global sort "
    "(operators/sampling.temporal_split).",
)
def q130_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sampling import temporal_split

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "ts"
    )
    out = temporal_split(
        ev, "user_id", "ts", test_ppm=200_000, tiebreak_col="event_id"
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "rank",
        "n_rows",
        "split",
    )


# ---------------------------------------------------------------------------
# q125: MMR diversified re-ranking — greedy replayed as a recursive CTE
# ---------------------------------------------------------------------------

_MMR_SCORE = (
    "(700000*rel - 300000*COALESCE(maxsim, 0)"
    " - (((700000*rel - 300000*COALESCE(maxsim, 0)) % 1000000 + 1000000)"
    " % 1000000)) // 1000000"
)

@register(
    "q125_mmr_rerank",
    f"""
    WITH RECURSIVE vq AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vq
        FROM embeddings
    ),
    q AS (SELECT vq FROM vq WHERE vec_id = 0),
    rel_t AS (
        SELECT c.vec_id, c.vq,
               CAST(list_sum(list_transform(range(1, LEN(c.vq) + 1),
                    i -> c.vq[i] * q.vq[i])) AS BIGINT) AS rel
        FROM vq c CROSS JOIN q
        WHERE c.vec_id <> 0
    ),
    cands AS (
        SELECT vec_id, vq, rel FROM rel_t
        QUALIFY ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) <= 32
    ),
    rem AS (
        -- working table = candidates still unselected after `it` picks;
        -- each recursion drops the argmax row and folds its vector into
        -- every survivor's max-similarity state (NULL until the first
        -- pick lands — max sim over the selected set can be NEGATIVE,
        -- so a 0 init would be wrong)
        SELECT 0 AS it, vec_id, rel, vq, CAST(NULL AS BIGINT) AS maxsim
        FROM cands
        UNION ALL
        SELECT it + 1, vec_id, rel, vq,
               CASE WHEN maxsim IS NULL THEN
                   CAST(list_sum(list_transform(range(1, LEN(vq) + 1),
                        i -> vq[i] * pvq[i])) AS BIGINT)
               ELSE GREATEST(maxsim,
                   CAST(list_sum(list_transform(range(1, LEN(vq) + 1),
                        i -> vq[i] * pvq[i])) AS BIGINT))
               END
        FROM (
            SELECT it, vec_id, rel, vq, maxsim,
                   ROW_NUMBER() OVER (ORDER BY {_MMR_SCORE} DESC, vec_id) AS rk,
                   FIRST(vq) OVER (ORDER BY {_MMR_SCORE} DESC, vec_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS pvq
            FROM rem
        ) WHERE rk > 1 AND it < 9
    )
    SELECT CAST(it + 1 AS BIGINT) AS rank, vec_id, rel,
           CAST({_MMR_SCORE} AS BIGINT) AS mmr_score
    FROM (
        SELECT it, vec_id, rel, maxsim,
               ROW_NUMBER() OVER (PARTITION BY it
                                  ORDER BY {_MMR_SCORE} DESC, vec_id) AS rk
        FROM rem
    ) WHERE rk = 1 AND it < 10
    """,
    doc="Maximal Marginal Relevance re-ranking (Carbonell & Goldstein "
    "1998) over the embedding table: quantize to exact integers "
    "(FLOOR(x*1000) — float-to-double widening is bit-identical across "
    "engines), take the top-32 candidates by integer dot-product "
    "relevance against vec_id 0 (distributed TakeOrderedAndProject, "
    "query vector as a plan literal), then the exact-integer greedy "
    "lambda*rel - (1-lambda)*max_sim selection of 10, driver-side over "
    "the BOUNDED candidate set (mmr_select's documented contract, like "
    "the union-find gate). The greedy is sequential-by-nature — the "
    "oracle replays it as a recursive CTE whose working table is the "
    "unselected pool, dropping the argmax and folding its vector into "
    "each survivor's max-sim per step (the q66 recursive-replay "
    "pattern), with Python FLOOR division spelled out explicitly since "
    "DuckDB's // truncates (operators/retrieval.mmr_rerank).",
)
def q125_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.retrieval import mmr_rerank

    e = load_table(spark, "embeddings", sf_dir)
    return mmr_rerank(e, query_id=0, k=10, n_candidates=32)


# ---------------------------------------------------------------------------
# q134/q135: maximal repeated spans (Lee et al. substring dedup) + strip
# ---------------------------------------------------------------------------

_SPAN_N = 10

# q200's bronze chunk width; must stay >= _SPAN_N - 1 or boundary
# n-grams fall outside the carried lookahead (asserted at the call)
_Q200_CHUNK_TOKENS = 64

_SPANS_CORE = f"""
    base AS MATERIALIZED (
        SELECT doc_id, toks
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
        WHERE len(toks) >= {_SPAN_N}
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, u.i - 1 AS pos,
               md5(array_to_string(toks[u.i:u.i+{_SPAN_N - 1}], ' ')) AS g
        FROM base,
             LATERAL unnest(range(1, len(toks) - {_SPAN_N} + 2)) u(i)
    ),
    dup AS (SELECT g FROM grams
            GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN COALESCE(
                        pos - LAG(pos) OVER (PARTITION BY doc_id
                                             ORDER BY pos),
                        {_SPAN_N + 1}) > {_SPAN_N}
                    THEN 1 ELSE 0 END AS nf
        FROM hits),
    islands AS (
        SELECT doc_id, pos,
               SUM(nf) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS isl
        FROM flagged),
    spans AS (
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + {_SPAN_N} AS BIGINT) AS span_end,
               CAST(MAX(pos) + {_SPAN_N} - MIN(pos) AS BIGINT)
                   AS span_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM islands GROUP BY doc_id, isl)
"""


@register(
    "q134_repeated_spans",
    f"""
    WITH {_SPANS_CORE}
    SELECT doc_id, span_start, span_end, span_tokens, n_grams FROM spans
    """,
    doc="MAXIMAL repeated token spans across documents — the exact "
    "substring-dedup primitive of Lee et al. (Deduplicating Training "
    "Data Makes LMs Better) as sliding 10-gram match + interval "
    "coalescing: every 10-token window shared by >= 2 distinct docs "
    "marks [pos, pos+10), and overlapping/adjacent marks merge into "
    "maximal spans. The sliding window catches duplicated passages at "
    "ANY offset and recovers their full extent — exactly what q81's "
    "non-overlapping tiling cannot (a copy straddling a tile boundary "
    "is invisible there). One posting shuffle on the 128-bit md5 gram "
    "key (xxhash64 at 100 TB), count-distinct, co-partitioned join "
    "back, then doc-partitioned windows only; constant span width "
    "turns the interval-merge running-max into a single LAG "
    "(operators/dedupe.repeated_spans).",
)
def q134_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.dedupe import repeated_spans

    return repeated_spans(_docs(spark, sf_dir), n=_SPAN_N, min_docs=2)


@register(
    "q135_span_strip",
    f"""
    WITH {_SPANS_CORE},
    allb AS (
        SELECT doc_id, toks
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
        WHERE len(toks) > 0
    ),
    tokpos AS (
        SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
        FROM allb, LATERAL unnest(range(1, len(toks) + 1)) u(i)
    ),
    kept AS (
        SELECT t.doc_id,
               md5(COALESCE(string_agg(tok, ' ' ORDER BY t.pos)
                            FILTER (WHERE NOT EXISTS (
                                SELECT 1 FROM spans sp
                                WHERE sp.doc_id = t.doc_id
                                  AND t.pos >= sp.span_start
                                  AND t.pos < sp.span_end)), ''))
                   AS retained_md5
        FROM tokpos t GROUP BY t.doc_id
    ),
    dupagg AS (
        SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(len(b.toks) - COALESCE(d.dup_tokens, 0) AS BIGINT)
               AS retained_tokens,
           k.retained_md5
    FROM allb b
    LEFT JOIN dupagg d USING (doc_id)
    JOIN kept k ON k.doc_id = b.doc_id
    """,
    doc="Apply step of substring-level dedup: strip every q134 "
    "maximal repeated span from its document and account for the "
    "result — total/duplicated/retained token counts plus the md5 of "
    "the reconstructed survivor text in original order (the q81 "
    "reconstruction-proof discipline; a fully-duplicated doc keeps "
    "md5('')). The strip is IN-PLAN per row: each doc's merged spans "
    "(bounded by doc length / n) collect into one array and a "
    "positional filter/exists HOF drops covered tokens — no second "
    "explode, no range join; one co-partitioned join back to the "
    "corpus beyond q134's own shuffles "
    "(operators/dedupe.strip_repeated_spans).",
)
def q135_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.dedupe import strip_repeated_spans

    return strip_repeated_spans(_docs(spark, sf_dir), n=_SPAN_N, min_docs=2)


@register(
    "q200_prechunked_span_strip",
    f"""
    WITH {_SPANS_CORE},
    allb AS (
        SELECT doc_id, toks
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
        WHERE len(toks) > 0
    ),
    tokpos AS (
        SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
        FROM allb, LATERAL unnest(range(1, len(toks) + 1)) u(i)
    ),
    kept AS (
        SELECT t.doc_id,
               md5(COALESCE(string_agg(tok, ' ' ORDER BY t.pos)
                            FILTER (WHERE NOT EXISTS (
                                SELECT 1 FROM spans sp
                                WHERE sp.doc_id = t.doc_id
                                  AND t.pos >= sp.span_start
                                  AND t.pos < sp.span_end)), ''))
                   AS retained_md5
        FROM tokpos t GROUP BY t.doc_id
    ),
    dupagg AS (
        SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(len(b.toks) - COALESCE(d.dup_tokens, 0) AS BIGINT)
               AS retained_tokens,
           k.retained_md5
    FROM allb b
    LEFT JOIN dupagg d USING (doc_id)
    JOIN kept k ON k.doc_id = b.doc_id
    """,
    doc="q135's span-strip accounting computed ENTIRELY through the "
    "pre-chunked bronze layout (round 12): the corpus is chunked once "
    "(chunking.prechunk_documents, 64-token chunks carrying the "
    "write-time tok_off global offsets), the maximal repeated spans "
    "are detected from chunk rows (dedupe.prechunked_repeated_spans — "
    "positional 10-grams with next-chunk heads, shared island "
    "coalesce), and the strip applies per chunk with global offsets "
    "(dedupe.prechunked_strip_given_spans). The oracle is q135's SQL "
    "verbatim, so the driver hash-checks that the storage-layout "
    "twins are value-identical end-to-end, as q196/q197 do for the "
    "filter scores and the gopher gate. At 100 TB this is the plan that "
    "runs: no task tokenizes or kgram-walks a whole document; "
    "per-task work is bounded by the 64-token chunk, and the global "
    "positions ride the scan instead of a corpus-wide window.",
)
def q200_prechunked_span_strip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_guiacores_spark.operators.chunking import prechunk_documents
    from etl_guiacores_spark.operators.dedupe import (
        prechunked_repeated_spans,
        prechunked_strip_given_spans,
    )

    # the chunk relation feeds the span detector AND (twice) the
    # strip — the landed pipeline pays chunking once because bronze
    # is a parquet table; the self-contained query gets the same
    # once-only tokenization from a persist (Catalyst won't CSE
    # across join sides); bench.py reclaims the cache per query
    # repartition_output=False: the (id, chunk_pos) hash repartition
    # exists for write-time FILE layout; this query consumes the chunk
    # relation in-plan (persist, never written), so the exchange moved
    # data-sized chunk text for nothing (guide §2.4)
    chunks = prechunk_documents(
        _docs(spark, sf_dir),
        chunk_tokens=_Q200_CHUNK_TOKENS,
        repartition_output=False,
    ).persist()
    # the strip consumes spans TWICE (span->chunk assignment AND the
    # per-doc dup_tokens agg), and each consumer would replay the
    # whole positional-gram detection subtree — persist the bounded
    # repeated-span table (few rows by construction: maximal spans
    # shared by >= 2 docs) so detection runs once; the landed
    # pipeline materializes spans as a parquet stage for the same
    # reason, and bench.py reclaims the cache per query
    # validate=False on BOTH halves: the contract probes exist for
    # EXTERNAL bronze tables (stale/partial parquet), but this query
    # builds the chunk relation from prechunk_documents in the same
    # plan, so positions/coverage/boundary-tokens hold by
    # construction (chunk_tokens=64 >= n-1) — the probes were two
    # eager jobs that re-executed the chunk lineage before the first
    # real action (measured: the probe jobs dominated the build
    # phase; same stance as the pipeline's validate=False fast path)
    # the by-construction claim needs every boundary n-gram to fit in
    # the lookahead prechunk_documents carries (n-1 tokens of the
    # next chunk), which holds only while chunk_tokens >= n-1 — keep
    # it enforced, not just commented
    assert _Q200_CHUNK_TOKENS >= _SPAN_N - 1
    spans = prechunked_repeated_spans(
        chunks, n=_SPAN_N, min_docs=2, validate=False
    ).persist()
    return prechunked_strip_given_spans(
        chunks, spans, validate=False, chunk_tokens=_Q200_CHUNK_TOKENS
    )


# ---------------------------------------------------------------------------
# q136: PMI collocations in exact integer ppm (phrase-mining signal)
# ---------------------------------------------------------------------------

@register(
    "q136_pmi_collocations",
    f"""
    WITH base AS MATERIALIZED (
        SELECT doc_id, toks
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
        WHERE len(toks) > 0
    ),
    uni AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY tok
    ),
    ntot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    pairs AS MATERIALIZED (
        SELECT toks[u.i] AS w1, toks[u.i + v.d] AS w2
        FROM base,
             LATERAL unnest(range(1, len(toks))) u(i),
             LATERAL unnest(range(1, least(2, len(toks) - u.i) + 1)) v(d)
    ),
    ptot AS (SELECT CAST(COUNT(*) AS BIGINT) AS pt FROM pairs),
    pc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
        FROM pairs GROUP BY w1, w2 HAVING COUNT(*) >= 5
    )
    SELECT pc.w1, pc.w2, pc.pair_count,
           CAST(CAST(pc.pair_count AS HUGEINT) * n * n * 1000000
                // (CAST(pt AS HUGEINT) * u1.c * u2.c) AS BIGINT)
               AS ratio_ppm
    FROM pc
    JOIN uni u1 ON u1.tok = pc.w1
    JOIN uni u2 ON u2.tok = pc.w2
    CROSS JOIN ntot CROSS JOIN ptot
    """,
    doc="PMI-style collocation scores in EXACT integer ppm — the "
    "phrase-mining / tokenizer-vocabulary signal (word2vec's phrase "
    "pass scores pairs the same way): for every ordered token pair "
    "within a 2-token window, ratio_ppm = 1e6*p(w1,w2)/(p(w1)p(w2)) = "
    "c_pair*N^2*1e6 div (P*c_w1*c_w2) — a pure integer ratio (PMI is "
    "its monotone log, so thresholding on the ratio avoids float "
    "divergence; > 1e6 means positive association). Interior in "
    "DECIMAL(38,0)/HUGEINT (c*N^2*1e6 blows BIGINT at corpus scale — "
    "the BM25 headroom discipline). Pair generation is a pure column "
    "HOF (no position self-join); one pair-key shuffle with map-side "
    "combine; 1-row totals broadcast while the unigram joins stay "
    "size-adaptive (a 100 TB whitespace vocab is 1e8+ tokens — "
    "force-broadcasting it would OOM; AQE broadcasts exactly when "
    "small) (operators/textstats.pmi_collocations).",
)
def q136_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.textstats import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), window=2, min_count=5)


# ---------------------------------------------------------------------------
# q138: exact-budget stratified sample (largest-remainder apportionment)
# ---------------------------------------------------------------------------

@register(
    "q138_exact_quota_sample",
    """
    WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cs
               FROM documents GROUP BY source, lang),
    t AS (SELECT CAST(SUM(cs) AS BIGINT) AS nt FROM c),
    q0 AS (SELECT source, lang, cs,
                  CAST(CAST(200 AS HUGEINT) * cs // nt AS BIGINT) AS base,
                  CAST(CAST(200 AS HUGEINT) * cs % nt AS BIGINT) AS md,
                  nt
           FROM c CROSS JOIN t),
    l AS (SELECT CAST(200 - SUM(base) AS BIGINT) AS lv FROM q0),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY md DESC, source, lang)
                        AS rk
          FROM q0),
    quota AS (
        SELECT source, lang,
               CASE WHEN nt <= 200 THEN cs
                    ELSE base + CASE WHEN rk <= lv AND md > 0
                                     THEN 1 ELSE 0 END
               END AS quota
        FROM r CROSS JOIN l),
    ranked AS (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY source, lang
                   ORDER BY CAST(('0x' || substr(
                       md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT), doc_id) AS rn
        FROM documents)
    SELECT doc_id, source, lang
    FROM ranked JOIN quota USING (source, lang)
    WHERE rn <= quota
    """,
    doc="Stratified sample hitting an EXACT 200-document budget via "
    "largest-remainder (Hamilton) apportionment over (source, lang) "
    "strata — the dataset-mixing primitive when the budget is a hard "
    "contract; fractional rates (q73/q87) only hit it in expectation. "
    "base = floor(200*c_s/N), leftover seats to the largest "
    "remainders (200*c_s mod N, stratum-key tiebreak — a total order) "
    "on the shared denominator N in DECIMAL(38,0)/HUGEINT. Within a "
    "stratum the quota takes the (md5, id)-smallest rows — "
    "reproducible, and PREFIX-STABLE under budget changes (each "
    "stratum's selection is a prefix of its fixed hash order; the "
    "Hamilton quota itself is famously non-monotone — the Alabama "
    "paradox — so prefix stability is the honest contract). "
    "Apportionment runs on the BOUNDED strata aggregate "
    "(its one single-partition window orders #strata rows, never "
    "data); the corpus sees one broadcast quota join and one "
    "per-stratum rank window "
    "(operators/sampling.exact_quota_stratified).",
)
def q138_exact_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sampling import exact_quota_stratified

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang"
    )
    return exact_quota_stratified(
        d, ["source", "lang"], total=200, key_col="doc_id", seed="quota"
    )


# ---------------------------------------------------------------------------
# q143: Cohen's kappa — chance-corrected classifier-vs-gold agreement
# ---------------------------------------------------------------------------

def _lang_pred_case() -> str:
    """DuckDB twin of textstats.lang_id over a ``toks`` list column —
    same marker vocabularies, same fixed en,es,de,fr priority fold,
    same CJK override (shared with q22's oracle)."""
    from etl_guiacores_spark.operators.textstats import LANG_MARKERS

    counts = {
        lang: f"LEN(list_filter(toks, t -> t IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in LANG_MARKERS.items()
    }
    best, best_n = "'und'", "0"
    for lang in ("en", "es", "de", "fr"):
        c = counts[lang]
        best = f"CASE WHEN {c} > {best_n} THEN '{lang}' ELSE {best} END"
        best_n = f"GREATEST({c}, {best_n})"
    return (
        "CASE WHEN LEN(regexp_extract_all(text, "
        f"'[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh' ELSE {best} END"
    )


@register(
    "q143_cohen_kappa",
    f"""
    WITH pred AS (
        SELECT source, lang AS gold, {_lang_pred_case()} AS predicted
        FROM (SELECT source, lang, text,
                     list_transform({_TOKS}, t -> lower(t)) AS toks
              FROM documents WHERE LENGTH(trim(text)) > 0)
    ),
    conf AS (
        SELECT source, gold, predicted, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY source, gold, predicted
    ),
    tot AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS n_items,
               CAST(SUM(CASE WHEN gold = predicted THEN n ELSE 0 END)
                    AS BIGINT) AS n_agree
        FROM conf GROUP BY source
    ),
    rowt AS (SELECT source, gold AS c, SUM(n) AS ra
             FROM conf GROUP BY source, gold),
    colt AS (SELECT source, predicted AS c, SUM(n) AS cb
             FROM conf GROUP BY source, predicted),
    marg AS (
        SELECT source, SUM(CAST(ra AS HUGEINT) * cb) AS marg
        FROM rowt JOIN colt USING (source, c) GROUP BY source
    )
    SELECT t.source, t.n_items, t.n_agree,
           CAST((CAST(t.n_items AS HUGEINT) * t.n_agree
                 - COALESCE(m.marg, 0)) * 1000000
                // NULLIF(CAST(t.n_items AS HUGEINT) * t.n_items
                          - COALESCE(m.marg, 0), 0)
                AS BIGINT) AS kappa_ppm
    FROM tot t LEFT JOIN marg m USING (source)
    """,
    doc="Cohen's kappa between the q22 language-ID heuristic and the "
    "gold lang label, per source — chance-corrected agreement, the "
    "eval metric that exposes what raw accuracy hides (a classifier "
    "answering the majority language every time scores high accuracy "
    "and kappa ~ 0). kappa = (p_o - p_e)/(1 - p_e) cross-multiplied "
    "to exact integers: PPM*(N*agree - marg) div (N^2 - marg) with "
    "marg = sum_c row_c*col_c, every product in DECIMAL(38,0)/"
    "HUGEINT (N*agree wraps BIGINT past N ~ 3e9 rows), NULL at the "
    "p_e = 1 degeneracy. One map-side-combinable groupBy to the "
    "confusion table; marginals and products entirely on that "
    "bounded |groups| x |langs|^2 relation "
    "(operators/labels.cohen_kappa).",
)
def q143_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.labels import cohen_kappa
    from etl_guiacores_spark.operators.textstats import lang_id

    pred = _docs(spark, sf_dir).select(
        "source",
        F.col("lang").alias("gold"),
        lang_id(F.col("text")).alias("predicted"),
    )
    return cohen_kappa(pred, ["source"], "gold", "predicted")


# ---------------------------------------------------------------------------
# q144: per-group order-statistics report (p50/p75/p93.75 exact)
# ---------------------------------------------------------------------------

@register(
    "q144_quantile_report",
    """
    WITH v AS (
        SELECT event_type,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS v_micro
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(v_micro) AS BIGINT) AS min_micro,
           CAST(MAX(v_micro) AS BIGINT) AS max_micro,
           CAST(16 * quantile_cont(v_micro, 0.5) AS BIGINT) AS p8_16,
           CAST(16 * quantile_cont(v_micro, 0.75) AS BIGINT) AS p12_16,
           CAST(16 * quantile_cont(v_micro, 0.9375) AS BIGINT) AS p15_16
    FROM v GROUP BY event_type
    """,
    doc="Per-event-type order-statistics report: n/min/max plus "
    "interpolated p50/p75/p93.75 — the latency/SLO rollup every "
    "telemetry pipeline publishes. Quantile fractions restricted to "
    "SIXTEENTHS (binary-exact doubles) and reported 16x-scaled, so "
    "the interpolated values are exact BIGINTs both engines agree "
    "on — q128's winsorize discipline, reported instead of clamped. "
    "One aggregate; exact percentiles need each bounded group on one "
    "reducer, t-digest swaps in for huge groups "
    "(operators/robust.quantile_report).",
)
def q144_quantile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.robust import quantile_report

    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    return quantile_report(ev, "event_type", "v_micro")


# ---------------------------------------------------------------------------
# q145: token-budget histogram — shard-planning length distribution
# ---------------------------------------------------------------------------

@register(
    "q145_token_histogram",
    """
    WITH d AS (
        SELECT source, CAST(LEN(toks) AS BIGINT) AS n_tokens
        FROM (SELECT source,
                     string_split_regex(trim(text),
                                        '[ \\t\\n\\r\\f\\v]+') AS toks
              FROM documents WHERE LENGTH(trim(text)) > 0)
    ),
    h AS (
        SELECT source,
               CAST(LENGTH(bin(n_tokens)) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens
        FROM d WHERE n_tokens > 0
        GROUP BY source, bucket
    )
    SELECT source, bucket, n_docs, bucket_tokens,
           CAST(CAST(bucket_tokens AS HUGEINT) * 1000000
                // SUM(bucket_tokens) OVER (PARTITION BY source)
                AS BIGINT) AS token_share_ppm
    FROM h
    """,
    doc="Token-budget histogram: per (source, power-of-two length "
    "bucket) document count, token total, and each bucket's exact-ppm "
    "share of its source's tokens — the length-distribution audit "
    "run before sequence packing / shard sizing (it decides "
    "max_seq_len and exposes truncation exposure: how many tokens "
    "live in docs longer than the context window). The bucket is "
    "LENGTH(BIN(n)) = floor(log2 n)+1 — pure integer/string ops on "
    "BOTH engines, immune to the float-log2 boundary hazard at exact "
    "powers of two. One map-side-combinable groupBy; the share "
    "window runs over the BOUNDED histogram (<= 64 buckets/source), "
    "never the corpus; the share numerator in DECIMAL(38,0)/HUGEINT "
    "(BIGINT wraps past ~9.2e12 bucket tokens — real corpus scale).",
)
def q145_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    h = d.groupBy(
        "source",
        F.expr("CAST(LENGTH(BIN(n_tokens)) AS BIGINT)").alias("bucket"),
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bucket_tokens"),
    )
    w = Window.partitionBy("source")
    return (
        h.withColumn("__src_tokens", F.sum("bucket_tokens").over(w))
        .withColumn(
            "token_share_ppm",
            F.expr(
                "CAST(CAST(bucket_tokens AS DECIMAL(38,0)) * 1000000 "
                "div __src_tokens AS BIGINT)"
            ),
        )
        .drop("__src_tokens")
    )


# ---------------------------------------------------------------------------
# q146: Spearman rank correlation — non-parametric drift/trend per key
# ---------------------------------------------------------------------------

@register(
    "q146_spearman_trend",
    """
    WITH v AS (
        SELECT event_type, event_id, ts,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS v_micro
        FROM events
    ),
    r AS (
        SELECT event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY v_micro, event_id)
                    AS BIGINT) AS rx,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id)
                    AS BIGINT) AS ry
        FROM v
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
           CAST((CAST(1000000 AS HUGEINT) * COUNT(*)
                 * (COUNT(*) * COUNT(*) - 1)
                 - 6 * CAST(1000000 AS HUGEINT)
                 * SUM((rx - ry) * (rx - ry)))
                // NULLIF(CAST(COUNT(*) AS HUGEINT)
                          * (COUNT(*) * COUNT(*) - 1), 0)
                AS BIGINT) AS rho_ppm
    FROM r GROUP BY event_type
    """,
    doc="Spearman rank correlation between value and TIME per "
    "event_type — the non-parametric monotone-drift detector "
    "(Mann-Kendall's cousin): rho near +-1e6 ppm flags a metric "
    "trending without assuming linearity or caring about outliers, "
    "where Pearson-over-doubles would both drift across engines (sum "
    "order) and chase extreme values. rho = 1 - 6*sum(d^2)/(n(n^2-1)) "
    "over ranks taken on the (value, id)/(ts, id) TOTAL orders "
    "(deterministic tie policy — the distributed contract; classic "
    "average-ranks diverges only under heavy ties), cross-multiplied "
    "to exact ppm with DECIMAL(38,0)/HUGEINT interiors (n(n^2-1) "
    "wraps BIGINT at n ~ 2.1M rows/group). Two per-group rank "
    "windows + one aggregate (operators/rankstats.spearman_corr).",
)
def q146_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rankstats import spearman_corr

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "event_id", "ts",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    return spearman_corr(ev, "event_type", "v_micro", "ts", "event_id")


# ---------------------------------------------------------------------------
# q147: last-touch attribution — join-free credit assignment
# ---------------------------------------------------------------------------

@register(
    "q147_last_touch",
    """
    WITH s AS (
        SELECT user_id, event_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    wl AS (
        SELECT user_id, event_id, ts, event_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS) OVER w AS t_ts,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_id END IGNORE NULLS) OVER w AS t_id,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS) OVER w AS t_k
        FROM s
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id AS conversion_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS conversion_ts,
           CASE WHEN keep THEN t_id END AS touch_id,
           CASE WHEN keep THEN t_k END AS touch_type,
           CASE WHEN keep
                THEN STRFTIME(t_ts, '%Y-%m-%d %H:%M:%S') END AS touch_ts,
           CASE WHEN keep THEN gap END AS gap_micros
    FROM (SELECT *,
                 epoch_us(ts) - epoch_us(t_ts) AS gap,
                 t_ts IS NOT NULL
                   AND epoch_us(ts) - epoch_us(t_ts) <= 86400000000 AS keep
          FROM wl)
    WHERE event_type = 'purchase'
    """,
    doc="Last-touch attribution inside a 24h lookback: every purchase "
    "credited to the user's latest preceding view/click — the "
    "credit-assignment query behind every conversion report. NO join: "
    "touches and conversions ride ONE key-partitioned window "
    "(last(touch, ignorenulls) over the (ts, id)-ordered stream, "
    "STRICTLY preceding frame), the merge-streams form of an as-of "
    "join (the q47 lesson) — one exchange on the user key at any "
    "scale, no build side, no skew-prone range condition. Out-of-"
    "window touches yield NULL attribution (the row still reports), "
    "gap in exact integer micros "
    "(operators/funnel.last_touch_attribution).",
)
def q147_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.funnel import last_touch_attribution

    ev = load_table(spark, "events", sf_dir)
    out = last_touch_attribution(
        ev, "purchase", ["view", "click"],
        window_micros=86_400_000_000,
    )
    return out.select(
        "user_id", "conversion_id",
        F.date_format("conversion_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "conversion_ts"
        ),
        "touch_id", "touch_type",
        F.date_format("touch_ts", "yyyy-MM-dd HH:mm:ss").alias("touch_ts"),
        "gap_micros",
    )


# ---------------------------------------------------------------------------
# q148: Gini concentration of token mass per source
# ---------------------------------------------------------------------------

@register(
    "q148_gini_tokens",
    f"""
    WITH d AS (
        SELECT source, doc_id, CAST(LEN({_TOKS}) AS BIGINT) AS n_tokens
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    r AS (
        SELECT source, n_tokens AS x,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY n_tokens, doc_id)
                    AS BIGINT) AS i
        FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(x) AS BIGINT) AS total,
           CAST((2 * SUM(CAST(i AS HUGEINT) * x)
                 - (COUNT(*) + 1) * CAST(SUM(x) AS HUGEINT)) * 1000000
                // NULLIF(CAST(COUNT(*) AS HUGEINT) * SUM(x), 0)
                AS BIGINT) AS gini_ppm
    FROM r GROUP BY source
    """,
    doc="Gini concentration of token mass per source — the corpus-"
    "balance audit run before stratified sampling or packing ('is "
    "90% of this source's tokens in 1% of its documents?'). G = "
    "(2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) over the "
    "(n_tokens, doc_id) total order, cross-multiplied to exact ppm "
    "(DECIMAL(38,0)/HUGEINT interiors — sum(i*x) wraps BIGINT at "
    "~1e9 docs), NULL on zero total, negative inputs raise IN-PLAN "
    "via assert_true (no second validation scan). One per-source "
    "rank window + one aggregate "
    "(operators/rankstats.gini_index).",
)
def q148_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rankstats import gini_index

    d = _docs(spark, sf_dir).select(
        "source", "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return gini_index(d, "source", "n_tokens", "doc_id")


# ---------------------------------------------------------------------------
# q149: time-weighted average (TWAP) — step-interpolated telemetry mean
# ---------------------------------------------------------------------------

@register(
    "q149_twap",
    """
    WITH v AS (
        SELECT event_type, event_id, ts,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS v_micro,
               date_trunc('hour', ts) AS bstart,
               LEAD(ts) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    d AS (
        SELECT event_type, bstart, v_micro,
               epoch_us(CASE WHEN nxt IS NOT NULL
                              AND nxt < bstart + INTERVAL 1 HOUR
                             THEN nxt
                             ELSE bstart + INTERVAL 1 HOUR END)
               - epoch_us(ts) AS dt
        FROM v
    )
    SELECT event_type,
           STRFTIME(bstart, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(dt) AS BIGINT) AS span_micros,
           CAST(SUM(CAST(v_micro AS HUGEINT) * dt)
                // NULLIF(CAST(SUM(dt) AS HUGEINT), 0)
                AS BIGINT) AS twap_micro
    FROM d GROUP BY event_type, bstart
    """,
    doc="Time-weighted average per (event_type, hour): each "
    "observation holds its value until the next one of its key (step "
    "interpolation), the last in a bucket holds to the bucket end — "
    "the honest mean for irregular telemetry, where plain AVG "
    "overweights bursts 10:1. twap = sum(v*dt) div sum(dt), dt in "
    "exact integer micros from one LEAD over the per-key (ts, id) "
    "total order clamped to the bucket boundary; the weighted sum in "
    "DECIMAL(38,0)/HUGEINT (v*dt wraps BIGINT in ~seconds of "
    "holding). One LEAD window + one partial-aggregable groupBy on "
    "the same key partitioning "
    "(operators/rollup_time.time_weighted_avg).",
)
def q149_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rollup_time import time_weighted_avg

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "event_id", "ts",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    out = time_weighted_avg(ev, ["event_type"])
    return out.select(
        "event_type",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
            "bucket_start"
        ),
        "n_obs", "span_micros", "twap_micro",
    )


# ---------------------------------------------------------------------------
# q168: Count-Min sketch audit — estimate vs exact on top tokens
# ---------------------------------------------------------------------------

@register(
    "q168_countmin_audit",
    f"""
    WITH tc AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM (SELECT unnest({_TOKS}) AS tok
              FROM documents WHERE LENGTH(trim(text)) > 0)
        GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(n_exact) AS BIGINT) AS n FROM tc),
    reps AS (
        SELECT tok, n_exact, r,
               CAST(('0x' || substr(md5('cms:' || CAST(r AS VARCHAR)
                                    || ':' || tok), 1, 8)) AS BIGINT)
                   % 256 AS bucket
        FROM tc, (SELECT unnest([0, 1, 2, 3]) AS r)
    ),
    sketch AS (
        SELECT r, bucket, CAST(SUM(n_exact) AS BIGINT) AS cell
        FROM reps GROUP BY r, bucket
    ),
    top AS (
        SELECT tok, n_exact FROM tc
        ORDER BY n_exact DESC, tok ASC LIMIT 20
    ),
    est AS (
        SELECT t.tok, t.n_exact, CAST(MIN(s.cell) AS BIGINT) AS n_est
        FROM top t
        JOIN reps p ON p.tok = t.tok
        JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
        GROUP BY t.tok, t.n_exact
    )
    SELECT tok, n_exact, n_est,
           CAST(n_est - n_exact AS BIGINT) AS overcount,
           n_est - n_exact <= (3 * (SELECT n FROM tot)) // 256
               AS within_bound
    FROM est
    """,
    doc="Count-Min sketch audit, the frequency twin of q105's "
    "HLL-vs-exact check: an EXPLICIT relational CMS (4 md5 hash rows "
    "x 256 counters — engine-independent, so the oracle replays it "
    "bit-exactly, unlike Spark's built-in JVM sketch) built over the "
    "token frequency table, then the top-20 exact tokens join back "
    "through their buckets to take the MIN-over-rows estimate. "
    "Emits exact, estimate, overcount (CMS never undercounts) and a "
    "within-3N/width bound flag — the validate-then-trust protocol "
    "before running the KB-sized mergeable sketch fleet-wide at "
    "100 TB where the exact per-token groupBy is the dominant "
    "shuffle. Sketch cells collapse map-side (bounded 4x256 table); "
    "the only corpus-sized shuffle is the exact count both sides "
    "share (operators/sketches.countmin_audit).",
)
def q168_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sketches import countmin_audit

    d = _docs(spark, sf_dir)
    tok_counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return countmin_audit(
        tok_counts, "tok", "n", depth=4, width=256, top_k=20, seed="cms"
    )


# ---------------------------------------------------------------------------
# q169: cross-source quantile normalization of document lengths
# ---------------------------------------------------------------------------

@register(
    "q169_quantile_normalize",
    """
    WITH base AS (
        SELECT doc_id, source, n_chars,
               n_chars * 10000000000 + doc_id AS k
        FROM documents
    ),
    g AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY k) AS grank,
               COUNT(*) OVER () AS n
        FROM base
    ),
    s AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY k) AS rs,
               COUNT(*) OVER (PARTITION BY source) AS ms
        FROM g
    ),
    idx AS (
        SELECT doc_id, source, n_chars,
               CASE WHEN ms > 1
                    THEN 1 + CAST(rs - 1 AS HUGEINT) * (n - 1) // (ms - 1)
                    ELSE (n + 1) // 2 END AS i
        FROM s
    )
    SELECT x.doc_id, x.source, x.n_chars,
           CAST(l.n_chars AS BIGINT) AS norm_chars
    FROM idx x JOIN g l ON l.grank = x.i
    """,
    doc="Cross-source quantile normalization of document length: "
    "every document's n_chars is re-expressed as the GLOBAL n_chars "
    "at the same within-source quantile position (endpoints to "
    "endpoints, interior rank mapped by 1+(r-1)(N-1) div (m-1), "
    "singleton sources to the lower median) — the calibration step "
    "that makes per-source quality scores comparable before mixing, "
    "since raw scores are domain-skewed but within-source ranks are "
    "not. Total order pinned by (n_chars, doc_id) packed into one "
    "key. Engine shape: global ranking via the q80 dense-ids "
    "range-exchange (local ranks + broadcast offsets, NO "
    "single-reducer window), one per-source rank window, one "
    "equi-join on the mapped rank; the (r-1)(N-1) product runs in "
    "DECIMAL(38,0)/HUGEINT — it wraps BIGINT at ~3B rows "
    "(operators/rankstats.quantile_normalize).",
)
def q169_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rankstats import quantile_normalize

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    return quantile_normalize(
        d,
        ["source"],
        "n_chars",
        F.col("n_chars") * F.lit(10_000_000_000) + F.col("doc_id"),
        out_col="norm_chars",
    ).select(
        "doc_id", "source", "n_chars",
        F.col("norm_chars").cast("long").alias("norm_chars"),
    )


# ---------------------------------------------------------------------------
# q170: per-key Holt level+trend smoothing — 2-state in-plan fold, no UDF
# ---------------------------------------------------------------------------

@register(
    "q170_holt_trend",
    """
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(value * 1000000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ho AS (
        SELECT user_id, event_id, ts, v, rn,
               v AS l, CAST(0 AS BIGINT) AS t
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.ts, o.v, o.rn,
               CAST((200000 * o.v + 800000 * (e.l + e.t)) // 1000000
                    AS BIGINT),
               CAST((100000 * ((200000 * o.v + 800000 * (e.l + e.t))
                               // 1000000 - e.l)
                     + 900000 * e.t) // 1000000 AS BIGINT)
        FROM ho e JOIN ordered o
          ON o.user_id = e.user_id AND o.rn = e.rn + 1
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           v AS v_micro,
           CAST(l AS BIGINT) AS level_micro,
           CAST(t AS BIGINT) AS trend_micro
    FROM ho
    """,
    doc="Per-user Holt double-exponential smoothing (alpha=0.2, "
    "beta=0.1) of the event value stream: q123's EWMA upgraded with "
    "a trend state, so the level tracks ramps instead of lagging "
    "them by a constant offset — the standard short-horizon "
    "forecaster (forecast(k) = level + k*trend) for ingest-rate and "
    "capacity monitoring. Engine shape identical to q123 — the "
    "inherently sequential recurrence folds INSIDE the plan via the "
    "aggregate higher-order function, zero Python, one shuffle on "
    "the key — but with a STRUCT<level,trend> accumulator through "
    "the blocked two-level scan, proving the in-plan scan "
    "generalizes from scalar to fixed-width state vectors. Integer "
    "fixed point throughout; trend goes NEGATIVE on downswings and "
    "Spark div / DuckDB // agree on truncation toward zero; the "
    "oracle replays the 2-state recurrence rank-by-rank as a "
    "recursive CTE (operators/rollup_time.holt_smooth).",
)
def q170_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rollup_time import holt_smooth

    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    sm = holt_smooth(
        ev, "user_id", "ts", "v_micro",
        alpha_ppm=200_000, beta_ppm=100_000, tiebreak_col="event_id",
    )
    return sm.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "v_micro",
        "level_micro",
        "trend_micro",
    )


# ---------------------------------------------------------------------------
# q171: position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------

@register(
    "q171_position_attribution",
    """
    WITH s AS (
        SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS m
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    fwd AS (
        SELECT *,
               first_value(CASE WHEN event_type = 'purchase'
                                THEN struct_pack(m := m, i := event_id)
                           END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS nxt
        FROM s
    ),
    t AS (
        SELECT user_id, event_id, ts, event_type, m,
               nxt.i AS conversion_id
        FROM fwd
        WHERE event_type IN ('view', 'click') AND nxt IS NOT NULL
              AND nxt.m - m <= 86400000000
    ),
    p AS (
        SELECT user_id, conversion_id, event_id AS touch_id,
               event_type AS touch_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, conversion_id
                                  ORDER BY ts, event_id) AS pos,
               COUNT(*) OVER (PARTITION BY user_id, conversion_id) AS n
        FROM t
    )
    SELECT user_id, conversion_id, touch_id, touch_type,
           CAST(pos AS BIGINT) AS pos,
           CAST(n AS BIGINT) AS n_touches,
           CAST(CASE WHEN n = 1 THEN 1000000
                     WHEN n = 2 THEN 500000
                     WHEN pos = 1 THEN 400000
                     WHEN pos = n THEN 400000
                          + (200000 - (200000 // (n - 2)) * (n - 2))
                     ELSE 200000 // (n - 2) END AS BIGINT) AS credit_ppm
    FROM p
    """,
    doc="Position-based (U-shaped) multi-touch attribution inside a "
    "24h lookback: every purchase's credit splits over ALL its "
    "preceding view/click touches — 40% first, 40% last, 20% across "
    "middles — the report reconciled against last-touch (q147) to "
    "price the funnel's top. Join-free: each touch picks up its NEXT "
    "conversion via first(conv, ignorenulls) over the strictly- "
    "FOLLOWING frame of the same user-partitioned ordered window "
    "(the q147 merge-streams shape, run forward), then one bounded "
    "re-window per (user, conversion) for positions. Credit is "
    "integer ppm and sums to EXACTLY 1e6 per conversion — the "
    "truncation remainder of the middle split lands on the last "
    "touch, deterministically — so downstream totals reconcile "
    "(operators/funnel.position_attribution).",
)
def q171_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.funnel import position_attribution

    ev = load_table(spark, "events", sf_dir)
    return position_attribution(
        ev, "purchase", ["view", "click"], window_micros=86_400_000_000
    )


# ---------------------------------------------------------------------------
# q172: mixture water-filling — budget allocation with capacity caps
# ---------------------------------------------------------------------------

@register(
    "q172_mixture_waterfill",
    f"""
    WITH tc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS avail
        FROM (SELECT source, unnest({_TOKS}) AS tok
              FROM documents WHERE LENGTH(trim(text)) > 0)
        GROUP BY source
    ),
    w AS (
        SELECT source, avail,
               CAST(('0x' || substr(md5('wf:' || source), 1, 8)) AS BIGINT)
                   % 4 + 1 AS weight
        FROM tc
    ),
    b AS (
        SELECT *, SUM(avail) OVER () // 2 AS budget,
               CAST(avail AS HUGEINT) * 1000000000000 // weight AS ratio
        FROM w
    ),
    st AS (
        SELECT *,
               COALESCE(SUM(avail) OVER (ORDER BY ratio, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prefix_a,
               COALESCE(SUM(weight) OVER (ORDER BY ratio, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prefix_w,
               SUM(weight) OVER () AS total_w
        FROM b
    ),
    c AS (
        SELECT *, CASE WHEN CAST(avail AS HUGEINT) * (total_w - prefix_w)
                            <= CAST(budget - prefix_a AS HUGEINT) * weight
                       THEN 1 ELSE 0 END AS cond
        FROM st
    ),
    cc AS (
        SELECT *, MIN(cond) OVER (ORDER BY ratio, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                      AS capped
        FROM c
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN capped THEN avail ELSE 0 END) AS BIGINT)
                   AS capped_a,
               CAST(SUM(CASE WHEN NOT capped THEN weight ELSE 0 END)
                    AS BIGINT) AS open_w
        FROM cc
    )
    SELECT source, avail, CAST(weight AS BIGINT) AS weight, capped,
           CAST(CASE WHEN capped THEN avail
                ELSE CAST(budget - (SELECT capped_a FROM tot) AS HUGEINT)
                     * weight // NULLIF((SELECT open_w FROM tot), 0)
                END AS BIGINT) AS alloc
    FROM cc
    """,
    doc="Mixture water-filling: allocate a token budget (half the "
    "corpus) across sources with md5-frozen target-share weights and "
    "per-source capacity caps — the step that turns q82/q94-style "
    "target SHARES into a feasible ALLOCATION when small sources "
    "can't supply their share. The fixpoint runs in ONE relational "
    "pass, no loop: sources sort by cap ratio avail/weight (1e-12 "
    "fixed-point key, id tiebreak), a source caps iff "
    "avail*suffix_w <= remaining*weight (cross-multiplied "
    "DECIMAL(38,0)/HUGEINT — division-free), a cumulative-AND window "
    "pins the capped prefix, and uncapped sources split the "
    "remainder by truncating proportional division. Everything runs "
    "on the BOUNDED per-source relation; the only corpus-sized work "
    "is the token groupBy. Truncation undershoot < |uncapped| stays "
    "visible in the report (operators/mixing.waterfill_allocation).",
)
def q172_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.mixing import waterfill_allocation

    d = _docs(spark, sf_dir)
    src = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("avail"))
        .withColumn(
            "weight",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("wf:"), F.col("source"))), 1, 8
                ),
                16, 10,
            ).cast("long") % 4 + 1,
        )
        .withColumn("budget", F.expr("sum(avail) over () div 2"))
    )
    return waterfill_allocation(src, "avail", "weight", "budget", "source")


# ---------------------------------------------------------------------------
# q173: padding-waste report across batching strategies
# ---------------------------------------------------------------------------

@register(
    "q173_padding_waste",
    f"""
    WITH L AS (
        SELECT doc_id,
               LEAST(CAST(len({_TOKS}) AS BIGINT), 512) AS l
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    pmax AS (
        SELECT 'pad_to_max' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_seqs,
               CAST(SUM(l) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) * 512 AS BIGINT) AS padded_tokens
        FROM L
    ),
    ppow AS (
        SELECT 'pow2_bucket' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_seqs,
               CAST(SUM(l) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN l > 256 THEN 512 WHEN l > 128 THEN 256
                             WHEN l > 64 THEN 128 WHEN l > 32 THEN 64
                             WHEN l > 16 THEN 32 ELSE 16 END) AS BIGINT)
                   AS padded_tokens
        FROM L
    ),
    r AS (
        SELECT l, ROW_NUMBER() OVER (ORDER BY l DESC, doc_id ASC) AS rk
        FROM L
    ),
    pb AS (
        SELECT (rk - 1) // 32 AS b, COUNT(*) AS n, MAX(l) AS bmax,
               SUM(l) AS btok
        FROM r GROUP BY 1
    ),
    psort AS (
        SELECT 'sorted_batch' AS strategy,
               CAST(SUM(n) AS BIGINT) AS n_seqs,
               CAST(SUM(btok) AS BIGINT) AS total_tokens,
               CAST(SUM(n * bmax) AS BIGINT) AS padded_tokens
        FROM pb
    ),
    plow AS (
        SELECT 'packed_lower_bound' AS strategy,
               CAST(COUNT(*) AS BIGINT) AS n_seqs,
               CAST(SUM(l) AS BIGINT) AS total_tokens,
               CAST((SUM(l) + 511) // 512 * 512 AS BIGINT) AS padded_tokens
        FROM L
    ),
    u AS (
        SELECT * FROM pmax UNION ALL SELECT * FROM ppow
        UNION ALL SELECT * FROM psort UNION ALL SELECT * FROM plow
    )
    SELECT strategy, n_seqs, total_tokens, padded_tokens,
           CAST((padded_tokens - total_tokens) * 1000000
                // NULLIF(padded_tokens, 0) AS BIGINT) AS waste_ppm
    FROM u
    """,
    doc="Padding-waste accounting across four batching strategies "
    "(pad-to-max, power-of-two buckets, length-sorted batches of 32, "
    "and the perfect-packing lower bound) over whitespace token "
    "counts clipped at 512 — the sizing study that prices the "
    "collator choice in wasted FLOPs before a training run (padding "
    "is pure waste; sorted batching typically recovers a double- "
    "digit percentage). The length-sorted strategy's global order "
    "uses the q80 dense-ids range exchange (local ranks + broadcast "
    "offsets, NO single-reducer window); the pow2 ladder is an "
    "integer CASE, no float log2 at boundaries; all arithmetic "
    "BIGINT with truncating ppm "
    "(operators/packing.padding_waste_report).",
)
def q173_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.packing import padding_waste_report
    from etl_guiacores_spark.operators.textstats import token_count

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    return padding_waste_report(
        d, "n_tok", "doc_id", max_len=512, batch_size=32
    )


# ---------------------------------------------------------------------------
# q174: product-quantization assignment (integer-exact argmin)
# ---------------------------------------------------------------------------

@register(
    "q174_pq_assign",
    """
    WITH edim AS (
        SELECT vec_id, d - 1 AS d0, (d - 1) // 16 AS sub,
               CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 1000000) AS BIGINT) AS fx
        FROM embeddings CROSS JOIN generate_series(1, 64) t(d)
    ),
    cdim AS (
        SELECT vec_id AS cid, d0, sub, fx AS cfx
        FROM edim WHERE vec_id < 8
    ),
    d2 AS (
        SELECT e.vec_id, e.sub, c.cid,
               CAST(SUM((e.fx - c.cfx) * (e.fx - c.cfx)) AS BIGINT) AS d2
        FROM edim e JOIN cdim c ON c.d0 = e.d0
        GROUP BY e.vec_id, e.sub, c.cid
    ),
    best AS (
        SELECT vec_id, sub, cid AS code, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM d2
    )
    SELECT vec_id,
           CAST(SUM(code * CASE sub WHEN 0 THEN 1 WHEN 1 THEN 8
                                    WHEN 2 THEN 64 ELSE 512 END)
                AS BIGINT) AS pq_code,
           CAST(SUM(d2) AS BIGINT) AS sq_err
    FROM best WHERE rn = 1
    GROUP BY vec_id
    """,
    doc="Product-quantization assignment: every 64-dim embedding "
    "compresses to 4 subspace codes (k=8 centroids each, packed "
    "into one 12-bit pq_code) plus its exact integer squared "
    "reconstruction distance — the bits-per-vector compression "
    "behind IVF-PQ at billion scale, complementing q63's IVF coarse "
    "cells and q64's scalar int8. Coordinates quantize to 1e-6 "
    "fixed point BEFORE distance math, so the argmin (ties by "
    "centroid id) replays bit-identically — doubles would tie-break "
    "on float noise. Codebook = the 8 lowest-id vectors (the frozen "
    "deterministic sample; production passes k-means centroids "
    "through the same seam — the ivf_build train-on-sample "
    "philosophy). Engine shape: dims explode relationally, equi-join "
    "the BROADCAST codebook dims, partial-aggregate squared diffs, "
    "one (d2, cid)-ordered argmin window per (vector, subspace) — "
    "no UDF, no BNLJ, corpus-sized shuffle keys on (vector, "
    "subspace) only (operators/quantize.pq_assign).",
)
def q174_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.quantize import pq_assign

    e = load_table(spark, "embeddings", sf_dir)
    cb = e.filter(F.col("vec_id") < 8)
    a = pq_assign(
        e, cb, vec_col="embedding", id_col="vec_id",
        code_id_col="vec_id", dim=64, n_sub=4,
    )
    factor = F.expr(
        "CASE sub WHEN 0 THEN 1 WHEN 1 THEN 8 WHEN 2 THEN 64 ELSE 512 END"
    )
    return a.groupBy("vec_id").agg(
        F.sum(F.col("code") * factor).cast("long").alias("pq_code"),
        F.sum("d2").cast("long").alias("sq_err"),
    )


# ---------------------------------------------------------------------------
# q175: explicit relational HyperLogLog vs exact distinct counts
# ---------------------------------------------------------------------------

@register(
    "q175_hll_audit",
    f"""
    WITH v AS (
        SELECT source, tok
        FROM (SELECT source, unnest({_TOKS}) AS tok
              FROM documents WHERE LENGTH(trim(text)) > 0)
    ),
    b AS (
        SELECT source, h % 64 AS bucket, h // 64 AS rest
        FROM (SELECT source,
                     CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM v)
    ),
    r AS (
        SELECT source, bucket,
               MAX(CASE WHEN rest = 0 THEN 55
                        ELSE 55 - length(bin(rest)) END) AS m
        FROM b GROUP BY source, bucket
    ),
    ex AS (
        SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact
        FROM v GROUP BY source
    ),
    spine AS (
        SELECT source, d AS bucket
        FROM ex CROSS JOIN generate_series(0, 63) t(d)
    ),
    fl AS (
        SELECT s.source, COALESCE(r.m, 0) AS m
        FROM spine s LEFT JOIN r ON r.source = s.source
                                AND r.bucket = s.bucket
    ),
    pg AS (
        SELECT source,
               SUM(CAST(1 AS BIGINT) << (60 - m)) AS s,
               CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_empty
        FROM fl GROUP BY source
    )
    SELECT p.source, x.n_exact,
           CAST(CAST(709365 AS HUGEINT) * 4096 * 1152921504606846976
                // p.s // 1000000 AS BIGINT) AS hll_est,
           CAST((CAST(CAST(709365 AS HUGEINT) * 4096 * 1152921504606846976
                      // p.s // 1000000 AS BIGINT) - x.n_exact) * 1000000
                // NULLIF(x.n_exact, 0) AS BIGINT) AS err_ppm,
           p.n_empty
    FROM pg p JOIN ex x USING (source)
    """,
    doc="Explicit relational HyperLogLog audited against exact "
    "per-source distinct-token counts — q105 validates Spark's "
    "built-in HLL++ behind a tolerance flag; this builds the sketch "
    "ITSELF from relational primitives (60-bit md5 split into 6-bit "
    "bucket + 54-bit tail, rho = leading zeros + 1 via the minimal "
    "binary-string length — integer-exact log2, no floats), so the "
    "oracle replays every register bit-for-bit. Empty registers "
    "count (bucket spine left-join), indicator sums run as "
    "2^(60-M) BIGINT shifts in DECIMAL(38,0)/HUGEINT, alpha frozen "
    "at 709365 ppm. Registers are max-mergeable — 64 BIGINTs per "
    "group at 100 TB vs the exact side's full distinct shuffle: "
    "validate on this stratum, run the sketch fleet-wide. The "
    "small-range regime is REPORTED (n_empty), not ln()-corrected "
    "(operators/sketches.hll_audit).",
)
def q175_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sketches import hll_audit

    d = _docs(spark, sf_dir)
    toks = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    return hll_audit(toks, "source", "tok")


# ---------------------------------------------------------------------------
# q176: one exact k-means Lloyd step (integer fixed point)
# ---------------------------------------------------------------------------

@register(
    "q176_kmeans_step",
    """
    WITH edim AS (
        SELECT vec_id, d - 1 AS d0,
               CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 1000000)
                    AS BIGINT) AS fx
        FROM embeddings CROSS JOIN generate_series(1, 64) t(d)
    ),
    cdim AS (
        SELECT vec_id AS cid, d0, fx AS old_fx
        FROM edim WHERE vec_id < 8
    ),
    d2 AS (
        SELECT e.vec_id, c.cid,
               CAST(SUM((e.fx - c.old_fx) * (e.fx - c.old_fx)) AS BIGINT)
                   AS d2
        FROM edim e JOIN cdim c ON c.d0 = e.d0
        GROUP BY e.vec_id, c.cid
    ),
    best AS (
        SELECT vec_id, cid AS code, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM d2
    ),
    assign AS (SELECT vec_id, code, d2 FROM best WHERE rn = 1),
    nd AS (
        SELECT a.code, e.d0,
               CAST(SUM(e.fx) // COUNT(*) AS BIGINT) AS new_fx
        FROM edim e JOIN assign a ON a.vec_id = e.vec_id
        GROUP BY a.code, e.d0
    ),
    pc AS (
        SELECT c.cid AS cluster,
               CAST(SUM(COALESCE(n.new_fx, c.old_fx)) AS BIGINT)
                   AS centroid_checksum,
               CAST(SUM(ABS(COALESCE(n.new_fx, c.old_fx) - c.old_fx))
                    AS BIGINT) AS shift_l1
        FROM cdim c LEFT JOIN nd n ON n.code = c.cid AND n.d0 = c.d0
        GROUP BY c.cid
    ),
    st AS (
        SELECT code AS cluster, CAST(COUNT(*) AS BIGINT) AS n_assigned,
               CAST(SUM(d2) AS BIGINT) AS inertia
        FROM assign GROUP BY code
    )
    SELECT p.cluster,
           CAST(COALESCE(s.n_assigned, 0) AS BIGINT) AS n_assigned,
           CAST(COALESCE(s.inertia, 0) AS BIGINT) AS inertia,
           p.centroid_checksum, p.shift_l1
    FROM pc p LEFT JOIN st s ON s.cluster = p.cluster
    """,
    doc="One EXACT k-means Lloyd iteration over the embeddings (k=8, "
    "codebook = lowest-id vectors): integer fixed-point assignment "
    "(the q174 argmin with one full-vector subspace) followed by "
    "per-dimension TRUNCATED-mean re-estimation, emitting per "
    "cluster its size, exact inertia, the new centroid's coordinate "
    "checksum, and the L1 shift from the old centroid (the "
    "convergence monitor). ivf_build trains with Spark ML's float "
    "KMeans where only index QUALITY matters; this is the auditable "
    "twin for pipelines that must reproduce the training step "
    "itself across engines — production loops the same two-shuffle "
    "plan until shift stabilizes. Empty clusters keep their old "
    "centroid (visible: size 0, shift 0) rather than resampling "
    "(operators/ann.kmeans_step_exact).",
)
def q176_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.ann import kmeans_step_exact

    e = load_table(spark, "embeddings", sf_dir)
    cb = e.filter(F.col("vec_id") < 8)
    return kmeans_step_exact(
        e, cb, vec_col="embedding", id_col="vec_id",
        code_id_col="vec_id", dim=64,
    )


# ---------------------------------------------------------------------------
# q177: span-level cross-set decontamination (eval leakage extents)
# ---------------------------------------------------------------------------

@register(
    "q177_span_decontam",
    f"""
    WITH tbase AS MATERIALIZED (
        SELECT doc_id, toks
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0 AND doc_id % 37 <> 0)
        WHERE len(toks) >= 8
    ),
    ebase AS MATERIALIZED (
        SELECT doc_id, toks
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0 AND doc_id % 37 = 0)
        WHERE len(toks) >= 8
    ),
    egrams AS (
        SELECT DISTINCT md5(array_to_string(toks[u.i:u.i+7], ' ')) AS g
        FROM ebase, LATERAL unnest(range(1, len(toks) - 6)) u(i)
    ),
    tgrams AS (
        SELECT doc_id, u.i - 1 AS pos,
               md5(array_to_string(toks[u.i:u.i+7], ' ')) AS g
        FROM tbase, LATERAL unnest(range(1, len(toks) - 6)) u(i)
    ),
    hits AS (SELECT doc_id, pos FROM tgrams JOIN egrams USING (g)),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN COALESCE(pos - LAG(pos) OVER (
                        PARTITION BY doc_id ORDER BY pos), 9) > 8
                    THEN 1 ELSE 0 END AS nf
        FROM hits),
    islands AS (
        SELECT doc_id, pos,
               SUM(nf) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS isl
        FROM flagged)
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM islands GROUP BY doc_id, isl
    """,
    doc="Span-level cross-set decontamination: maximal token spans of "
    "TRAINING documents (doc_id % 37 <> 0) that appear verbatim as "
    "sliding 8-gram windows anywhere in the EVAL split (doc_id % 37 "
    "= 0) — the eval-leakage mode where a training page QUOTES a "
    "benchmark rather than being one, which doc-level q59/q107 "
    "cannot see; the returned extents feed a span strip that excises "
    "the quotation instead of discarding the document. Same sliding- "
    "gram + constant-width LAG interval-merge as q134, but the "
    "duplicate COUNT is swapped for membership in the eval gram "
    "dictionary, which is bounded by the benchmark's size and "
    "BROADCASTS — the 100 TB train side never shuffles for the "
    "membership test; only the per-doc island window exchanges "
    "(operators/decontam.cross_span_contamination).",
)
def q177_span_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.decontam import (
        cross_span_contamination,
    )

    d = _docs(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 37 != 0)
    ev = d.filter(F.col("doc_id") % 37 == 0)
    return cross_span_contamination(train, ev, n=8)


# ---------------------------------------------------------------------------
# q178: Kaplan-Meier retention curve (right-censored, integer ppm)
# ---------------------------------------------------------------------------

@register(
    "q178_kaplan_meier",
    """
    WITH RECURSIVE subj AS (
        SELECT user_id,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                           THEN CAST(ts AS DATE) END),
                                  DATE '2024-01-31')) AS dur,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   IS NOT NULL AS observed
        FROM events GROUP BY user_id
    ),
    per_t AS (
        SELECT dur AS t, CAST(COUNT(*) AS BIGINT) AS n_here,
               CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
                   AS d_i
        FROM subj GROUP BY dur
    ),
    risk AS (
        SELECT t, d_i,
               CAST(SUM(n_here) OVER ()
                    - COALESCE(SUM(n_here) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_i,
               ROW_NUMBER() OVER (ORDER BY t) AS rn
        FROM per_t
    ),
    km AS (
        SELECT t, d_i, n_i, rn,
               CAST(1000000 * (((n_i - d_i) * 1000000) // n_i)
                    // 1000000 AS BIGINT) AS s
        FROM risk WHERE rn = 1
        UNION ALL
        SELECT r.t, r.d_i, r.n_i, r.rn,
               CAST(k.s * (((r.n_i - r.d_i) * 1000000) // r.n_i)
                    // 1000000 AS BIGINT)
        FROM km k JOIN risk r ON r.rn = k.rn + 1
    )
    SELECT CAST(t AS BIGINT) AS duration, n_i AS n_risk,
           d_i AS n_events, s AS surv_ppm
    FROM km WHERE d_i > 0
    """,
    doc="Kaplan-Meier time-to-conversion curve: per user, days from "
    "first event to first purchase, right-censored at 2024-01-31 "
    "for users who never purchase — KM handles censored subjects by "
    "shrinking the risk set instead of mis-counting them either "
    "way; the conversion/churn estimator every product-analytics "
    "warehouse runs. Exact integer ppm: the "
    "survival product applies per-step TRUNCATED ppm factors "
    "(S_i = S_{i-1} * trunc((n_i-d_i)*1e6/n_i) div 1e6), replayed "
    "by the oracle as a recursive CTE — a float product drifts with "
    "evaluation order. Engine shape: one map-side-combinable "
    "groupBy to subjects, one to the per-duration risk table, a "
    "prefix window and the in-plan aggregate fold BOTH over the "
    "BOUNDED distinct-duration relation (|durations|, never "
    "|subjects|) (operators/temporal.kaplan_meier).",
)
def q178_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.temporal import kaplan_meier

    ev = load_table(spark, "events", sf_dir)
    first_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.to_date("ts"))
    )
    subj = ev.groupBy("user_id").agg(
        F.datediff(
            F.coalesce(first_purchase, F.lit("2024-01-31").cast("date")),
            F.min(F.to_date("ts")),
        ).cast("long").alias("dur"),
        first_purchase.isNotNull().alias("observed"),
    )
    return kaplan_meier(subj, "dur", "observed")


# ---------------------------------------------------------------------------
# q179: PQ codebook balance audit (chi-square uniformity, integer)
# ---------------------------------------------------------------------------

@register(
    "q179_codebook_balance",
    """
    WITH edim AS (
        SELECT vec_id, d - 1 AS d0, (d - 1) // 16 AS sub,
               CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 1000000)
                    AS BIGINT) AS fx
        FROM embeddings CROSS JOIN generate_series(1, 64) t(d)
    ),
    cdim AS (
        SELECT vec_id AS cid, d0, sub, fx AS cfx
        FROM edim WHERE vec_id < 8
    ),
    d2 AS (
        SELECT e.vec_id, e.sub, c.cid,
               CAST(SUM((e.fx - c.cfx) * (e.fx - c.cfx)) AS BIGINT) AS d2
        FROM edim e JOIN cdim c ON c.d0 = e.d0
        GROUP BY e.vec_id, e.sub, c.cid
    ),
    best AS (
        SELECT vec_id, sub, cid AS code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cid) AS rn
        FROM d2
    ),
    usage AS (
        SELECT sub, code, CAST(COUNT(*) AS BIGINT) AS o
        FROM best WHERE rn = 1 GROUP BY sub, code
    ),
    withn AS (
        SELECT sub, code, o, SUM(o) OVER (PARTITION BY sub) AS n
        FROM usage
    ),
    stats AS (
        SELECT sub,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k_used,
               CAST(MAX(o) AS BIGINT) AS max_count,
               CAST(MIN(o) AS BIGINT) AS min_count,
               CAST(SUM((8 * CAST(o AS HUGEINT) - n)
                        * (8 * CAST(o AS HUGEINT) - n)) AS HUGEINT) AS sq
        FROM withn GROUP BY sub
    )
    SELECT CAST(sub AS BIGINT) AS sub, n, k_used, max_count, min_count,
           CAST(sq * 1000000 // (CAST(n AS HUGEINT) * 8) AS BIGINT)
               AS chi2_ppm
    FROM stats
    """,
    doc="PQ codebook balance audit over q174's assignments: per "
    "subspace, code-usage counts (k_used of 8, max/min) and an "
    "integer chi-square uniformity statistic — chi2 = sum((k*o - "
    "n)^2) / (n*k) in exact HUGEINT/DECIMAL ppm (algebraically "
    "identical to sum((o - n/k)^2 / (n/k)), kept division-free until "
    "the final truncation). A skewed codebook wastes bits (hot codes "
    "carry most vectors, reconstruction error concentrates) — this "
    "is the retrain trigger an IVF-PQ index monitors, the same "
    "validate-the-structure discipline as q105/q168/q175. Unused "
    "codes are visible via k_used < 8 rather than zero-filled "
    "(operators/quantize.pq_assign + one bounded aggregate).",
)
def q179_codebook_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.quantize import pq_assign

    e = load_table(spark, "embeddings", sf_dir)
    cb = e.filter(F.col("vec_id") < 8)
    assign = pq_assign(
        e, cb, vec_col="embedding", id_col="vec_id",
        code_id_col="vec_id", dim=64, n_sub=4,
    )
    usage = assign.groupBy("sub", "code").agg(
        F.count("*").cast("long").alias("o")
    )
    w_sub = Window.partitionBy("sub")
    staged = usage.withColumn(
        "__n", F.sum("o").over(w_sub).cast("long")
    ).withColumn(
        "__sq",
        F.expr(
            "(8 * CAST(o AS DECIMAL(38,0)) - __n) "
            "* (8 * CAST(o AS DECIMAL(38,0)) - __n)"
        ),
    )
    return staged.groupBy("sub").agg(
        F.max("__n").alias("n"),
        F.count("*").cast("long").alias("k_used"),
        F.max("o").cast("long").alias("max_count"),
        F.min("o").cast("long").alias("min_count"),
        F.expr(
            "CAST(sum(__sq) * 1000000 div (CAST(max(__n) AS DECIMAL(38,0))"
            " * 8) AS BIGINT)"
        ).alias("chi2_ppm"),
    ).select(
        F.col("sub").cast("long").alias("sub"),
        "n", "k_used", "max_count", "min_count", "chi2_ppm",
    )


# ---------------------------------------------------------------------------
# q180: deterministic negative sampling for contrastive training
# ---------------------------------------------------------------------------

@register(
    "q180_negative_sampling",
    """
    WITH items AS (SELECT DISTINCT o_orderpriority AS item FROM orders),
    users AS (SELECT DISTINCT o_custkey AS u FROM orders),
    seen AS (SELECT DISTINCT o_custkey AS u, o_orderpriority AS item
             FROM orders),
    cand AS (
        SELECT users.u, items.item
        FROM users CROSS JOIN items
        WHERE NOT EXISTS (
            SELECT 1 FROM seen s
            WHERE s.u = users.u AND s.item = items.item)
    ),
    ranked AS (
        SELECT u, item,
               ROW_NUMBER() OVER (PARTITION BY u
                   ORDER BY md5('neg:' || CAST(u AS VARCHAR)
                               || ':' || item), item) AS rk
        FROM cand
    )
    SELECT u AS custkey, item AS negative_item, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 2
    """,
    doc="Deterministic negative sampling: for every customer, up to "
    "2 order priorities they have NEVER used, ranked by a frozen "
    "md5('neg:'||user||':'||item) draw — the negatives a contrastive "
    "recommender/embedding trainer pairs against observed positives. "
    "Hash-ranked sampling is the q73/q87 discipline: reproducible "
    "across engines, retries, and partitionings where rand() is "
    "not. Shape: the candidate space is users x DISTINCT types "
    "(bounded vocabulary — the type table broadcasts), minus the "
    "seen pairs via anti-join semantics; the only corpus-sized "
    "shuffle is the distinct over (user, type). At a real item "
    "vocabulary the same plan holds with the rank window keyed per "
    "user (in-batch negatives at training time complement these "
    "hard absences).",
)
def q180_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    items = o.select(F.col("o_orderpriority").alias("item")).distinct()
    users = o.select(F.col("o_custkey").alias("custkey")).distinct()
    seen = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("item"),
    ).distinct()
    cand = users.crossJoin(F.broadcast(items)).join(
        seen, ["custkey", "item"], "left_anti"
    )
    w = Window.partitionBy("custkey").orderBy(
        F.md5(
            F.concat(
                F.lit("neg:"),
                F.col("custkey").cast("string"),
                F.lit(":"),
                F.col("item"),
            )
        ),
        "item",
    )
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
        .select("custkey", F.col("item").alias("negative_item"), "rk")
    )


# ---------------------------------------------------------------------------
# q183: Poisson-bootstrap confidence interval (one-pass distributed bootstrap)
# ---------------------------------------------------------------------------

@register(
    "q183_bootstrap_ci",
    f"""
    WITH dt AS (
        SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tok
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    reps AS (
        SELECT source, t.b, n_tok,
               CAST(('0x' || substr(md5('bs:' || CAST(t.b AS VARCHAR)
                     || ':' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h
        FROM dt CROSS JOIN (SELECT unnest(range(0, 64)) AS b) t
    ),
    w AS (
        SELECT source, b, n_tok,
               CASE WHEN h < 1580030169 THEN 0
                    WHEN h < 3160060337 THEN 1
                    WHEN h < 3950075422 THEN 2
                    WHEN h < 4213413783 THEN 3
                    WHEN h < 4279248374 THEN 4
                    ELSE 5 END AS wt
        FROM reps
    ),
    rm AS (
        SELECT source, b,
               CAST(SUM(wt * n_tok) AS HUGEINT) * 1000000
                   // NULLIF(SUM(wt), 0) AS rep_mean
        FROM w GROUP BY source, b
    ),
    ranked AS (
        SELECT source, rep_mean,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY rep_mean) AS rn
        FROM rm WHERE rep_mean IS NOT NULL
    ),
    pt AS (
        SELECT source,
               CAST(SUM(n_tok) AS HUGEINT) * 1000000 // COUNT(*)
                   AS point_ppm
        FROM dt GROUP BY source
    )
    SELECT p.source,
           CAST(p.point_ppm AS BIGINT) AS mean_ppm,
           CAST(MAX(CASE WHEN rn = 4 THEN rep_mean END) AS BIGINT)
               AS ci_lo_ppm,
           CAST(MAX(CASE WHEN rn = 61 THEN rep_mean END) AS BIGINT)
               AS ci_hi_ppm
    FROM pt p JOIN ranked r ON r.source = p.source
    GROUP BY p.source, p.point_ppm
    """,
    doc="Per-source mean document length with a 90% Poisson-bootstrap "
    "confidence interval (B=64 replicates, order statistics 4/61): "
    "the uncertainty bar that separates 'source A really is longer' "
    "from sampling noise before a mixture decision. The Poisson "
    "bootstrap is the ONE-PASS distributed bootstrap — every row "
    "draws a deterministic Poisson(1) weight per replicate from a "
    "frozen md5 inverse-CDF ladder (operators/sampling."
    "poisson_bootstrap_weight), so B replicates cost one map-side "
    "explode + one combinable (source, b) aggregate, never B "
    "resampling shuffles; at 100 TB B rides the existing aggregation "
    "for free. All integer: replicate means in HUGEINT/DECIMAL ppm "
    "with truncating division, CI bounds selected by rank windows "
    "over the BOUNDED 64-replicate relation. The frozen hash draw is "
    "the q73/q87/q180 reproducibility discipline.",
)
def q183_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sampling import (
        poisson_bootstrap_weight,
    )
    from etl_guiacores_spark.operators.textstats import token_count

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok")
    )
    reps = d.select(
        "source",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        "doc_id",
    ).withColumn(
        "wt", poisson_bootstrap_weight("bs", F.col("b"), F.col("doc_id"))
    )
    rm = reps.groupBy("source", "b").agg(
        F.expr(
            "CAST(sum(wt * n_tok) AS DECIMAL(38,0)) * 1000000 "
            "div NULLIF(sum(wt), 0)"
        ).alias("rep_mean")
    ).filter(F.col("rep_mean").isNotNull())
    w = Window.partitionBy("source").orderBy("rep_mean")
    ranked = rm.withColumn("rn", F.row_number().over(w))
    pt = d.groupBy("source").agg(
        F.expr(
            "CAST(CAST(sum(n_tok) AS DECIMAL(38,0)) * 1000000 "
            "div count(*) AS BIGINT)"
        ).alias("mean_ppm")
    )
    ci = ranked.groupBy("source").agg(
        F.max(F.when(F.col("rn") == 4, F.col("rep_mean")))
        .cast("long")
        .alias("ci_lo_ppm"),
        F.max(F.when(F.col("rn") == 61, F.col("rep_mean")))
        .cast("long")
        .alias("ci_hi_ppm"),
    )
    return pt.join(ci, "source").select(
        "source", "mean_ppm", "ci_lo_ppm", "ci_hi_ppm"
    )


# ---------------------------------------------------------------------------
# q184: two-arm conversion readout with exact chi-square (no floats)
# ---------------------------------------------------------------------------

@register(
    "q184_ab_readout",
    """
    WITH u AS (
        SELECT user_id,
               CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
                                    1, 8)) AS BIGINT) % 2 AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_b
        FROM u
    )
    SELECT n_a, n_b, conv_a, conv_b,
           CAST(conv_a * 1000000 // n_a
                - conv_b * 1000000 // n_b AS BIGINT) AS lift_ppm,
           CAST((n_a + n_b)
                * CAST(conv_a * (n_b - conv_b)
                       - conv_b * (n_a - conv_a) AS HUGEINT)
                * CAST(conv_a * (n_b - conv_b)
                       - conv_b * (n_a - conv_a) AS HUGEINT)
                * 1000000
                // NULLIF(CAST(n_a AS HUGEINT) * n_b
                          * (conv_a + conv_b)
                          * NULLIF(n_a + n_b - conv_a - conv_b, 0), 0)
                AS BIGINT) AS chi2_ppm,
           (n_a + n_b)
               * CAST(conv_a * (n_b - conv_b)
                      - conv_b * (n_a - conv_a) AS HUGEINT)
               * CAST(conv_a * (n_b - conv_b)
                      - conv_b * (n_a - conv_a) AS HUGEINT)
               * 1000000
               > CAST(3841459 AS HUGEINT)
                 * NULLIF(CAST(n_a AS HUGEINT) * n_b
                          * (conv_a + conv_b)
                          * NULLIF(n_a + n_b - conv_a - conv_b, 0), 0)
               AS significant
    FROM c
    """,
    doc="Two-arm conversion readout: users hash-split into arms "
    "(frozen md5 — the q73 split discipline, so assignment is "
    "reproducible and balanced), per-arm conversion counts, lift in "
    "ppm, and the EXACT 2x2 chi-square statistic in integer ppm — "
    "chi2 = N(ad-bc)^2 / (row and column margins), all "
    "HUGEINT/DECIMAL products, no sqrt/float z-score — with the "
    "significance flag evaluated by CROSS-MULTIPLICATION against "
    "the 3.841459 critical value (alpha=0.05, df=1) so even the "
    "comparison is division-free. One aggregation pass over the "
    "per-user conversion table; at 100 TB the contingency cells are "
    "four map-side-combinable counters. Headroom: the N*(ad-bc)^2 "
    "interior stays inside DECIMAL(38,0)/HUGEINT to ~1e6 subjects "
    "per readout; beyond that, divide all four cells by a common "
    "factor first (the statistic is scale-covariant in that "
    "regime).",
)
def q184_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).withColumn(
        "arm",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 2,
    )
    c = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    staged = c.withColumn(
        "__adbc",
        F.expr(
            "CAST(conv_a AS DECIMAL(38,0)) * (n_b - conv_b) "
            "- CAST(conv_b AS DECIMAL(38,0)) * (n_a - conv_a)"
        ),
    ).withColumn(
        "__den",
        F.expr(
            "NULLIF(CAST(n_a AS DECIMAL(38,0)) * n_b * (conv_a + conv_b) "
            "* NULLIF(n_a + n_b - conv_a - conv_b, 0), 0)"
        ),
    ).withColumn(
        "__num",
        F.expr(
            "CAST(n_a + n_b AS DECIMAL(38,0)) * __adbc * __adbc * 1000000"
        ),
    )
    return staged.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.expr(
            "CAST(conv_a * 1000000 div n_a "
            "- conv_b * 1000000 div n_b AS BIGINT)"
        ).alias("lift_ppm"),
        F.expr("CAST(__num div __den AS BIGINT)").alias("chi2_ppm"),
        F.expr(
            "__num > CAST(3841459 AS DECIMAL(38,0)) * __den"
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# q185: exact inter-event gap percentiles (the latency report)
# ---------------------------------------------------------------------------

@register(
    "q185_gap_percentiles",
    """
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS gap
        FROM events
    ),
    gaps AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
    r AS (
        SELECT event_type, gap,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY gap) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM gaps
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN gap END)
                AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN gap END)
                AS BIGINT) AS p95_us,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN gap END)
                AS BIGINT) AS p99_us
    FROM r GROUP BY event_type
    """,
    doc="Exact inter-event gap percentiles per event type (p50/p95/"
    "p99 in integer microseconds): gaps between a user's consecutive "
    "events of the same type via one LAG window, then the "
    "disc-percentile-by-rank selection of the q144 family — element "
    "at rank ceil(p*n/100), an ACTUAL observed gap, never an "
    "interpolated float — per type. The tail-latency/engagement-"
    "cadence report every telemetry warehouse runs; p99 is where "
    "SLO regressions live and where approximate sketches are least "
    "trustworthy, hence the exact path. Shape: the LAG window keys "
    "on (user, type) — fully parallel; the rank window partitions "
    "by TYPE (few, large groups — the bounded-group caveat the "
    "rank-statistics family documents and soaks at 2M rows).",
)
def q185_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.temporal import event_micros

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    m = event_micros(ev, "ts")
    gaps = (
        ev.withColumn("__m", m)
        .withColumn("gap", F.col("__m") - F.lag("__m").over(w))
        .filter(F.col("gap").isNotNull())
        .select("event_type", "gap")
    )
    wr = Window.partitionBy("event_type").orderBy("gap")
    wn = Window.partitionBy("event_type")
    r = gaps.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    def pick(p: int):
        return F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {p} + 99) div 100"),
                F.col("gap"),
            )
        ).cast("long")
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        pick(50).alias("p50_us"),
        pick(95).alias("p95_us"),
        pick(99).alias("p99_us"),
    )


# ---------------------------------------------------------------------------
# q186: daily new-vs-returning users with cumulative reach
# ---------------------------------------------------------------------------

@register(
    "q186_daily_acquisition",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    news AS (
        SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY first_day
    )
    SELECT STRFTIME(d.day, '%Y-%m-%d') AS day,
           d.n_events, d.n_active,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(d.n_active - COALESCE(n.n_new, 0) AS BIGINT)
               AS n_returning,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM daily d LEFT JOIN news n ON n.day = d.day
    """,
    doc="Daily acquisition report: events, distinct active users, NEW "
    "users (first-ever-seen that day), returning = active - new, and "
    "cumulative reach as a running sum of news — the new-vs-returning "
    "split every growth dashboard leads with, and the exact "
    "complement of q141's cohort retention (which follows the new "
    "users q186 counts). Engine shape: first-seen is one "
    "map-side-combinable MIN per user; the daily rollup is one "
    "groupBy; cumulative reach is a running sum over the BOUNDED "
    "per-day relation (|days|, never |events|) — equal to "
    "COUNT(DISTINCT user) over an expanding window but without "
    "re-counting history each day, because first-seen linearizes the "
    "distinct (each user contributes to exactly one day, so the "
    "running sum of news IS the running distinct).",
)
def q186_daily_acquisition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_active"),
    )
    news = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    joined = daily.join(news, "day", "left").withColumn(
        "n_new", F.coalesce("n_new", F.lit(0)).cast("long")
    )
    return joined.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).cast("long").alias(
            "n_returning"
        ),
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    )
