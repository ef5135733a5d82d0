"""Scale-path queries: text analysis, near-dup detection, similarity
search, event-time windows (SURVEY §7 phases 4-5).

Registered into the same REGISTRY as the relational suite. Oracle SQL
is generated programmatically where the expression is wide (simhash
bit planes) — the hash family (md5 + lexicographic/positional
arithmetic) is chosen to be bit-portable between Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_guiacores_spark.operators.similarity import (
    cosine,
    knn_brute_force,
    lsh_candidate_pairs,
    simhash,
    with_minhash,
)
from etl_guiacores_spark.operators.textstats import (
    fingerprint,
    lang_id,
    mean_token_length,
    punct_count,
    quality_score,
    stopword_ratio,
    token_count,
)
from etl_guiacores_spark.queries import register
from etl_guiacores_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# Text analysis (documents table)
# ---------------------------------------------------------------------------

_SW = "'the','a','an','and','of','to','in','is','it','for'"
_TOKS = "string_split_regex(trim(text), '[ \\t\\n\\r\\f\\v]+')"
_PUNCT = "'[.,;:!?''\"()\\[\\]{}-]'"


@register(
    "q21_token_quality",
    f"""
    SELECT doc_id, n_tokens, n_punct,
           ROUND(sw_ratio, 6)   AS stopword_ratio,
           ROUND(mean_tok, 6)   AS mean_token_len,
           ROUND((CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END
                + CASE WHEN (CASE WHEN LENGTH(text) > 0
                                  THEN CAST(n_punct AS DOUBLE)/LENGTH(text)
                                  ELSE 0.0 END) <= 0.2 THEN 1.0 ELSE 0.0 END
                + CASE WHEN COALESCE(sw_ratio, 0.0) BETWEEN 0.01 AND 0.6
                       THEN 1.0 ELSE 0.0 END) / 3.0, 6) AS quality
    FROM (
        SELECT doc_id, text,
               CASE WHEN LENGTH(trim(text)) > 0 THEN LEN({_TOKS}) ELSE 0 END AS n_tokens,
               LEN(regexp_extract_all(text, {_PUNCT})) AS n_punct,
               CASE WHEN LENGTH(trim(text)) > 0 AND LEN({_TOKS}) > 0
                    THEN CAST(LEN(list_filter({_TOKS}, t -> lower(t) IN ({_SW}))) AS DOUBLE)
                         / LEN({_TOKS}) END AS sw_ratio,
               CASE WHEN LENGTH(trim(text)) > 0 AND LEN({_TOKS}) > 0
                    THEN CAST(list_sum(list_transform({_TOKS}, t -> LENGTH(t))) AS DOUBLE)
                         / LEN({_TOKS}) END AS mean_tok
        FROM documents
    )
    """,
    doc="Token counting + quality scoring for training-data filtering "
    "(north-star text-analysis operators).",
)
def q21_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    return d.select(
        "doc_id",
        token_count(text).alias("n_tokens"),
        punct_count(text).alias("n_punct"),
        F.round(stopword_ratio(text), 6).alias("stopword_ratio"),
        F.round(mean_token_length(text), 6).alias("mean_token_len"),
        F.round(quality_score(text), 6).alias("quality"),
    )


def _lang_oracle() -> str:
    from etl_guiacores_spark.operators.textstats import LANG_MARKERS

    count_exprs = {
        lang: f"LEN(list_filter(toks, t -> t IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in LANG_MARKERS.items()
    }
    # fixed priority en,es,de,fr with strict > (mirrors lang_id's fold)
    best = "'und'"
    best_n = "0"
    for lang in ("en", "es", "de", "fr"):
        c = count_exprs[lang]
        best = f"CASE WHEN {c} > {best_n} THEN '{lang}' ELSE {best} END"
        best_n = f"GREATEST({c}, {best_n})"
    return f"""
    SELECT lang, predicted, COUNT(*) AS n FROM (
        SELECT lang,
               CASE WHEN LEN(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0
                    THEN 'zh' ELSE {best} END AS predicted
        FROM (SELECT lang, text,
                     list_transform({_TOKS}, t -> lower(t)) AS toks
              FROM documents WHERE LENGTH(trim(text)) > 0)
    ) GROUP BY lang, predicted
    """


@register(
    "q22_lang_id",
    _lang_oracle(),
    doc="Language-ID heuristic (marker vocab + CJK script detection), "
    "confusion-matrix style output against the labeled lang column.",
)
def q22_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return (
        d.select("lang", lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q23_fingerprint",
    f"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), {_PUNCT}, ' ', 'g'),
                                   '[ \\t\\n\\r\\f\\v]+', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="Document fingerprinting: md5 over punctuation-stripped, "
    "whitespace-collapsed lowercase text — the exact-dedup key.",
)
def q23_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Near-dup: MinHash / LSH / Jaccard / SimHash
# ---------------------------------------------------------------------------

_SHINGLES = (
    "list_distinct(list_transform(range(1, LEN(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)
_MINHASH_CTE = f"""
    WITH shingled AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN LEN(toks) >= 3 THEN {_SHINGLES} ELSE [] END AS sh
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
    ),
    sigs AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN LEN(sh) > 0 THEN list_min(list_transform(sh, s -> md5('0:' || s))) END AS sig_0,
               CASE WHEN LEN(sh) > 0 THEN list_min(list_transform(sh, s -> md5('1:' || s))) END AS sig_1,
               CASE WHEN LEN(sh) > 0 THEN list_min(list_transform(sh, s -> md5('2:' || s))) END AS sig_2,
               CASE WHEN LEN(sh) > 0 THEN list_min(list_transform(sh, s -> md5('3:' || s))) END AS sig_3
        FROM shingled
    )
"""


@register(
    "q24_minhash_signatures",
    _MINHASH_CTE + "SELECT doc_id, sig_0, sig_1, sig_2, sig_3 FROM sigs",
    doc="MinHash signatures (4 portable md5-seeded hashes over distinct "
    "word 3-shingles), computed shuffle-free via array folds.",
)
def q24_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return with_minhash(d.select("doc_id", "text"), "text").select(
        "doc_id", "sig_0", "sig_1", "sig_2", "sig_3"
    )


@register(
    "q25_lsh_candidates",
    _MINHASH_CTE
    + """,
    bands AS MATERIALIZED (
        SELECT doc_id, '0|' || sig_0 AS band FROM sigs WHERE sig_0 IS NOT NULL
        UNION ALL SELECT doc_id, '1|' || sig_1 FROM sigs WHERE sig_1 IS NOT NULL
        UNION ALL SELECT doc_id, '2|' || sig_2 FROM sigs WHERE sig_2 IS NOT NULL
        UNION ALL SELECT doc_id, '3|' || sig_3 FROM sigs WHERE sig_3 IS NOT NULL
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH banding: near-dup candidate pairs sharing any band; "
    "only (band, sig) keys shuffle, never all-pairs.",
)
def q25_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return lsh_candidate_pairs(d, "doc_id", "text")


@register(
    "q26_ngram_jaccard",
    f"""
    WITH sh AS (
        SELECT doc_id,
               CASE WHEN LEN(toks) >= 3 THEN {_SHINGLES} ELSE [] END AS sh
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN LEN(list_distinct(list_concat(a.sh, b.sh))) > 0
                THEN ROUND(CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / LEN(list_distinct(list_concat(a.sh, b.sh))), 6)
                ELSE 0.0 END AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
    doc="Exact n-gram Jaccard on adjacent-id document pairs (the "
    "verification stage after LSH candidate generation).",
)
def q26_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import jaccard_of_shingles, word_shingles

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # shingle ONCE per doc before the join: each join side carries the
    # staged array column; the jaccard expression then references the
    # arrays instead of re-shingling inside intersect and union.
    sh = d.select("doc_id", word_shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select((F.col("doc_id") - 1).alias("id_a"), F.col("doc_id").alias("id_b"),
                  F.col("sh").alias("sh_b"))
    return a.join(b, on="id_a").select(
        "id_a",
        "id_b",
        F.round(jaccard_of_shingles(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
    )


def _simhash_oracle(bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        digit, bitpos = b // 4 + 1, b % 4
        bit = (
            f"(CAST((strpos('0123456789abcdef', substr(h, {digit}, 1)) - 1) AS INTEGER)"
            f" >> {bitpos}) & 1"
        )
        terms.append(
            f"CASE WHEN list_sum(list_transform(hashed, h -> CASE WHEN {bit} = 1 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END"
        )
    total = " + ".join(terms)
    return f"""
    SELECT doc_id, CAST({total} AS BIGINT) AS simhash16
    FROM (SELECT doc_id, list_transform({_TOKS}, t -> md5(t)) AS hashed
          FROM documents WHERE LENGTH(trim(text)) > 0)
    """


@register(
    "q27_simhash",
    _simhash_oracle(),
    doc="16-bit SimHash from md5 bit planes — Hamming-distance near-dup "
    "signature, computed shuffle-free per row.",
)
def q27_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import simhash_grouped

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return simhash_grouped(d, 16, out_col="simhash16")


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

_DOT = (
    "list_sum(list_transform(range(1, LEN(a.embedding) + 1), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)


@register(
    "q28_cosine_topk",
    """
    WITH pairs AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROUND(
                 list_sum(list_transform(range(1, LEN(q.embedding) + 1),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(range(1, LEN(q.embedding) + 1),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
                  * SQRT(list_sum(list_transform(range(1, LEN(e.embedding) + 1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
               , 6) AS sim
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM pairs
    ) WHERE rank <= 5
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast query set, one "
    "scan of the corpus, window top-k.",
)
def q28_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return knn_brute_force(e, q, k=5)


@register(
    "q29_embedding_neardup",
    """
    WITH b AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
    )
    SELECT id_a, id_b, sim FROM (
        SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
               ROUND(
                 list_sum(list_transform(range(1, LEN(a.embedding) + 1),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(range(1, LEN(a.embedding) + 1),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                  * SQRT(list_sum(list_transform(range(1, LEN(b2.embedding) + 1),
                     i -> CAST(b2.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE)))))
               , 6) AS sim
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    ) WHERE sim >= 0.3
    """,
    doc="Embedding near-dup via sign-LSH buckets (first 8 dims) + exact "
    "cosine within buckets; all-pairs never materializes.",
)
def q29_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.3, bucket_dims=8)


# ---------------------------------------------------------------------------
# Event-time windows (SURVEY §2.10 batch parity; streaming twin in
# etl_guiacores_spark/streaming)
# ---------------------------------------------------------------------------

@register(
    "q30_tumbling_window",
    """
    SELECT event_type,
           STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*)              AS n_events,
           ROUND(SUM(value), 2)  AS total_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
    doc="Tumbling 1h event-time window aggregation (batch twin of the "
    "streaming surface).",
)
def q30_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "event_type",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q31_sliding_window",
    """
    SELECT event_type,
           STRFTIME(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM (
        SELECT event_type, value,
               unnest([
                   (epoch_us(ts) // 1800000000) * 1800,
                   (epoch_us(ts) // 1800000000) * 1800 - 1800
               ]) AS ws
        FROM events
    )
    GROUP BY event_type, ws
    """,
    doc="Sliding window (1h size, 30m slide): every event lands in two "
    "overlapping windows.",
)
def q31_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "event_type",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q32_sessionization",
    """
    WITH gaps AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                         OR LAG(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
        SELECT user_id, value,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY tus, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30 min idle gap) via lag + running "
    "sum — batch twin of session_window; exact integer-microsecond "
    "comparisons keep both engines in lockstep.",
)
def q32_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.temporal import event_micros

    e = _t(spark, sf_dir, "events")
    tus = event_micros(e, "ts")
    w = Window.partitionBy("user_id").orderBy(tus, F.col("event_id"))
    gap = tus - F.lag(tus).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    wsum = (
        Window.partitionBy("user_id")
        .orderBy(tus, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("session_id", F.sum(new_session).over(wsum).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
    )


@register(
    "q33_event_dedupe_first",
    """
    SELECT user_id, event_type, event_id, STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
    FROM (
        SELECT user_id, event_type, event_id, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="Streaming-shaped keyed dedupe on events (keep earliest) — the "
    "batch twin of dropDuplicates-with-state (SURVEY §2.10).",
)
def q33_event_dedupe_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


@register(
    "q44_document_chunking",
    f"""
    SELECT doc_id, chunk_idx, start_token,
           ARRAY_TO_STRING(toks[start_token:start_token+63], ' ') AS chunk_text,
           LEAST(64, LEN(toks) - start_token + 1)                 AS n_chunk_tokens
    FROM (
        SELECT doc_id, toks,
               unnest(range(0, CAST(CEIL(GREATEST(LEN(toks) - 8, 1) / 56.0) AS BIGINT))) AS chunk_idx,
               unnest(range(0, CAST(CEIL(GREATEST(LEN(toks) - 8, 1) / 56.0) AS BIGINT))) * 56 + 1 AS start_token
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
    )
    """,
    doc="Token-bounded document chunking (64-token windows, 8-token "
    "overlap): the pre-tokenization step of a training-data pipeline, "
    "computed with array expressions + one explode.",
)
def q44_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return chunk_documents(d, chunk_tokens=64, overlap=8)


@register(
    "q45_vocabulary",
    f"""
    SELECT token, cnt, rank FROM (
        SELECT token, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank
        FROM (
            SELECT token, COUNT(*) AS cnt
            FROM (SELECT unnest({_TOKS}) AS token FROM documents
                  WHERE LENGTH(trim(text)) > 0)
            WHERE LENGTH(token) > 0
            GROUP BY token
        )
    ) WHERE rank <= 50
    """,
    doc="Corpus vocabulary building: token frequencies ranked with "
    "deterministic tie-break — the id-assignment step of tokenizer "
    "training.",
)
def q45_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.chunking import build_vocab

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return build_vocab(d, top_k=50).withColumnRenamed("count", "cnt")


@register(
    "q46_tfidf",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS token
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf_count
        FROM toks WHERE LENGTH(token) > 0 GROUP BY doc_id, token
    ),
    doc_len AS (SELECT doc_id, SUM(tf_count) AS n_tokens FROM tf GROUP BY doc_id),
    df AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM doc_len)
    SELECT tf.doc_id, tf.token,
           ROUND((CAST(tf.tf_count AS DOUBLE) / doc_len.n_tokens)
                 * LN(CAST(n.n_docs AS DOUBLE) / df.doc_freq), 6) AS tfidf
    FROM tf JOIN doc_len USING (doc_id)
            JOIN df USING (token)
            CROSS JOIN n
    WHERE tf.doc_id < 50
    """,
    doc="TF-IDF scoring: per-doc term frequency x inverse document "
    "frequency — partial aggregation everywhere, the df table is a "
    "broadcast-sized dimension at any corpus size with a bounded vocab.",
)
def q46_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.length("token") > 0)
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf_count"))
    doc_len = tf.groupBy("doc_id").agg(F.sum("tf_count").alias("n_tokens"))
    # dfreq broadcast assumes a bounded word-level vocabulary (true for
    # natural-language tokens; do NOT broadcast for unbounded key spaces
    # like ids-as-tokens). n_docs stays inside the plan as a broadcast
    # 1-row aggregate so TF-IDF is a single Spark job, not count()+job.
    dfreq = tf.groupBy("token").agg(F.count("*").alias("doc_freq"))
    n = doc_len.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(doc_len, "doc_id")
        .join(F.broadcast(dfreq), "token")
        .filter(F.col("doc_id") < 50)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                (F.col("tf_count").cast("double") / F.col("n_tokens"))
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "q49_hypertable_rollup",
    """
    SELECT event_type,
           STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS bucket_day,
           COUNT(*)              AS n_events,
           ROUND(SUM(value), 2)  AS sum_value,
           ROUND(MIN(value), 2)  AS min_value,
           ROUND(MAX(value), 2)  AS max_value,
           ROUND(ROUND(SUM(value), 2) / COUNT(*), 6) AS avg_value
    FROM events
    GROUP BY event_type, date_trunc('day', ts)
    """,
    doc="Hypertable-style tiered rollup: the DAY tier is computed from "
    "the HOUR tier which is computed from the MINUTE tier — raw rows "
    "are touched once; the oracle aggregates raw directly, proving the "
    "pyramid is exact (decomposable measures only; avg derived as "
    "sum/count, never averaged across tiers).",
)
def q49_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rollup_time import time_rollup

    e = _t(spark, sf_dir, "events")
    day = time_rollup(e)["day"]  # minute -> hour -> day pyramid
    return day.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd").alias("bucket_day"),
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        F.round(F.round(F.col("sum_value"), 2) / F.col("n_events"), 6).alias("avg_value"),
    )


@register(
    "q50_corpus_dedup_survivors",
    _MINHASH_CTE
    + """,
    bands AS MATERIALIZED (
        SELECT doc_id, '0|' || sig_0 AS band FROM sigs WHERE sig_0 IS NOT NULL
        UNION ALL SELECT doc_id, '1|' || sig_1 FROM sigs WHERE sig_1 IS NOT NULL
        UNION ALL SELECT doc_id, '2|' || sig_2 FROM sigs WHERE sig_2 IS NOT NULL
        UNION ALL SELECT doc_id, '3|' || sig_3 FROM sigs WHERE sig_3 IS NOT NULL
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM candidates c
        JOIN shingled sa ON sa.doc_id = c.id_a
        JOIN shingled sb ON sb.doc_id = c.id_b
        WHERE LEN(list_distinct(list_concat(sa.sh, sb.sh))) > 0
          AND CAST(LEN(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / LEN(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.6
    )
    SELECT doc_id FROM shingled
    WHERE doc_id NOT IN (SELECT id_b FROM verified)
    """,
    doc="Corpus near-dup survivors: LSH candidates -> exact-Jaccard "
    "verify -> greedy drop-higher-id — the corpus pipeline's dedup "
    "core as one oracle-checked query.",
)
def q50_corpus_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.plans.corpus_pipeline import (
        near_dup_pairs,
        near_dup_survivors,
    )

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    docs = d.select("doc_id", "text")
    # portable md5 signatures: the oracle reproduces them bit-for-bit
    pairs = near_dup_pairs(docs, 0.6, portable=True)
    return near_dup_survivors(docs, pairs).select("doc_id")


@register(
    "q58_source_mixture",
    f"""
    WITH agg AS (
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(n_tok) AS n_tokens
        FROM (
            SELECT source,
                   CASE WHEN LENGTH(trim(text)) > 0 THEN LEN({_TOKS}) ELSE 0 END AS n_tok
            FROM documents
        )
        GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS total FROM agg)
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((CAST(n_tokens AS HUGEINT) * 1000000)
                // CAST(total AS HUGEINT) AS BIGINT) AS share_ppm
    FROM agg, tot
    """,
    doc="Training-data mixture accounting: per-source document and "
    "token counts with corpus-wide token share in parts-per-million — "
    "the weighting input for mixture construction. share_ppm is pure "
    "integer floor division (DECIMAL(38,0) intermediates, overflow-"
    "safe past 9e12 tokens) so Spark and the oracle agree bit-for-bit "
    "— no double rounding boundary. The corpus total stays in-plan as "
    "a broadcast 1-row aggregate, not an unpartitioned window. The "
    "oracle casts n_tokens (DuckDB SUM→HUGEINT) to BIGINT on output: "
    "HUGEINT renders as float64 under a pandas/Arrow fetch ('1540.0' "
    "vs '1540') and splits the value hash — see QUERIES.md's oracle "
    "output-type contract.",
)
def q58_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.textstats import token_count

    d = _t(spark, sf_dir, "documents")
    per_doc = d.select("source", token_count(F.col("text")).alias("n_tok"))
    agg = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    total = agg.agg(F.sum("n_tokens").alias("__total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(
            "CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000)"
            " div __total AS BIGINT)"
        ).alias("share_ppm"),
    )


@register(
    "q59_decontamination",
    _MINHASH_CTE.split(",\n    sigs AS")[0].replace("WITH shingled AS", "WITH shingled AS") + """
    SELECT d.doc_id, COUNT(DISTINCT s) AS n_overlapping_ngrams
    FROM (SELECT doc_id, unnest(sh) AS s FROM shingled WHERE doc_id >= 50) d
    JOIN (SELECT DISTINCT unnest(sh) AS s FROM shingled WHERE doc_id < 50) b
      USING (s)
    GROUP BY d.doc_id
    """,
    doc="Benchmark decontamination: docs sharing word 3-grams with the "
    "eval set (here doc_id<50 plays the benchmark) — posting-list join, "
    "benchmark side broadcast.",
)
def q59_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.decontam import contaminated_doc_ids

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    benchmark = d.filter(F.col("doc_id") < 50)
    corpus = d.filter(F.col("doc_id") >= 50)
    return contaminated_doc_ids(corpus, benchmark)


@register(
    "q60_pii_redaction",
    """
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\\+?[0-9][0-9 ().-]{7,}[0-9]', '[PHONE]', 'g'),
             '\\b[0-9]{7,}\\b', '[NUM]', 'g') AS redacted
    FROM (
        SELECT c_custkey,
               'contact ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
               || '@mail.com or +54 299 ' || LPAD(CAST((c_custkey*7919) % 10000000 AS VARCHAR), 7, '0')
               || ' ref ' || CAST(10000000 + c_custkey AS VARCHAR) AS t
        FROM customer
    )
    """,
    doc="PII redaction: chained regex replace (emails -> [EMAIL], "
    "phone shapes -> [PHONE], long digit runs -> [NUM]) at scan speed.",
)
def q60_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.decontam import redact_pii

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    t = F.concat(
        F.lit("contact "), F.col("c_name"), F.lit(" at user"), k.cast("string"),
        F.lit("@mail.com or +54 299 "),
        F.lpad(((k * 7919) % 10000000).cast("string"), 7, "0"),
        F.lit(" ref "), (k + 10000000).cast("string"),
    )
    return c.select("c_custkey", redact_pii(t).alias("redacted"))


@register(
    "q61_repetition_score",
    f"""
    SELECT doc_id,
           CASE WHEN LEN(toks) >= 3
                THEN ROUND(1.0 - CAST(LEN(list_distinct(list_transform(
                         range(1, LEN(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
                     / (LEN(toks) - 2), 6)
           END AS rep_score
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
          WHERE LENGTH(trim(text)) > 0)
    """,
    doc="Repetition scoring: 1 - distinct/total 3-gram ratio — the "
    "degenerate-text quality filter signal.",
)
def q61_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.decontam import repetition_score

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return d.select("doc_id", F.round(repetition_score(F.col("text")), 6).alias("rep_score"))


# connected-components transitive closure over the LSH candidate graph —
# the shared oracle base for q62 (labels) and q90 (representatives)
_CC_REACH_CTE = (_MINHASH_CTE
    + """,
    bands AS MATERIALIZED (
        SELECT doc_id, '0|' || sig_0 AS band FROM sigs WHERE sig_0 IS NOT NULL
        UNION ALL SELECT doc_id, '1|' || sig_1 FROM sigs WHERE sig_1 IS NOT NULL
        UNION ALL SELECT doc_id, '2|' || sig_2 FROM sigs WHERE sig_2 IS NOT NULL
        UNION ALL SELECT doc_id, '3|' || sig_3 FROM sigs WHERE sig_3 IS NOT NULL
    ),
    verified AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION SELECT id_b, id_a FROM verified
    ),
    reach AS (
        SELECT doc_id AS id, doc_id AS lbl FROM shingled
        UNION
        -- edges is MATERIALIZED so the shingle->sig->band chain is not
        -- re-evaluated every recursion round (was ~12s fixed cost, now
        -- ~0.25s at sf0.01); r.lbl < e.dst prunes the closure to labels
        -- that can still lower a node's minimum — sound because the
        -- component minimum m is < every other member id, so m always
        -- propagates, and MIN(lbl) ignores the pruned larger labels.
        SELECT e.dst AS id, r.lbl
        FROM reach r JOIN edges e ON e.src = r.id
        WHERE r.lbl < e.dst
    )
    """).replace("WITH shingled AS", "WITH RECURSIVE shingled AS")


@register(
    "q62_dedup_clusters",
    _CC_REACH_CTE
    + "SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id",
    doc="Near-dup CLUSTERS via connected components: iterative min-label "
    "propagation on Spark vs a recursive-CTE transitive closure in the "
    "oracle — every doc labeled with its component's minimum id.",
)
def q62_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    docs = d.select("doc_id", "text")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    labels = connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    )
    return labels.select(F.col("id").alias("doc_id"), "component")


@register(
    "q90_cluster_representatives",
    _CC_REACH_CTE
    + f""",
    labels AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    toks AS (
        SELECT doc_id, LEN({_TOKS}) AS n_tok
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    ranked AS (
        SELECT l.component, t.doc_id, t.n_tok,
               ROW_NUMBER() OVER (PARTITION BY l.component
                                  ORDER BY t.n_tok DESC, t.doc_id) AS rn
        FROM labels l JOIN toks t ON t.doc_id = l.id
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id
    FROM ranked GROUP BY component
    """,
    doc="Dedup-cluster representative selection: label every doc with "
    "its near-dup component (q62's CC), then keep ONE canonical doc "
    "per cluster — the longest (most tokens, ties to lowest id) — "
    "with member and token accounting. The per-component window is "
    "partitioned (parallel, AQE-splittable), never global; this is "
    "the keep-the-best-copy rule real corpus dedup applies after "
    "clustering, where keep-lowest-id would discard the richest "
    "variant.",
)
def q90_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    docs = d.select("doc_id", "text")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    labels = connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
    toks = d.select(F.col("doc_id").alias("id"), token_count(F.col("text")).alias("n_tok"))
    stats = labels.join(toks, "id")
    w = Window.partitionBy("component").orderBy(F.col("n_tok").desc(), F.col("id"))
    return (
        stats.withColumn("rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("n_tok").alias("total_tokens"),
            F.max(F.when(F.col("rn") == 1, F.col("id"))).alias("rep_doc_id"),
        )
    )


@register(
    "q91_ngram_novelty",
    f"""
    WITH shingled AS (
        SELECT doc_id,
               CASE WHEN LEN(toks) >= 3 THEN {_SHINGLES} ELSE [] END AS sh
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
              WHERE LENGTH(trim(text)) > 0)
    ),
    grams AS (SELECT doc_id, unnest(sh) AS g FROM shingled),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT grams.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN grams.doc_id = firsts.first_doc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
    FROM grams JOIN firsts USING (g)
    GROUP BY grams.doc_id
    """,
    doc="N-gram novelty: per document, how many of its distinct word "
    "3-grams appear in NO earlier document (by ingest id) — the "
    "freshness/diversity signal a curation pipeline tracks as the "
    "corpus grows (novelty decaying to zero means new data is "
    "redundant). One explode -> min-id per gram -> join back: both "
    "shuffles key on the gram, map-side partial aggs apply, and at "
    "100 TB the gram strings travel as xxhash64 keys with the same "
    "plan shape.",
)
def q91_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import word_shingles

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    grams = d.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("g"))
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("bigint")).alias(
                "n_novel"
            ),
        )
    )


@register(
    "q92_semantic_dup_groups",
    """
    WITH coded AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) / nrm * 2) AS BIGINT)) AS code
        FROM (
            SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS nrm
            FROM embeddings
        ) WHERE nrm > 0
    ),
    groups AS (
        SELECT code, MIN(vec_id) AS group_rep, COUNT(*) AS group_size
        FROM coded GROUP BY code HAVING COUNT(*) > 1
    )
    SELECT coded.vec_id, groups.group_rep, groups.group_size
    FROM coded JOIN groups ON coded.code = groups.code
    """,
    doc="Cheap semantic-dup pass: L2-normalize each embedding, quantize "
    "every dimension to 5 levels (round(x/||x|| * 2)), and exact-group "
    "on the code vector — direction-near-identical vectors collide, "
    "and the whole pass is ONE scan + one groupBy on a 64-byte key "
    "(no pair join, no index). This is the pre-filter a semantic "
    "dedup pipeline runs before the expensive ANN pass at 100 TB; "
    "members of multi-vector groups come back with their group "
    "representative and size.",
)
def q92_semantic_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: xd(x) * xd(x)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    staged = e.select("vec_id", "embedding", nrm.alias("nrm")).filter(F.col("nrm") > 0)
    code = F.transform(
        F.col("embedding"), lambda x: F.round(xd(x) / F.col("nrm") * 2, 0).cast("long")
    )
    # coded feeds the group agg AND the join back onto itself —
    # persist so the norm + quantize transforms run once (Catalyst
    # won't CSE across join sides); bench.py reclaims the cache per
    # query, and at scale this is the materialized code table a
    # semantic-dedup pipeline stages anyway
    coded = staged.select("vec_id", code.alias("code")).persist()
    groups = (
        coded.groupBy("code")
        .agg(F.min("vec_id").alias("group_rep"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
    )
    return coded.join(groups, "code").select("vec_id", "group_rep", "group_size")


# banding + candidate pairs over _MINHASH_CTE's sigs — the SQL twin of
# similarity.band_rows + lsh_candidate_pairs_from_sigs, shared by
# q93/q96 (q62's _CC_REACH_CTE keeps its own MATERIALIZED variant: the
# hint is load-bearing for the recursive closure's fixed cost)
_BANDS_PAIRS_CTE = """,
    bands AS (
        SELECT doc_id, '0|' || sig_0 AS band FROM sigs WHERE sig_0 IS NOT NULL
        UNION ALL SELECT doc_id, '1|' || sig_1 FROM sigs WHERE sig_1 IS NOT NULL
        UNION ALL SELECT doc_id, '2|' || sig_2 FROM sigs WHERE sig_2 IS NOT NULL
        UNION ALL SELECT doc_id, '3|' || sig_3 FROM sigs WHERE sig_3 IS NOT NULL
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    )
"""


@register(
    "q93_dup_graph_degree",
    _MINHASH_CTE
    + _BANDS_PAIRS_CTE
    + """,
    deg AS (
        SELECT id, COUNT(*) AS degree FROM (
            SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs
        ) GROUP BY id
    )
    SELECT s.doc_id, CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree
    FROM shingled s LEFT JOIN deg d ON d.id = s.doc_id
    """,
    doc="Near-dup graph degree accounting: how many LSH candidate "
    "partners each document has (0 for unique docs) — the skew "
    "diagnostic run BEFORE clustering, because a handful of "
    "template-like docs with degree in the thousands is exactly what "
    "blows up pair joins and what a posting-cap/AQE-skew plan must "
    "absorb. Shuffles move (id, 1) pairs only.",
)
def q93_dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    docs = d.select("doc_id", "text")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    deg = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return docs.select("doc_id").join(deg, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree")
    )


@register(
    "q96_source_overlap_matrix",
    _MINHASH_CTE
    + _BANDS_PAIRS_CTE
    + """
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.id_a
    JOIN documents db ON db.doc_id = pairs.id_b
    GROUP BY source_a, source_b
    """,
    doc="Cross-source near-dup overlap matrix: LSH candidate pairs "
    "joined to both endpoints' sources, counted per unordered source "
    "pair — the mirror/syndication detector that tells a mixture "
    "builder which sources copy from each other (diagonal = "
    "within-source redundancy). The source joins move (id, source) "
    "pairs only; the matrix is |sources|^2 rows regardless of corpus "
    "size.",
)
def q96_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    pairs = lsh_candidate_pairs(d.select("doc_id", "text"), "doc_id", "text")
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


def _pagerank_oracle(iterations: int = 5) -> str:
    """Unrolled power-iteration CTE chain (pr0..prN): integer-exact
    PageRank needs no recursion tricks — a FIXED iteration count
    unrolls into N chained CTEs doing the same scaled-integer floor
    arithmetic as operators/graph.py::pagerank_int, so both engines
    compute identical BIGINTs."""
    parts = [
        _MINHASH_CTE,
        _BANDS_PAIRS_CTE,
        """,
    e AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM shingled),
    pr0 AS (SELECT doc_id AS id, CAST(1000000000000 // n AS BIGINT) AS r
            FROM shingled, nn)""",
    ]
    for k in range(1, iterations + 1):
        parts.append(f""",
    pr{k} AS (
        SELECT s.doc_id AS id,
               CAST((1000000000000 * 15) // 100 // nn.n
                    + (85 * COALESCE(c.x, 0)) // 100 AS BIGINT) AS r
        FROM shingled s
        LEFT JOIN (
            SELECT e.dst, SUM(p.r // d.deg) AS x
            FROM pr{k - 1} p JOIN e ON e.src = p.id JOIN deg d ON d.src = p.id
            GROUP BY e.dst
        ) c ON c.dst = s.doc_id, nn
    )""")
    parts.append(
        f"\n    SELECT id AS doc_id, r AS rank_scaled FROM pr{iterations}"
    )
    return "".join(parts)


@register(
    "q101_pagerank_neardup",
    _pagerank_oracle(5),
    doc="Integer-exact PageRank (5 power iterations, damping 0.85) over "
    "the undirected LSH near-dup graph: high-rank documents sit at the "
    "center of duplication clusters — the centrality signal that picks "
    "canonical documents and finds template hubs. All arithmetic is "
    "1e-12 fixed point with floor division (damping as an integer "
    "percentage), so Spark's iterative loop and the oracle's unrolled "
    "CTE chain produce bit-identical BIGINTs — no float accumulation "
    "drift. Per iteration: one id-keyed join + groupBy + join back, "
    "lineage truncated per round; the edge table is computed once and "
    "cached.",
)
def q101_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.graph import pagerank_int

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    docs = d.select("doc_id", "text")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    # checkpoint_interval=4 < iterations selects pagerank_int's
    # MULTI-JOB regime (persisted edge/node tables + one mid-loop
    # lineage truncation) when the DISTRIBUTED loop runs. Round-13
    # A/B on this exact shape: the single-job deep-plan regime ran
    # 11.7-20.3 s, the multi-job regime 5.7-6.2 s — the 5-iteration
    # plan's ~130 pre-AQE exchanges cost more in planning/AQE
    # bookkeeping than the two extra materialization jobs. Round 14:
    # pagerank_int is now ADAPTIVE like kcore/connected_components —
    # under its 100k node+edge threshold the power iteration runs on
    # the driver in exact Python integers (bit-identical ranks,
    # regime-equivalence test-asserted; solo warm median 7.6 -> 2.9 s
    # on this shape), and the distributed multi-job regime remains
    # the at-scale path. Output is bit-identical in all regimes
    # (fixed-point integer arithmetic; oracle-hash-checked at sf0.01
    # AND sf0.1 after the change).
    ranks = pagerank_int(
        docs.select("doc_id"), pairs, id_col="doc_id", iterations=5,
        checkpoint_interval=4,
    )
    return ranks.select(F.col("id").alias("doc_id"), "rank_scaled")


# ---------------------------------------------------------------------------
# Round 2: driver-checked entries for the formerly pytest-only operators
# (IVF ANN, quantization, multimodal decode, sequence packing)
# ---------------------------------------------------------------------------

@register(
    "q63_ivf_ann_fullprobe",
    """
    WITH pairs AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROUND(
                 list_sum(list_transform(range(1, LEN(q.embedding) + 1),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(range(1, LEN(q.embedding) + 1),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
                  * SQRT(list_sum(list_transform(range(1, LEN(e.embedding) + 1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
               , 6) AS sim
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM pairs
    ) WHERE rank <= 5
    """,
    doc="IVF ANN at nprobe == nlist (full probe): every cluster is "
    "searched, so the result is EXACTLY brute-force top-k and the "
    "oracle is the brute-force spec — this pins the index round-trip "
    "(train, assign, probe, prune-join) to the exact answer while "
    "pytest covers recall at partial probe.",
)
def q63_ivf_ann_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.ann import ivf_build, ivf_search

    e = _t(spark, sf_dir, "embeddings")
    # full probe: centroid quality is irrelevant, so train cheaply on a
    # deterministic sample (the production shape at any corpus size)
    # with random init — k-means|| init is several extra distributed
    # passes + driver collects buying centroid quality this query's
    # output provably never depends on (nprobe = nlist searches every
    # cluster, and cluster ids never reach the output)
    index = ivf_build(
        e, nlist=8, max_iter=2, init_mode="random",
        train=e.filter(F.col("vec_id") % 7 == 0),
    )
    q = e.filter(F.col("vec_id") < 5)
    return ivf_search(index, q, k=5, nprobe=8)


@register(
    "q64_quantize_int8",
    """
    SELECT vec_id,
           ROUND(CASE WHEN mx > 0 THEN mx / 127.0 ELSE 1.0 END, 6) AS scale,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(ROUND(CAST(x AS DOUBLE)
                          / (CASE WHEN mx > 0 THEN mx / 127.0 ELSE 1.0 END)) AS BIGINT)))
                AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(embedding,
                x -> ABS(CAST(ROUND(CAST(x AS DOUBLE)
                          / (CASE WHEN mx > 0 THEN mx / 127.0 ELSE 1.0 END)) AS BIGINT))))
                AS BIGINT) AS q_l1
    FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    )
    """,
    doc="Symmetric int8 quantization (4x vector storage): per-vector "
    "scale plus exact integer checksums of the quantized codes — "
    "pure array expressions, scan-speed, bit-agreed with the oracle.",
)
def q64_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.quantize import quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    qs = e.select("vec_id", quantize_int8(F.col("embedding")).alias("qv"))
    q = F.col("qv").getField("q")
    to_long = lambda c: c.cast("long")
    return qs.select(
        "vec_id",
        F.round(F.col("qv").getField("scale"), 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + to_long(x)).alias("q_sum"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(to_long(x))).alias(
            "q_l1"
        ),
    )


@register(
    "q65_multimodal_decode",
    """
    SELECT media_id, kind,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CASE WHEN kind IN ('image', 'video')
                THEN 64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INTEGER) % 192
           END AS width,
           CASE WHEN kind IN ('image', 'video')
                THEN 64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INTEGER) % 192
           END AS height,
           CASE WHEN kind IN ('audio', 'video')
                THEN ROUND(CAST(('0x' || substr(sha256(text), 5, 2)) AS INTEGER) / 8.0, 3)
           END AS duration_s
    FROM (
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS kind,
               text
        FROM documents
    )
    """,
    doc="Multimodal decode plumbing, oracle-checked end-to-end: text "
    "payloads stand in for media bytes, the Arrow-batched mapInPandas "
    "decode stub derives metadata from sha256(payload), and the oracle "
    "recomputes the same digest arithmetic hex-wise in SQL. The real "
    "codec swap-in point stays NotImplementedError-gated "
    "(operators/multimodal.py:96).",
)
def q65_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.multimodal import extract_media_features

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    feats = extract_media_features(media, decode_stub=True)
    return feats.select(
        "media_id", "kind", "n_bytes", "sha256", "width", "height",
        F.round("duration_s", 3).alias("duration_s"),
    )


@register(
    "q66_sequence_packing",
    f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, LEN({_TOKS}) AS n
        FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    chunks AS (
        SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS bin_id, i AS chunk_idx,
               CASE WHEN i < CAST(CEIL(n / 32.0) AS BIGINT) - 1 THEN 32
                    ELSE n - 32 * (CAST(CEIL(n / 32.0) AS BIGINT) - 1)
               END AS n_tok
        FROM t, unnest(range(0, CAST(CEIL(n / 32.0) AS BIGINT))) AS u(i)
    ),
    ordered AS (
        SELECT bin_id, n_tok,
               ROW_NUMBER() OVER (PARTITION BY bin_id
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM chunks
    ),
    fill AS (
        SELECT bin_id, rn, CAST(0 AS BIGINT) AS seq_id, n_tok AS cur
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.bin_id, o.rn,
               CASE WHEN f.cur + o.n_tok > 128 THEN f.seq_id + 1
                    ELSE f.seq_id END,
               CASE WHEN f.cur + o.n_tok > 128 THEN o.n_tok
                    ELSE f.cur + o.n_tok END
        FROM fill f JOIN ordered o
          ON o.bin_id = f.bin_id AND o.rn = f.rn + 1
    )
    SELECT f.bin_id, f.seq_id,
           CAST(COUNT(*) AS INTEGER) AS n_docs,
           CAST(SUM(o.n_tok) AS INTEGER) AS n_tokens
    FROM fill f JOIN ordered o ON o.bin_id = f.bin_id AND o.rn = f.rn
    GROUP BY f.bin_id, f.seq_id
    """,
    doc="Sequence packing for pretraining: chunk documents to token "
    "windows, then greedy-fill fixed 128-token sequences within "
    "buckets (applyInPandas per bucket — the one legitimately "
    "sequential leg, Arrow-batched and parallel across buckets). The "
    "greedy fill IS SQL-expressible per bucket as a recursive CTE "
    "that advances one chunk per step carrying (seq_id, fill level), "
    "so the oracle replays the identical first-fit and the driver "
    "hash-checks the packing itself, not just its invariants (q66b). "
    "The registered query pins the bucket key to doc_id % 8 "
    "(pack_chunks bin_expr) so both engines agree on bucketing; the "
    "production default stays Murmur3 for skew-resistant spread.",
)
def q66_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.chunking import chunk_documents
    from etl_guiacores_spark.operators.packing import pack_chunks

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    chunks = chunk_documents(d.select("doc_id", "text"), chunk_tokens=32, overlap=0)
    packed = pack_chunks(
        chunks,
        budget_tokens=128,
        num_bins=8,
        bin_expr=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return packed.select(
        "bin_id", "seq_id", F.size("doc_ids").alias("n_docs"), "n_tokens"
    )


@register(
    "q66b_packing_invariants",
    f"""
    WITH t AS (
        SELECT doc_id, LEN({_TOKS}) AS n
        FROM documents WHERE LENGTH(trim(text)) > 0
    )
    SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(CEIL(n / 32.0) AS BIGINT)) AS BIGINT) AS n_chunks,
           COUNT(*) AS n_docs,
           CAST(0 AS BIGINT) AS n_over_budget
    FROM t
    """,
    doc="Driver-checkable face of sequence packing (q66): re-aggregate "
    "the packed output into SQL-verifiable conservation invariants — "
    "total packed tokens == corpus token total, packed chunk count == "
    "ceil(n/32) chunk total, every document survives packing, and NO "
    "sequence exceeds the 128-token budget (oracle expects exactly 0 "
    "violations). The greedy first-fit itself has no SQL twin; its "
    "contract does.",
)
def q66b_packing_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.chunking import chunk_documents
    from etl_guiacores_spark.operators.packing import pack_chunks

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    chunks = chunk_documents(d.select("doc_id", "text"), chunk_tokens=32, overlap=0)
    # the packed table feeds both aggregate branches — persist so the
    # Arrow-batched greedy packer runs once, not once per crossJoin
    # side (bench.py reclaims the cache per query)
    packed = pack_chunks(chunks, budget_tokens=128, num_bins=8).persist()
    stats = packed.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.size("doc_ids")).cast("bigint").alias("n_chunks"),
        F.sum((F.col("n_tokens") > 128).cast("bigint")).alias("n_over_budget"),
    )
    n_docs = (
        packed.select(F.explode("doc_ids").alias("d"))
        .agg(F.count_distinct("d").alias("n_docs"))
    )
    return stats.crossJoin(F.broadcast(n_docs)).select(
        "total_tokens", "n_chunks", "n_docs", "n_over_budget"
    )


@register(
    "q67_stratified_sample",
    """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS u,
               CAST(FLOOR((CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                                THEN 1.0 ELSE 0.25 END) * 4294967296.0) AS BIGINT) AS thr
        FROM documents
    ) WHERE u < thr
    """,
    doc="Mixture construction via deterministic hash sampling: keep all "
    "of even-numbered sources, 25% of odd ones, by thresholding an "
    "md5-derived uniform hash of the doc id — reproducible across "
    "engines/retries/partitionings, pure scan-speed filter, and nested "
    "rates compose (a lower rate is a subset of a higher one).",
)
def q67_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sampling import hash_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    rate = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(0.25))
    return hash_sample(d, "doc_id", rate, seed="mix")


@register(
    "q68_bigram_counts",
    f"""
    SELECT bigram, n FROM (
        SELECT bigram, COUNT(*) AS n,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS r
        FROM (
            SELECT unnest(list_transform(range(1, LEN(toks)),
                          i -> toks[i] || ' ' || toks[i+1])) AS bigram
            FROM (SELECT {_TOKS} AS toks FROM documents
                  WHERE LENGTH(trim(text)) > 0)
        )
        GROUP BY bigram
    ) WHERE r <= 20
    """,
    doc="Corpus n-gram LM counts: explode word bigrams (with "
    "multiplicity — LM counts, not shingle sets), one partial+final "
    "count aggregation, deterministic top-20. The count shuffle moves "
    "only (bigram, partial-count) pairs.",
)
def q68_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim("text"), r"\s+")

    def build(t):
        # guard size >= 2: F.sequence(1, 0) is the DESCENDING [1, 0]
        # (step defaults to -1 when start > stop), which would evaluate
        # element_at(t, 0) and crash on any single-token document
        idx = F.sequence(F.lit(1), F.size(t) - 1)
        grams = F.transform(
            idx, lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1))
        )
        return F.when(F.size(t) >= 2, grams).otherwise(F.array().cast("array<string>"))

    bigrams = F.element_at(F.transform(F.array(toks), build), 1)
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@register(
    "q69_simhash_hamming_pairs",
    "WITH sigs AS MATERIALIZED ("
    + _simhash_oracle(32).replace("simhash16", "simhash32").strip()
    + """),
    bands AS MATERIALIZED (
        SELECT doc_id, simhash32, b.band_idx,
               CAST((simhash32 >> (b.band_idx * 8)) & 255 AS INTEGER) AS byte
        FROM sigs, (SELECT unnest(range(4)) AS band_idx) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash32, b2.simhash32)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b2
      ON a.band_idx = b2.band_idx AND a.byte = b2.byte
     AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.simhash32, b2.simhash32)) <= 3
    """,
    doc="SimHash near-dup pairs at Hamming distance <= 3 via byte "
    "banding: a 32-bit signature split into 4 bytes — any pair within "
    "distance 3 agrees exactly on >= 1 band (pigeonhole), so "
    "candidates come from an equi-join on (band_idx, byte), never an "
    "all-pairs comparison, and the exact popcount verifies. Band "
    "width sets selectivity: 8-bit bands give 256 buckets per band "
    "(vs 16 for nibbles), which is what keeps hot buckets bounded as "
    "the corpus grows; AQE skew-join splits any that remain.",
)
def q69_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import simhash_grouped

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    sigs = simhash_grouped(d, 32, out_col="simhash32")
    bands = sigs.select(
        "doc_id",
        "simhash32",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash32"), 8 * i)
                        .bitwiseAND(F.lit(255))
                        .alias("byte"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select(
        "doc_id", "simhash32",
        F.col("b.band_idx").alias("band_idx"), F.col("b.byte").alias("byte"),
    ).persist()  # both self-join sides reuse one signature computation
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("simhash32").alias("sig_a"), "band_idx", "byte"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("simhash32").alias("sig_b"), "band_idx", "byte"
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, on=["band_idx", "byte"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming <= 3)
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .distinct()
    )


@register(
    "q70_salted_distinct_count",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS distinct_count
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Skew-safe exact COUNT(DISTINCT): the 3-value l_returnflag key "
    "funnels 600k rows into 3 reducers naively; the salted two-phase "
    "form (partial distinct per (key, hash-salt), then sum — exact "
    "because equal values share a salt) spreads each hot group over "
    "16 reducers. Oracle is the plain COUNT(DISTINCT) spec.",
)
def q70_salted_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.skew import salted_distinct_count

    li = _t(spark, sf_dir, "lineitem")
    return salted_distinct_count(li, "l_returnflag", "l_orderkey", salt=16)


# ---------------------------------------------------------------------------
# q120: leakage-safe split — the FIX for the contamination q85 measures
# ---------------------------------------------------------------------------

@register(
    "q120_leakage_safe_split",
    _CC_REACH_CTE
    + """,
    labels AS (SELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id)
    SELECT doc_id, group_id,
           CASE WHEN u < 3435973836 THEN 'train'
                WHEN u < 3865470566 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, group_id,
                 CAST(('0x' || substr(md5('gsplit:' || CAST(group_id AS VARCHAR)), 1, 8))
                      AS BIGINT) AS u
          FROM labels)
    """,
    doc="Group-aware train/val/test split: near-dup CLUSTERS (q62's "
    "connected components over the LSH candidate graph) are the unit "
    "of assignment, hash-split 80/10/10 on the CLUSTER label — so a "
    "document and its near-duplicates land in the same split BY "
    "CONSTRUCTION, closing the eval contamination q85_split_leakage "
    "measures for the naive per-document split. Per-doc output "
    "(doc_id, group_id, split) is hash-checked against the oracle's "
    "recursive-CTE closure + identical md5 thresholds, so the driver "
    "verifies both the clustering and the assignment rule. Scale: CC "
    "is the adaptive operator (driver union-find under the edge gate, "
    "pointer-jumping above), the split itself is a pure per-row "
    "expression — no shuffle beyond the components "
    "(operators/sampling.leakage_safe_split).",
)
def q120_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.sampling import leakage_safe_split

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    docs = d.select("doc_id", "text")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    return leakage_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# q121: incremental near-dup — daily batch vs corpus history
# ---------------------------------------------------------------------------

@register(
    "q121_incremental_dedup",
    _MINHASH_CTE
    + """,
    bands AS (
        SELECT doc_id, '0|' || sig_0 AS band FROM sigs WHERE sig_0 IS NOT NULL
        UNION ALL SELECT doc_id, '1|' || sig_1 FROM sigs WHERE sig_1 IS NOT NULL
        UNION ALL SELECT doc_id, '2|' || sig_2 FROM sigs WHERE sig_2 IS NOT NULL
        UNION ALL SELECT doc_id, '3|' || sig_3 FROM sigs WHERE sig_3 IS NOT NULL
    )
    SELECT n.doc_id, CAST(MIN(h.doc_id) AS BIGINT) AS dup_of
    FROM bands n JOIN bands h ON n.band = h.band
    WHERE n.doc_id % 10 = 7 AND h.doc_id % 10 <> 7
    GROUP BY n.doc_id
    """,
    doc="Incremental (daily-batch) near-dup admission: documents with "
    "doc_id % 10 = 7 play today's batch, the rest the already-deduped "
    "history; every batch doc whose LSH band collides with history is "
    "flagged with its minimum colliding history id — WITHOUT the "
    "full-corpus self-join (history never pairs with itself). The "
    "100 TB shape the shard-append path needs: the batch's band rows "
    "BROADCAST so history streams map-side (zero history shuffle), "
    "falling back to a band-keyed shuffle join for backfill-sized "
    "batches; the production history side is the staged signature "
    "table, reused as-is (operators/similarity.lsh_collision_flags).",
)
def q121_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import lsh_collision_flags

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    new = d.filter(F.col("doc_id") % 10 == 7).select("doc_id", "text")
    hist = d.filter(F.col("doc_id") % 10 != 7).select("doc_id", "text")
    return lsh_collision_flags(new, hist)


# ---------------------------------------------------------------------------
# q122: snapshot diff — CDC between two corpus/dimension versions
# ---------------------------------------------------------------------------

@register(
    "q122_snapshot_diff",
    """
    WITH o AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE AS in_o
        FROM orders
    ),
    n AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                    ELSE o_totalprice END AS o_totalprice,
               TRUE AS in_n
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT -o_orderkey, o_orderstatus, o_totalprice, TRUE
        FROM orders WHERE o_orderkey % 17 = 0
    )
    SELECT * FROM (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN n.in_n IS NULL THEN 'removed'
                    WHEN o.in_o IS NULL THEN 'added'
                    WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                     AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                        THEN 'unchanged'
                    ELSE 'changed' END AS change_type
        FROM o FULL OUTER JOIN n
          ON o.o_orderkey IS NOT DISTINCT FROM n.o_orderkey
    ) WHERE change_type <> 'unchanged'
    """,
    doc="Snapshot CDC: two versions of the orders dimension (the new "
    "one deterministically drops key%13=0, reprices key%7=0, and adds "
    "negated key%17=0 rows) diffed into added/removed/changed — the "
    "delta a downstream MERGE, incremental re-index, or audit consumes, "
    "turning the versioned sinks (io.write_version/write_snapshot) "
    "back into a change stream. Comparison is per-column null-safe "
    "equality, not a row hash (no collision or serialization-canon "
    "pitfalls); the single shuffle is the key-partitioned full outer "
    "join, elided when both snapshots are bucketed by the key "
    "(operators/scd.snapshot_diff).",
)
def q122_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.scd import snapshot_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    modified = o.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    added = o.filter(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey", -F.col("o_orderkey")
    )
    return snapshot_diff(
        o,
        modified.unionByName(added),
        ["o_orderkey"],
        ["o_orderstatus", "o_totalprice"],
    )


# ---------------------------------------------------------------------------
# q126: schema drift classification — metadata CDC between snapshots
# ---------------------------------------------------------------------------

@register(
    "q126_schema_drift",
    """
    WITH o AS (
        SELECT column_name AS col_name, column_type AS t
        FROM (DESCRIBE lineitem)
    ),
    n AS (
        SELECT column_name AS col_name, column_type AS t
        FROM (DESCRIBE SELECT
                  l_orderkey, l_partkey, l_suppkey,
                  CAST(lineitem.l_linenumber AS BIGINT) AS l_linenumber,
                  l_quantity, l_extendedprice, l_discount,
                  l_returnflag, l_linestatus,
                  CAST(lineitem.l_shipdate AS VARCHAR) AS l_shipdate,
                  CAST(7 AS BIGINT) AS l_ingest_batch
              FROM lineitem)
    ),
    -- DuckDB type names canonicalized onto Spark simpleStrings (a
    -- rendering map, not semantics; DuckDB TIMESTAMP is naive = NTZ)
    canon(d, s) AS (VALUES
        ('BIGINT', 'bigint'), ('INTEGER', 'int'), ('DOUBLE', 'double'),
        ('VARCHAR', 'string'), ('TIMESTAMP', 'timestamp_ntz'),
        ('DATE', 'date'), ('FLOAT', 'float'), ('SMALLINT', 'smallint'),
        ('TINYINT', 'tinyint'), ('BOOLEAN', 'boolean')),
    om AS (SELECT col_name, c.s AS old_type FROM o JOIN canon c ON o.t = c.d),
    nm AS (SELECT col_name, c.s AS new_type FROM n JOIN canon c ON n.t = c.d),
    widen(w_old, w_new) AS (VALUES
        ('int', 'bigint'), ('float', 'double'), ('int', 'double'),
        ('smallint', 'int'), ('smallint', 'bigint'),
        ('tinyint', 'smallint'), ('tinyint', 'int'), ('tinyint', 'bigint'),
        ('date', 'timestamp_ntz')),
    j AS (
        SELECT COALESCE(om.col_name, nm.col_name) AS col_name,
               om.old_type, nm.new_type
        FROM om FULL OUTER JOIN nm ON om.col_name = nm.col_name
        WHERE om.old_type IS DISTINCT FROM nm.new_type
    )
    SELECT j.col_name,
           CASE WHEN j.new_type IS NULL THEN 'removed'
                WHEN j.old_type IS NULL THEN 'added'
                WHEN w.w_old IS NOT NULL THEN 'widened'
                ELSE 'retyped' END AS kind,
           j.old_type, j.new_type
    FROM j LEFT JOIN widen w
      ON j.old_type = w.w_old AND j.new_type = w.w_new
    """,
    doc="Schema drift classification — the METADATA twin of the q122 "
    "row-level snapshot diff: the lineitem schema vs a deterministically "
    "evolved version (l_tax dropped, l_linenumber int->bigint, "
    "l_shipdate retyped to string, l_ingest_batch added), one row per "
    "changed column classified added/removed/widened/retyped. 'Widened' "
    "means the parquet reader absorbs the change inside the scan "
    "(read_evolved's _SAFE_WIDENINGS table — no rewrite at 100 TB); "
    "'retyped' needs align_to_schema's per-row try_cast or a "
    "generation-split read. Both engines derive the schemas from their "
    "own type inference over the same physical parquet + expressions, "
    "then classify relationally (full outer join on column name + "
    "broadcast widening lookup); the oracle maps DuckDB type names onto "
    "Spark simpleStrings as a rendering concern "
    "(schema.schema_drift_report).",
)
def q126_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.schema import schema_drift_report

    li = _t(spark, sf_dir, "lineitem")
    evolved = (
        li.drop("l_tax")
        .withColumn("l_linenumber", F.col("l_linenumber").cast("bigint"))
        .withColumn("l_shipdate", F.col("l_shipdate").cast("string"))
        .withColumn("l_ingest_batch", F.lit(7).cast("bigint"))
    )
    return schema_drift_report(spark, li.schema, evolved.schema)


# ---------------------------------------------------------------------------
# q137: triangle counting / clustering coefficient on the near-dup graph
# ---------------------------------------------------------------------------

@register(
    "q137_triangle_counts",
    _MINHASH_CTE
    + """,
    bands AS MATERIALIZED (
        SELECT doc_id, '0|' || sig_0 AS band FROM sigs WHERE sig_0 IS NOT NULL
        UNION ALL SELECT doc_id, '1|' || sig_1 FROM sigs WHERE sig_1 IS NOT NULL
        UNION ALL SELECT doc_id, '2|' || sig_2 FROM sigs WHERE sig_2 IS NOT NULL
        UNION ALL SELECT doc_id, '3|' || sig_3 FROM sigs WHERE sig_3 IS NOT NULL
    ),
    verified AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    deg AS MATERIALIZED (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT id_a AS id FROM verified
              UNION ALL SELECT id_b FROM verified)
        GROUP BY id
    ),
    oriented AS MATERIALIZED (
        SELECT CASE WHEN da.degree < db.degree
                      OR (da.degree = db.degree AND v.id_a < v.id_b)
                    THEN v.id_a ELSE v.id_b END AS src,
               CASE WHEN da.degree < db.degree
                      OR (da.degree = db.degree AND v.id_a < v.id_b)
                    THEN v.id_b ELSE v.id_a END AS dst
        FROM verified v
        JOIN deg da ON da.id = v.id_a
        JOIN deg db ON db.id = v.id_b
    ),
    tris AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM oriented e1
        JOIN oriented e2 ON e2.src = e1.dst
        JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    pn AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
        FROM (SELECT u AS id FROM tris
              UNION ALL SELECT v FROM tris
              UNION ALL SELECT w FROM tris)
        GROUP BY id
    )
    SELECT d.id, d.degree,
           CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN d.degree >= 2
                THEN CAST(2000000 * CAST(COALESCE(pn.triangles, 0) AS HUGEINT)
                          // (d.degree * (d.degree - 1)) AS BIGINT)
           END AS clustering_ppm
    FROM deg d LEFT JOIN pn ON pn.id = d.id
    """,
    doc="Per-node triangle counts + exact-integer local clustering "
    "coefficient over the LSH near-dup candidate graph — the "
    "cluster-density QA signal: clustering ~ 1e6 ppm means a "
    "candidate neighborhood is a genuine duplicate clique, low values "
    "flag band-collision noise worth re-verifying BEFORE transitive "
    "dedup merges distinct docs. Degree-ordered orientation "
    "(Chiba-Nishizeki): each triangle materializes exactly once as "
    "a->b, a->c, b->c under the (degree, id) total order, and hub "
    "out-degrees stay O(sqrt(m)) so the wedge join never explodes on "
    "Zipf-hot vertices; the closing check is one more equi-join. "
    "clustering_ppm = 2e6*T div (deg*(deg-1)) in DECIMAL(38,0)/"
    "HUGEINT, NULL when deg < 2 (operators/graph.triangle_counts).",
)
def q137_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.graph import triangle_counts

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return triangle_counts(lsh_candidate_pairs(d.select("doc_id", "text"), "doc_id", "text"))


# ---------------------------------------------------------------------------
# q139: OHLC bars (tick stream -> per-key per-bucket candle downsample)
# ---------------------------------------------------------------------------

@register(
    "q139_ohlc_resample",
    """
    SELECT event_type,
           STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS bucket_start,
           FIRST(value ORDER BY ts, event_id) AS open,
           MAX(value)                         AS high,
           MIN(value)                         AS low,
           LAST(value ORDER BY ts, event_id)  AS close,
           CAST(COUNT(*) AS BIGINT)           AS n_events
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
    doc="OHLC candle downsample of the event tick stream: per "
    "(event_type, 1h bucket) open/high/low/close/count — the "
    "telemetry/market resample run before charting or feature "
    "extraction. open/close fold via min_by/max_by over the "
    "(ts, event_id) STRUCT order (a total order — bare first()/last() "
    "are partition-order-nondeterministic, the D2 lesson); all four "
    "price outputs are SELECTED raw doubles, never float arithmetic, "
    "so the hash is bit-identical across engines/partitionings/"
    "retries with no rounding contract needed. One partial-aggregable "
    "groupBy — map-side combine reduces each partition to one row per "
    "(key, bucket) before the shuffle "
    "(operators/rollup_time.ohlc_resample).",
)
def q139_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.rollup_time import ohlc_resample

    bars = ohlc_resample(_t(spark, sf_dir, "events"))
    return bars.select(
        "event_type",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
            "bucket_start"
        ),
        "open", "high", "low", "close", "n_events",
    )


# ---------------------------------------------------------------------------
# q162: k-core of the near-dup candidate graph (fixpoint peel)
# ---------------------------------------------------------------------------

@register(
    "q162_kcore_dedup",
    _MINHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    bands AS MATERIALIZED (
        SELECT doc_id, '0|' || sig_0 AS band FROM sigs WHERE sig_0 IS NOT NULL
        UNION ALL SELECT doc_id, '1|' || sig_1 FROM sigs WHERE sig_1 IS NOT NULL
        UNION ALL SELECT doc_id, '2|' || sig_2 FROM sigs WHERE sig_2 IS NOT NULL
        UNION ALL SELECT doc_id, '3|' || sig_3 FROM sigs WHERE sig_3 IS NOT NULL
    ),
    verified AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    sym AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION SELECT id_b, id_a FROM verified
    ),
    peel(iter, src, dst) AS (
        SELECT 0, src, dst FROM sym
        UNION ALL
        SELECT p.iter + 1, p.src, p.dst
        FROM peel p
        WHERE p.src IN (SELECT src FROM peel GROUP BY src
                        HAVING COUNT(*) >= 2)
          AND p.dst IN (SELECT src FROM peel GROUP BY src
                        HAVING COUNT(*) >= 2)
          AND EXISTS (SELECT 1 FROM peel GROUP BY src
                      HAVING COUNT(*) < 2)
    ),
    lastp AS (
        SELECT src, dst FROM peel
        WHERE iter = (SELECT MAX(iter) FROM peel)
    ),
    core AS (
        SELECT src, dst FROM lastp
        WHERE NOT EXISTS (SELECT 1 FROM lastp GROUP BY src
                          HAVING COUNT(*) < 2)
    )
    SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree
    FROM core GROUP BY src
    """,
    doc="2-core of the LSH near-dup candidate graph: iteratively peel "
    "every doc with fewer than 2 collision partners until a fixpoint, "
    "returning the surviving docs with their in-core degree — the "
    "evidence-redundancy cut that separates dense duplicate "
    "communities (every member corroborated twice over) from pendant "
    "single-band collisions BEFORE transitive dedup merges on thin "
    "evidence; complements q137's per-node clustering density with a "
    "global fixpoint guarantee. Spark side is a monotone peel loop "
    "(degree groupBy + two left-semi joins per round, all keyed on "
    "doc id, lineage truncated per round); the oracle is a genuine "
    "DuckDB recursive-CTE fixpoint with the empty-core edge handled, "
    "so convergence itself is cross-checked, not just one round "
    "(operators/graph.kcore).",
)
def q162_kcore_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.graph import kcore

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return kcore(
        lsh_candidate_pairs(d.select("doc_id", "text"), "doc_id", "text"), k=2
    )


# ---------------------------------------------------------------------------
# q140-q142: event-sequence analytics (funnel, cohort retention, CUSUM)
# ---------------------------------------------------------------------------

@register(
    "q140_funnel",
    """
    WITH s1 AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, s1.t1, MIN(epoch_us(e.ts)) AS tp
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(e.ts) > s1.t1
          AND epoch_us(e.ts) <= s1.t1 + 86400000000
        GROUP BY e.user_id, s1.t1),
    s3 AS (
        SELECT e.user_id, s2.t1, MIN(epoch_us(e.ts)) AS tp
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) > s2.tp
          AND epoch_us(e.ts) <= s2.t1 + 86400000000
        GROUP BY e.user_id, s2.t1),
    counts AS (
        SELECT 1 AS step_idx, 'view' AS step_name,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
        UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM s1)
    SELECT CAST(step_idx AS BIGINT) AS step_idx, step_name, n_users,
           CASE WHEN n1 > 0
                THEN CAST(n_users * 1000000 // n1 AS BIGINT) END
               AS conversion_ppm
    FROM counts CROSS JOIN base
    """,
    doc="Strict-order view->click->purchase funnel inside a 24h "
    "window: per user, the earliest step-k time strictly after their "
    "earliest qualifying step-(k-1) time (earliest-completion greedy "
    "— provably maximizes users counted at every step), whole chain "
    "within 24h of step 1. k-1 co-partitioned user-key joins, each "
    "fed by events FILTERED to that step's type first (join inputs "
    "are step-sized); exchanges reuse across steps; conversion in "
    "exact integer ppm against step 1 (operators/funnel.funnel_steps).",
)
def q140_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.funnel import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        window_micros=86_400_000_000,
    )


@register(
    "q141_cohort_retention",
    """
    WITH first AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cw
        FROM events GROUP BY user_id),
    sizes AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY cw),
    active AS (
        SELECT f.cw,
               CAST((CAST(a.aw AS DATE) - CAST(f.cw AS DATE)) // 7
                    AS BIGINT) AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
              FROM events) a
        JOIN first f ON f.user_id = a.user_id
        GROUP BY f.cw, week_offset)
    SELECT STRFTIME(a.cw, '%Y-%m-%d') AS cohort_week, week_offset,
           n_active, cohort_size,
           CAST(n_active * 1000000 // cohort_size AS BIGINT)
               AS retention_ppm
    FROM active a JOIN sizes s ON s.cw = a.cw
    """,
    doc="Weekly cohort retention matrix: users bucketed by first-seen "
    "week, counted active per later week — (user -> first week) agg, "
    "one distinct (user, week) projection, one co-partitioned join, "
    "one bounded (weeks x weeks) matrix agg; retention in exact "
    "integer ppm (operators/funnel.cohort_retention).",
)
def q141_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.funnel import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


@register(
    "q142_cusum_drift",
    """
    WITH dev AS (
        SELECT user_id, event_id,
               CAST(FLOOR(value * 1000000) AS BIGINT)
                   - 50000000 - 5000000 AS d,
               ts
        FROM events),
    p AS (
        SELECT user_id, event_id, ts,
               SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS pf
        FROM dev),
    s AS (
        SELECT user_id, event_id,
               CAST(pf - LEAST(0, MIN(pf) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS cusum_micro
        FROM p)
    SELECT user_id, event_id, cusum_micro,
           cusum_micro > 2000000000 AS drift_flag
    FROM s
    """,
    doc="One-sided CUSUM drift statistic per user over the event "
    "value stream, exact integer micro-units (Page 1954): S_t = "
    "max(0, S_{t-1} + (x - target - slack)), flag when S > 2000. The "
    "clamped recurrence is ELIMINATED via its closed form S_t = P_t "
    "- min(0, min_{j<=t} P_j) over deviation prefix sums — one "
    "running-sum + one running-min window, key-partitioned, ordered "
    "by the (ts, event_id) total order; zero sequential state, "
    "per-key parallel (same recurrence-elimination family as the "
    "EWMA affine fold, but here the recurrence vanishes entirely) "
    "(operators/funnel.cusum_drift).",
)
def q142_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.funnel import cusum_drift

    e = _t(spark, sf_dir, "events")
    out = cusum_drift(
        e.withColumn(
            "__vmicro",
            F.floor(F.col("value") * 1_000_000).cast("long"),
        ),
        ["user_id"],
        "__vmicro",
        target_micro=50_000_000,
        slack_micro=5_000_000,
        threshold_micro=2_000_000_000,
    )
    return out.select("user_id", "event_id", "cusum_micro", "drift_flag")


# ---------------------------------------------------------------------------
# q181: intra-cluster cohesion audit (did LSH over-merge?)
# ---------------------------------------------------------------------------

@register(
    "q181_cluster_cohesion",
    _CC_REACH_CTE
    + """,
    labels AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    small AS (
        SELECT component FROM labels
        GROUP BY component HAVING COUNT(*) BETWEEN 2 AND 64
    ),
    m AS (
        SELECT l.component, s.doc_id, s.sh
        FROM labels l
        JOIN small c ON c.component = l.component
        JOIN shingled s ON s.doc_id = l.id
    ),
    p AS (
        SELECT a.component,
               CASE WHEN LEN(list_distinct(list_concat(a.sh, b.sh))) = 0
                    THEN 0
                    ELSE CAST(LEN(list_intersect(a.sh, b.sh)) AS BIGINT)
                         * 1000000
                         // LEN(list_distinct(list_concat(a.sh, b.sh)))
                    END AS j
        FROM m a JOIN m b
          ON b.component = a.component AND b.doc_id > a.doc_id
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(j) AS BIGINT) AS min_jacc_ppm,
           CAST(SUM(j) // COUNT(*) AS BIGINT) AS mean_jacc_ppm
    FROM p GROUP BY component
    """,
    doc="Intra-cluster cohesion audit over the q62 near-dup "
    "components: every intra-component document pair scored with "
    "EXACT shingle Jaccard in integer ppm (|intersect|*1e6 div "
    "|union| — no float rounding), aggregated to per-component pair "
    "count, minimum, and truncated mean. Transitive CC merges chain "
    "A~B~C into one cluster without ever comparing A to C — this is "
    "the did-LSH-over-merge check (low min_jacc_ppm = a chained "
    "merge of dissimilar ends) run before trusting cluster-level "
    "survivor selection, the structure-validation discipline of "
    "q105/q168/q175/q179 applied to dedup itself. Pair expansion is "
    "HARD-CAPPED at 64-member components (the cap is the operator "
    "contract, not an optimization: one 4,944-member component at "
    "sf0.1 is 12.2M intra pairs — the all-pairs blowup the audit "
    "exists to avoid; giant components are exactly the over-merge "
    "suspects and get flagged by SIZE, audited by sampling, not "
    "enumerated) "
    "(operators/similarity.jaccard_of_shingles over CC labels).",
)
def q181_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.graph import connected_components
    from etl_guiacores_spark.operators.similarity import word_shingles
    from etl_guiacores_spark.operators.textstats import tokens

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    docs = d.select("doc_id", "text")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text")
    labels = connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    )
    sh = d.select(
        "doc_id",
        F.when(
            F.size(tokens(F.col("text"))) >= 3, word_shingles(F.col("text"))
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("sh"),
    )
    small = (
        labels.groupBy("component")
        .count()
        .filter((F.col("count") >= 2) & (F.col("count") <= 64))
        .select("component")
    )
    m = (
        labels.select(F.col("id").alias("doc_id"), "component")
        .join(F.broadcast(small), "component")
        .join(sh, "doc_id")
    )
    a = m.select(
        "component", F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = m.select(
        "component", F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    pairs2 = a.join(b, "component").filter(F.col("id_b") > F.col("id_a"))
    j = F.when(
        F.size(F.array_union("sh_a", "sh_b")) == 0, F.lit(0).cast("long")
    ).otherwise(
        F.expr(
            "CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT) * 1000000 "
            "div size(array_union(sh_a, sh_b))"
        )
    )
    return (
        pairs2.withColumn("j", j)
        .groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min("j").cast("long").alias("min_jacc_ppm"),
            F.expr("CAST(sum(j) div count(*) AS BIGINT)").alias(
                "mean_jacc_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q182: near-dup threshold sweep (the tuning curve before committing)
# ---------------------------------------------------------------------------

@register(
    "q182_threshold_sweep",
    _CC_REACH_CTE.replace(
        ",\n    reach AS (\n        SELECT doc_id AS id, doc_id AS lbl FROM shingled\n        UNION\n        -- edges is MATERIALIZED so the shingle->sig->band chain is not\n        -- re-evaluated every recursion round (was ~12s fixed cost, now\n        -- ~0.25s at sf0.01); r.lbl < e.dst prunes the closure to labels\n        -- that can still lower a node's minimum — sound because the\n        -- component minimum m is < every other member id, so m always\n        -- propagates, and MIN(lbl) ignores the pruned larger labels.\n        SELECT e.dst AS id, r.lbl\n        FROM reach r JOIN edges e ON e.src = r.id\n        WHERE r.lbl < e.dst\n    )\n    ", ""
    )
    + """,
    scored AS (
        SELECT v.id_a, v.id_b,
               CASE WHEN LEN(list_distinct(list_concat(a.sh, b.sh))) = 0
                    THEN 0
                    ELSE CAST(LEN(list_intersect(a.sh, b.sh)) AS BIGINT)
                         * 1000000
                         // LEN(list_distinct(list_concat(a.sh, b.sh)))
                    END AS j
        FROM verified v
        JOIN shingled a ON a.doc_id = v.id_a
        JOIN shingled b ON b.doc_id = v.id_b
    ),
    th AS (SELECT unnest([700000, 800000, 900000]) AS threshold_ppm)
    SELECT t.threshold_ppm,
           CAST(COUNT(s.j) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN s.j IS NOT NULL
                                    THEN s.id_b END) AS BIGINT)
               AS n_docs_dropped
    FROM th t LEFT JOIN scored s ON s.j >= t.threshold_ppm
    GROUP BY t.threshold_ppm
    """,
    doc="Near-dup threshold tuning curve: the LSH candidate pairs "
    "exact-verified once (integer-ppm shingle Jaccard), then counted "
    "against thresholds 0.7/0.8/0.9 — surviving pair count and how "
    "many documents the greedy drop-higher-id rule would remove at "
    "each setting. This is the sweep a pipeline owner reads before "
    "committing near_dup_jaccard: one verify pass, three CASE "
    "buckets — the expensive leg (LSH + verify) is NOT re-run per "
    "threshold, at 100 TB the difference between one corpus pass and "
    "three. Thresholds join as a 3-row broadcast spine so zero-"
    "survivor settings still report (n_pairs 0) "
    "(operators/similarity.lsh_candidate_pairs + jaccard verify).",
)
def q182_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_guiacores_spark.operators.similarity import word_shingles
    from etl_guiacores_spark.operators.textstats import tokens

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    docs = d.select("doc_id", "text")
    cand = lsh_candidate_pairs(docs, "doc_id", "text")
    sh = d.select(
        "doc_id",
        F.when(
            F.size(tokens(F.col("text"))) >= 3, word_shingles(F.col("text"))
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("sh"),
    )
    scored = (
        cand.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.when(
                F.size(F.array_union("sh_a", "sh_b")) == 0,
                F.lit(0).cast("long"),
            )
            .otherwise(
                F.expr(
                    "CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT) "
                    "* 1000000 div size(array_union(sh_a, sh_b))"
                )
            )
            .alias("j"),
        )
    )
    th = spark.range(1).select(
        F.explode(
            F.array(F.lit(700_000), F.lit(800_000), F.lit(900_000))
        ).alias("threshold_ppm")
    )
    joined = F.broadcast(th).join(
        scored, scored["j"] >= th["threshold_ppm"], "left"
    )
    return joined.groupBy("threshold_ppm").agg(
        F.count("j").cast("long").alias("n_pairs"),
        F.countDistinct(
            F.when(F.col("j").isNotNull(), F.col("id_b"))
        )
        .cast("long")
        .alias("n_docs_dropped"),
    )
