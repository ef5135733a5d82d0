"""Text-analysis operators for large-scale document pipelines.

All pure Column expressions (JVM-side, codegen-friendly): token
counting, quality scoring, language-ID heuristic, fingerprinting.
These generalize the reference's text cleaning surface
(reference: src/transformers/business_transformer.py:25-29) to the
training-data-pipeline operators the engine adds per BASELINE.json's
north star.

Scale: everything here is embarrassingly parallel per row — no
shuffle, no UDF, no driver collect; at 100 TB these run at scan
speed inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: small deterministic marker vocabularies for the language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "a"),
    "es": ("el", "la", "de", "que", "los", "una"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "une"),
}

#: explicit punctuation class — identical bytes in Java and RE2 regex
PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}-]"

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty/NULL text -> empty array."""
    t = F.split(F.trim(col), r"\s+")
    return F.when(F.length(F.trim(col)) > 0, t).otherwise(F.array().cast("array<string>"))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def punct_count(col: Column) -> Column:
    return F.coalesce(F.regexp_count(col, F.lit(PUNCT_CLASS)), F.lit(0))


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are (lowercased) stopwords; NULL when empty."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks))


def mean_token_length(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks))


def _quality_from_counters(
    n_tok: Column, stop_hits: Column, punct: Column, n_chars: Column
) -> Column:
    """The quality formula over its four counters — the ONE place the
    thresholds live, shared by the per-row :func:`quality_score` and
    the chunk-merged :func:`prechunked_text_scores` (a threshold tuned
    in one copy would otherwise silently diverge the other)."""
    len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    sw = F.coalesce(F.when(n_tok > 0, stop_hits / n_tok), F.lit(0.0))
    sw_ok = F.when((sw >= 0.01) & (sw <= 0.6), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return (len_ok + punct_ok + sw_ok) / 3.0


def _pick_best_lang(counts: dict) -> Column:
    """Fixed-priority argmax over per-language marker-hit counts —
    shared by :func:`lang_id` and :func:`prechunked_text_scores` so the
    tie-break order lives once. Priority = ``counts`` insertion order
    (both callers build it from LANG_MARKERS, whose insertion order —
    en, es, de, fr — IS the documented tie-break); iterating the dict
    rather than a hardcoded tuple means a language added to
    LANG_MARKERS participates automatically instead of being counted,
    shuffled, and silently ignored (round-10 review finding)."""
    best_lang = F.lit("und")
    best_count = F.lit(0)
    for lang, c in counts.items():
        better = c > best_count
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_count = F.when(better, c).otherwise(best_count)
    return best_lang


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation
    sanity + stopword presence. Deterministic arithmetic only, so an
    SQL oracle can reproduce it bit-for-bit.
    """
    toks = tokens(col)
    return _quality_from_counters(
        n_tok=F.size(toks),
        stop_hits=F.size(
            F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
        ),
        punct=punct_count(col),
        n_chars=F.length(col),
    )


def gopher_quality(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 80,
):
    """Gopher-style (Rae et al.) document quality rules: token-count
    band, mean-token-length band, alphabetic-word fraction, distinct
    stopword presence — the pre-tokenizer curation gate a pretraining
    pipeline applies to every document.

    The default token band (20..80) is scaled to this repo's synthetic
    fixtures; the published Gopher rule is 50..100,000 words — pass
    ``min_tokens``/``max_tokens`` to match a real corpus.

    Pure per-row Column arithmetic inside whole-stage codegen: no
    shuffle, no UDF — at 100 TB this runs at scan speed and is the
    cheapest filter, so it goes FIRST in the curation DAG (before any
    dedup shuffle touches bytes that were going to be dropped anyway).

    The pass decision compares the ROUNDED metrics so an SQL oracle
    lands on the identical boolean at band boundaries (ulp-drift in an
    unrounded mean could flip `passes` between engines).
    """
    toks = tokens(F.col(text_col))
    staged = docs.withColumn("__toks", toks)
    t = F.col("__toks")
    # long counters end-to-end: a >2^31-char document — exactly the
    # giant-doc tail the chunked twin is for — must gate, not throw
    # CAST_OVERFLOW under ANSI; both twins widen together so parity
    # holds
    counters = staged.select(
        F.col(id_col),
        F.size(t).cast("long").alias("__n"),
        F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("__total_len"),
        F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
        .cast("long")
        .alias("__alpha"),
        F.size(
            F.array_distinct(
                F.filter(
                    F.transform(t, lambda x: F.lower(x)),
                    lambda x: x.isin(*STOPWORDS),
                )
            )
        ).alias("__stops"),
    )
    return _gopher_report(counters, id_col, min_tokens, max_tokens)


def _gopher_report(
    counters, id_col: str, min_tokens: int, max_tokens: int
):
    """Metrics + pass flag from the four gopher counters — the one
    copy of the bands, shared by per-row :func:`gopher_quality` and
    chunk-merged :func:`prechunked_gopher_quality`. ``counters``:
    (id_col, __n, __total_len, __alpha, __stops)."""
    n = F.col("__n")
    m = counters.select(
        F.col(id_col),
        n.alias("n_tokens"),
        # guard n=0: an empty/whitespace-only document must FAIL the
        # gate (NULL ratios, passes=0), not abort the job — under ANSI
        # (Spark 4 default) an unguarded /0 throws DIVIDE_BY_ZERO
        F.round(
            F.when(n > 0, F.col("__total_len").cast("double") / n), 6
        ).alias("mean_token_len"),
        F.round(F.when(n > 0, F.col("__alpha").cast("double") / n), 6).alias(
            "alpha_frac"
        ),
        F.col("__stops").alias("n_stop_distinct"),
    )
    passes = (
        F.col("n_tokens").between(min_tokens, max_tokens)
        & F.col("mean_token_len").between(3.0, 10.0)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("n_stop_distinct") >= 2)
    )
    # n=0 makes the band check false, so false & NULL = false — but
    # cast NULL-safety explicitly anyway: the gate's contract is 0/1
    return m.withColumn("passes", F.coalesce(passes.cast("int"), F.lit(0)))


def _stopword_bitmask(low: Column) -> Column:
    """Per-chunk distinct-stopword PRESENCE bitmask over a lowercased
    token-array column: one bit per STOPWORDS entry, merged across
    chunks with ``bit_or`` then counted with ``bit_count`` — exact
    distinct count from constant-size state, no collect_set (used by
    :func:`prechunked_gopher_quality`)."""
    # the mask packs one bit per stopword into a single long; bit 63
    # is the sign bit and bit 64+ would alias, silently corrupting
    # n_stop_distinct — fail loud if the vocabulary grows
    if len(STOPWORDS) > 63:
        raise ValueError(
            "stopword bitmask: holds at most 63 words, got "
            f"{len(STOPWORDS)} — switch to multiple mask columns "
            "before extending STOPWORDS"
        )

    def _has(word: str):
        # bind via closure, not a default arg — pyspark reads the
        # lambda's arity to build the HOF, so an extra param breaks it
        return lambda t: t == F.lit(word)

    stop_mask = None
    for i, s in enumerate(STOPWORDS):
        bit = F.when(F.exists(low, _has(s)), F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        stop_mask = bit if stop_mask is None else stop_mask + bit
    return stop_mask


def prechunked_gopher_quality(
    chunks,
    id_col: str = "doc_id",
    pos_col: str = "chunk_pos",
    chunk_col: str = "chunk_text",
    min_tokens: int = 20,
    max_tokens: int = 80,
    validate: bool = True,
):
    """Gopher gate from a PRE-CHUNKED bronze table
    (chunking.prechunk_documents) — same counters and bands as
    :func:`gopher_quality`, but the scan reads balanced chunk rows
    instead of whole documents, so no task ever tokenizes a fat
    document.

    Bronze chunks split only between tokens, so the token-side sums
    (count, total length, alpha count) merge exactly, and the
    distinct-stopword count merges as the shared presence BITMASK.
    Output row-for-row identical to the per-row twin (parity-tested).
    ``validate`` runs the chunk contract check; the pipeline passes
    False because it wrote the bronze table itself this run."""
    from etl_guiacores_spark.operators.chunking import (
        prechunked_tokens,
        require_chunk_contract,
    )

    if validate:
        require_chunk_contract(chunks, id_col, pos_col,
                               "prechunked_gopher_quality")
    staged = chunks.select(
        id_col,
        # the exact per-chunk tokens() slice (incl. the doc-edge
        # phantom-empty-token quirk) — see chunking.prechunked_tokens
        prechunked_tokens(F.col(chunk_col), F.col(pos_col)).alias(
            "__ctoks"
        ),
    ).withColumn(
        "__low", F.transform(F.col("__ctoks"), lambda t: F.lower(t))
    )
    c = F.col("__ctoks")
    stop_mask = _stopword_bitmask(F.col("__low"))
    counters = staged.groupBy(id_col).agg(
        F.sum(F.size(c)).alias("__n"),
        F.sum(
            F.aggregate(
                c, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            )
        ).alias("__total_len"),
        F.sum(F.size(F.filter(c, lambda x: x.rlike("[A-Za-z]")))).alias(
            "__alpha"
        ),
        F.bit_count(F.bit_or(stop_mask)).cast("int").alias("__stops"),
    )
    return _gopher_report(counters, id_col, min_tokens, max_tokens)


def lang_id(col: Column) -> Column:
    """N-gram/marker-word language heuristic.

    CJK characters dominate -> 'zh'; otherwise the marker vocabulary
    with the most token hits wins (ties broken by fixed language
    order); no hits -> 'und'.
    """

    def pick(toks: Column) -> Column:
        # toks is a lambda variable — tokenization runs once, not once
        # per marker vocabulary
        counts = {
            lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
            for lang, markers in LANG_MARKERS.items()
        }
        return _pick_best_lang(counts)

    lowered = F.transform(tokens(col), lambda t: F.lower(t))
    best = F.element_at(F.transform(F.array(lowered), pick), 1)
    cjk = F.coalesce(F.regexp_count(col, F.lit(r"[\x{4e00}-\x{9fff}]")), F.lit(0))
    return F.when(cjk > 0, F.lit("zh")).otherwise(best)


def prechunked_text_scores(
    chunks,
    id_col: str = "doc_id",
    pos_col: str = "chunk_pos",
    chunk_col: str = "chunk_text",
    validate: bool = True,
):
    """(quality, pred_lang) per document from a PRE-CHUNKED bronze
    table (chunking.prechunk_documents: whitespace-preserving chunk
    substrings that concatenate back to the document). Every task
    scans chunk-sized rows; no task ever tokenizes a whole document.

    Output is BIT-IDENTICAL to :func:`quality_score` / :func:`lang_id`:
    the bronze chunks preserve whitespace (char counters — length,
    punct, CJK — sum exactly over the substring partition) and split
    only between tokens (token counters — stopword/marker hits — sum
    exactly over the token partition); the merged sums feed the same
    final arithmetic (:func:`_quality_from_counters`,
    :func:`_pick_best_lang`). One exploded scan + ONE aggregation.

    ``validate`` runs :func:`chunking.require_chunk_contract` (ids
    non-null, positions 0..k-1); the pipeline passes False because it
    wrote the bronze table itself this run.

    Reference analog: the ingest-time chunk handoff at
    /root/reference/src/main.py:46-57 (the reference splits the id
    range into chunks once, then every worker consumes bounded
    chunks; this is the same move applied to document bytes).
    """
    from etl_guiacores_spark.operators.chunking import (
        prechunked_tokens,
        require_chunk_contract,
    )

    if validate:
        require_chunk_contract(chunks, id_col, pos_col,
                               "prechunked_text_scores")
    staged = chunks.select(
        id_col,
        F.coalesce(F.col(chunk_col), F.lit("")).alias("__ctext"),
        # the exact per-chunk tokens() slice (incl. the doc-edge
        # phantom-empty-token quirk) — see chunking.prechunked_tokens
        prechunked_tokens(F.col(chunk_col), F.col(pos_col)).alias(
            "__ctoks"
        ),
    )
    staged = staged.withColumn(
        "__low", F.transform(F.col("__ctoks"), lambda t: F.lower(t))
    )
    low = F.col("__low")
    counters = staged.groupBy(id_col).agg(
        F.sum(F.size("__ctoks")).cast("long").alias("__n_tok"),
        F.sum(F.size(F.filter(low, lambda t: t.isin(*STOPWORDS))))
        .cast("long")
        .alias("__stop_hits"),
        *[
            F.sum(F.size(F.filter(low, lambda t: t.isin(*markers))))
            .cast("long")
            .alias(f"__hits_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
        F.sum(F.length("__ctext")).cast("long").alias("__n_chars"),
        F.sum(punct_count(F.col("__ctext"))).cast("long").alias("__punct"),
        F.sum(
            F.coalesce(
                F.regexp_count("__ctext", F.lit(r"[\x{4e00}-\x{9fff}]")),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("__cjk"),
    )
    quality = _quality_from_counters(
        n_tok=F.col("__n_tok"),
        stop_hits=F.col("__stop_hits"),
        punct=F.col("__punct"),
        n_chars=F.col("__n_chars"),
    )
    best_lang = _pick_best_lang(
        {lang: F.col(f"__hits_{lang}") for lang in LANG_MARKERS}
    )
    return counters.select(
        id_col,
        quality.alias("quality"),
        F.when(F.col("__cjk") > 0, F.lit("zh"))
        .otherwise(best_lang)
        .alias("pred_lang"),
    )


def normalize_for_fingerprint(col: Column) -> Column:
    """Canonical text form for dedup fingerprints: lowercase, strip
    punctuation, collapse whitespace."""
    no_punct = F.regexp_replace(F.lower(col), PUNCT_CLASS, " ")
    return F.trim(F.regexp_replace(no_punct, r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """MD5 content fingerprint over the normalized text (exact-dedup key)."""
    return F.md5(normalize_for_fingerprint(col))


def kgrams(toks: Column, k: int) -> Column:
    """Order-sensitive token k-grams (space-joined), with multiplicity.
    Fewer than ``k`` tokens -> empty array. ``k`` is a Python literal so
    the element_at chain unrolls at plan-build time (no nested HOF).

    ``toks`` is re-bound as a lambda variable before any element_at
    touches it: interpreted HOFs have no CSE, so referencing the raw
    split() expression k times per window would re-tokenize the whole
    document per element access — O(n^2 * k) instead of O(n * k)
    (measured 15x+ on sf0.1 documents).
    """

    def build(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (k - 1))
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)]),
        )
        return F.when(F.size(t) >= k, grams).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(toks), build), 1)


def gram_key(gram: Column) -> Column:
    """The span family's shared n-gram grouping/join key: the 16-byte
    BINARY md5 digest (``unhex(md5(...))``) — bijective with the md5
    hex string the operators previously carried, so every groupBy /
    join / semi-join over it produces identical groups, at HALF the
    shuffled key bytes (guide §2.3 narrower types; the gram table
    crosses up to three exchanges keyed on this column in
    repeated_spans). One definition shared by the per-row, pre-chunked
    and decontamination gram builders so a mixed-builder join
    (cross_span_contamination's train-vs-eval sides) can never see two
    encodings."""
    return F.unhex(F.md5(gram))


def gram_hash_u32(gram: Column) -> Column:
    """Engine-portable uniform hash of a gram string: first 8 md5 hex
    digits as a u32 (same family the sampling + MinHash operators use).
    At 100 TB swap for xxhash64 — the winnowing math is hash-agnostic."""
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")


def winnow_fingerprints(
    docs,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Winnowing document fingerprints (Schleimer et al., MOSS): hash
    every token ``k``-gram, slide a ``w``-wide window over the hash
    sequence, keep each window's minimum, distinct per document.

    Guarantees: any shared run of ``k + w - 1`` tokens between two
    documents yields at least one shared fingerprint, so overlap
    detection is an equi-join on (fingerprint) — never a substring
    scan. Output: one row per distinct (id, fingerprint).

    Scale: per-row array folds only (scan speed, no shuffle here); the
    downstream overlap join shuffles (fingerprint, id) pairs — a few
    per document, not the text. Stages (toks -> grams -> hashes) are
    materialized as columns because interpreted HOFs have no CSE.
    """
    staged = (
        docs.withColumn("__toks", tokens(F.col(text_col)))
        .withColumn("__grams", kgrams(F.col("__toks"), k))
        .withColumn("__hashes", F.transform(F.col("__grams"), gram_hash_u32))
    )
    h = F.col("__hashes")
    widx = F.sequence(F.lit(1), F.size(h) - (w - 1))
    mins = F.transform(widx, lambda j: F.array_min(F.slice(h, j, w)))
    fps = F.when(F.size(h) >= w, mins).otherwise(F.array().cast("array<long>"))
    return (
        staged.select(id_col, F.explode(F.array_distinct(fps)).alias("fingerprint"))
        .distinct()
    )


def winnow_overlap_pairs(
    docs,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_postings: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Substring-overlap candidate pairs from winnowing fingerprints:
    documents sharing >= ``min_shared`` fingerprints share (with the
    winnowing guarantee) long literal token runs — the scalable stand-in
    for suffix-array substring dedup (Lee et al.).

    ``max_postings`` drops fingerprints appearing in more than that
    many documents (boilerplate/stop-phrases): they generate
    posting-list-squared pair rows while carrying no dedup signal —
    the same cap the decontamination posting-list join uses. With the
    cap, the pair join's output is bounded by sum(posting^2) over
    rare fingerprints, which scales with true overlap density, not
    corpus size; hot residuals are AQE skew-join territory.
    """
    fps = winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
    nd = fps.groupBy("fingerprint").agg(F.count("*").alias("__nd"))
    kept = fps.join(nd.filter(F.col("__nd") <= max_postings), "fingerprint").drop(
        "__nd"
    )
    a = kept.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = kept.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --- boilerplate removal (HTML -> training text) ---------------------------

#: entity decodes applied after tag stripping, in order (amp LAST so
#: double-encoded text does not re-decode)
_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def main_text_lines(col: Column, min_line_tokens: int = 4) -> Column:
    """C4-style main-content extraction from raw HTML: the bridge from
    crawled pages to training text (Raffel et al. 2020 applied the
    same class of line-level heuristics to build C4).

    Pure column expressions, scan-speed: drop <script>/<style> blocks
    (tag-insensitive, dotall), convert block-closing tags to newlines
    so structure survives tag stripping, strip every remaining tag,
    decode the common entities, then keep only lines with at least
    ``min_line_tokens`` whitespace tokens — short nav/footer/button
    chrome dies, prose survives. Regexes stay in the RE2-compatible
    subset so the DuckDB oracle twin runs the identical patterns.

    Deliberately heuristic: a readability-grade extractor (DOM scoring,
    link density per subtree) belongs in the mapInPandas parse seam
    next to the reference's structured parser; this is the cheap
    fleet-wide pass that handles the overwhelming common case.
    """
    # separate script/style passes: a combined <(script|style)>...</\1>
    # needs a backreference, which RE2 (DuckDB) does not support
    t = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?i)</(p|div|li|h[1-6]|tr|section|article)>|<br[^>]*>", "\n")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    lines = F.split(t, r"\n")
    kept = F.filter(
        lines,
        lambda ln: (F.length(F.trim(ln)) > 0)
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_line_tokens),
    )
    return F.transform(kept, lambda ln: F.regexp_replace(F.trim(ln), r"\s+", " "))


def extract_main_text(col: Column, min_line_tokens: int = 4) -> Column:
    """``main_text_lines`` joined back into one newline-separated
    string; an all-chrome page yields '' (empty array joins empty —
    count lines on the ARRAY, not by re-splitting the join, which
    turns zero lines into one empty line)."""
    return F.array_join(main_text_lines(col, min_line_tokens), "\n")


def skipgram_pairs(toks: Column, window: int) -> Column:
    """Ordered (left, right) token pairs with gap <= ``window`` — the
    skip-gram neighborhood every collocation / word-association
    estimator consumes. Pure column HOF (no self-join on position, no
    extra shuffle): for each position i the inner transform emits
    (t[i], t[i+d]) for d in 1..min(window, len-1-i). ``toks`` is
    re-bound as a lambda variable first (interpreted HOFs have no CSE
    — the kgrams lesson: referencing the raw split() k times per
    window re-tokenizes the document per access).
    """

    def build(t: Column) -> Column:
        pairs = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(window), F.size(t) - i)
                    ),
                    lambda d: F.struct(
                        F.element_at(t, i).alias("w1"),
                        F.element_at(t, i + d).alias("w2"),
                    ),
                ),
            )
        )
        empty = F.array().cast("array<struct<w1:string,w2:string>>")
        return F.when(F.size(t) >= 2, pairs).otherwise(empty)

    return F.element_at(F.transform(F.array(toks), build), 1)


def pmi_collocations(
    docs: "DataFrame",
    window: int = 2,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """PMI-style collocation scores in EXACT integer arithmetic — the
    phrase-mining / tokenizer-vocabulary signal (Mikolov et al.'s
    word2vec phrase pass scores pairs the same way). For each ordered
    pair within ``window``:

        ratio_ppm = 1e6 * p(w1,w2) / (p(w1) * p(w2))
                  = (c_pair * N * N * 1e6) div (P * c_w1 * c_w2)

    with N = total tokens, P = total pairs — a pure integer ratio
    (PMI = log2(ratio); the log is monotone, so ranking/thresholding
    on the exact ratio avoids float divergence entirely; ppm > 1e6
    means positive association). The numerator needs ~c*N^2*1e6
    headroom — far past BIGINT at corpus scale — so the interior runs
    in DECIMAL(38,0) (the BM25 discipline), good to N ~ 1e12 tokens.

    Plan: pair explode (one column HOF, no position self-join) ->
    one pair-key shuffle with map-side combine; the two 1-row totals
    broadcast, while the unigram-count joins stay size-ADAPTIVE equi-
    joins (a whitespace vocab at 100 TB runs 1e8+ distinct tokens —
    forcing a broadcast there would OOM the driver; AQE broadcasts it
    exactly when it is actually small). Zipf-hot pairs are AQE skew
    territory, same as q71.

    Returns (w1, w2, pair_count, ratio_ppm), pair_count >= min_count.
    """
    base = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") > 0)
    toks_tbl = base.select(F.explode("__toks").alias("__tok"))
    uni = toks_tbl.groupBy("__tok").agg(
        F.count("*").cast("long").alias("__c")
    )
    n_tot = toks_tbl.agg(F.count("*").cast("long").alias("__n"))
    pair_tbl = base.select(
        F.explode(skipgram_pairs(F.col("__toks"), window)).alias("__p")
    ).select("__p.w1", "__p.w2")
    p_tot = pair_tbl.agg(F.count("*").cast("long").alias("__pt"))
    pc = (
        pair_tbl.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    return (
        pc.join(
            uni.select(F.col("__tok").alias("w1"),
                       F.col("__c").alias("__c1")),
            "w1",
        )
        .join(
            uni.select(F.col("__tok").alias("w2"),
                       F.col("__c").alias("__c2")),
            "w2",
        )
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(p_tot))
        .withColumn(
            "ratio_ppm",
            F.expr(
                "CAST(CAST(pair_count AS DECIMAL(38,0)) * __n * __n "
                "* 1000000 div (CAST(__pt AS DECIMAL(38,0)) * __c1 "
                "* __c2) AS BIGINT)"
            ),
        )
        .select("w1", "w2", "pair_count", "ratio_ppm")
    )


def vocab_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard overlap between document groups
    (sources, snapshots, shards) — the corpus-comparison diagnostic
    behind "is this new source actually adding vocabulary or
    repeating what we have": for each unordered group pair (a < b),

        jaccard_ppm = PPM * |V_a intersect V_b|
                      div (|V_a| + |V_b| - |V_a intersect V_b|)

    over the groups' distinct lowercased token sets. Exact integer
    ppm (set sizes are counts — plain BIGINT suffices).

    Scale shape: ONE corpus pass — explode to (group, token), then
    aggregate per TOKEN into its sorted distinct group set
    (``collect_set`` partial-aggregates map-side, so Zipf-hot tokens
    shuffle at most |groups| values per map partition — the same
    dedup the old separate DISTINCT shuffle bought, one exchange
    earlier). Each token then emits its group PAIRS (the
    intersection counts) and group SINGLETONS (the vocabulary sizes)
    into one aggregation over a table bounded by
    C(|groups|, 2) + |groups| rows, which is checkpointed (the
    bounded-barrier pattern of cohen_kappa/confusion_metrics) and
    feeds every downstream relation — the old shape re-executed the
    tokenize+distinct subtree FOUR times (two self-join sides + two
    size joins; Catalyst does not CSE across join sides). Output is
    bounded by C(|groups|, 2).

    Lifecycle note: construction runs one eager Spark job (the
    bounded stats barrier); its checkpointed blocks free when the
    returned DataFrame is garbage-collected, not on
    ``spark.catalog.clearCache()``.

    Returns (group_a, group_b, vocab_a, vocab_b, inter, jaccard_ppm).
    """
    g_type = docs.schema[group_col].dataType
    gsets = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.array_sort(F.collect_set("g")).alias("gs"))
    )
    # per token: struct(ga, gb) for every ordered pair ga < gb (the
    # array_sort makes slice-ahead pairs exactly the a < b pairs of
    # the old self-join), plus struct(g, NULL) singletons for sizes
    pair_structs = F.flatten(
        F.transform(
            F.col("gs"),
            lambda a, i: F.transform(
                F.slice(F.col("gs"), i + 2, F.size(F.col("gs"))),
                lambda b: F.struct(a.alias("ga"), b.alias("gb")),
            ),
        )
    )
    single_structs = F.transform(
        F.col("gs"),
        lambda g: F.struct(
            g.alias("ga"), F.lit(None).cast(g_type).alias("gb")
        ),
    )
    stats = (
        gsets.select(
            F.explode(F.concat(pair_structs, single_structs)).alias("s")
        )
        .groupBy(F.col("s.ga").alias("ga"), F.col("s.gb").alias("gb"))
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    sizes = stats.filter(F.col("gb").isNull()).select(
        F.col("ga").alias("g"), F.col("n").alias("vs")
    )
    inter = stats.filter(F.col("gb").isNotNull()).select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.col("n").alias("inter"),
    )
    return (
        inter.join(
            sizes.withColumnRenamed("g", "group_a")
            .withColumnRenamed("vs", "vocab_a"),
            "group_a",
        )
        .join(
            sizes.withColumnRenamed("g", "group_b")
            .withColumnRenamed("vs", "vocab_b"),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "vocab_a",
            "vocab_b",
            "inter",
            F.expr(
                "CAST(1000000 * inter div (vocab_a + vocab_b - inter) "
                "AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
