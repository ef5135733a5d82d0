"""Document chunking + vocabulary operators for training-data prep.

Chunking: split each document into token-bounded windows with overlap
(the standard pre-tokenization step before embedding/training). The
window arithmetic happens per row with array expressions, then ONE
explode materializes chunk rows — no UDF, no shuffle until the caller
aggregates. At 100 TB this is scan-speed work whose output row count
(docs x chunks) is the only cost.

Vocabulary: corpus word frequencies -> ranked vocab. One explode +
one groupBy (the shuffle is on the token, high-cardinality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def chunk_spans(col: Column, chunk_tokens: int, overlap: int = 0) -> Column:
    """array<struct<chunk_idx,int start, text>> of token windows.

    Stride = chunk_tokens - overlap; the last partial window is kept
    (matches the usual training-data convention).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    # blank text -> empty token array (split of "" yields [""] which
    # would otherwise produce one empty chunk)
    raw = F.split(F.trim(col), r"\s+")
    toks = F.when(F.length(F.trim(col)) > 0, raw).otherwise(
        F.array().cast("array<string>")
    )

    def build(t: Column) -> Column:
        n = F.size(t)
        # stop once a window's fresh (non-overlap) region is exhausted:
        # ceil((n - overlap) / stride) windows cover every token with no
        # fully-redundant tail window
        n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
            F.ceil(F.greatest(n - F.lit(overlap), F.lit(1)) / F.lit(stride)).cast("int")
        )
        idx = F.sequence(F.lit(0), n_chunks - 1)
        mk = lambda i: F.struct(
            i.alias("chunk_idx"),
            (i * stride + 1).alias("start_token"),
            F.array_join(F.slice(t, i * stride + 1, chunk_tokens), " ").alias("chunk_text"),
        )
        return F.when(n_chunks > 0, F.transform(idx, mk)).otherwise(
            F.array().cast("array<struct<chunk_idx:int,start_token:int,chunk_text:string>>")
        )

    return F.element_at(F.transform(F.array(toks), build), 1)


def prechunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 4096,
    repartition_output: bool = True,
) -> DataFrame:
    """The ingest-time pre-chunked BRONZE layout: one row per
    (document, chunk) — ``(id_col, chunk_pos, chunk_text)`` — written
    once so every chunked consumer (the ``prechunked_*`` operators)
    reads balanced chunk rows instead of tokenizing whole documents.
    A fat document's tokenization is paid once, at the bronze write;
    every later stage scans chunk-sized rows, so per-task work is
    bounded by the chunk size, not the document length.

    The chunk construction is WHITESPACE-PRESERVING and exact:

    - ``chunk_text`` values are substrings of the original text that
      CONCATENATE (in ``chunk_pos`` order) back to it byte-for-byte,
      so char-side counters (length, punctuation, CJK) sum exactly;
    - splits happen only BETWEEN whitespace-delimited tokens: each
      chunk holds up to ``chunk_tokens`` leading-whitespace+token
      pieces (``\\s*\\S+`` — inter-token whitespace rides at the
      START of the following chunk) and the document's trailing
      whitespace run stays attached to the LAST chunk. This placement
      makes :func:`prechunked_tokens` reproduce the document's
      ``tokens()`` array EXACTLY as per-chunk slices — including the
      phantom empty tokens the space-only ``trim`` leaves at document
      edges that begin/end with ``\\t``/``\\n`` (split-semantics
      parity; consumers would otherwise drift from the per-row
      operators on such documents);
    - every document yields >= 1 row (``chunk_pos`` 0..k-1,
      contiguous); NULL text yields one row with NULL ``chunk_text``
      so the merge layer recovers every input row.

    The giant-single-token document (no whitespace at all) remains
    one chunk; byte-range splitting below token granularity would
    change what a token is.

    Output is hash-repartitioned on (id, chunk_pos) so a parquet
    write of it spreads a fat document's chunks across files — that
    balanced layout IS the point of the bronze table.
    ``repartition_output=False`` skips that exchange for callers that
    consume the chunk relation IN-PLAN instead of writing it (the
    row set is identical either way; the shuffle exists purely for
    write-time file layout).
    """
    if chunk_tokens < 1:
        raise ValueError(
            f"prechunk_documents: chunk_tokens must be >= 1, got "
            f"{chunk_tokens}"
        )
    text = F.col(text_col)
    # each piece = one maximal whitespace run plus the following \S+
    # token (leading-attached), so concat(pieces) + trailing run ==
    # text exactly, and every chunk ENDS on a token character (except
    # the last, which carries the document's trailing whitespace) —
    # the placement prechunked_tokens' phantom-parity relies on
    pieces = F.regexp_extract_all(text, F.lit(r"\s*\S+"), 0)
    tail = F.regexp_extract(text, r"\s*$", 0)

    def build(p: Column) -> Column:
        n = F.size(p)
        n_chunks = F.when(n <= 0, F.lit(1)).otherwise(
            F.ceil(n / F.lit(chunk_tokens)).cast("int")
        )
        mk = lambda i: F.concat(
            F.array_join(F.slice(p, i * chunk_tokens + 1, chunk_tokens), ""),
            F.when(i == n_chunks - 1, tail).otherwise(F.lit("")),
        )
        return F.transform(F.sequence(F.lit(0), n_chunks - 1), mk)

    arr = F.element_at(F.transform(F.array(pieces), build), 1)
    # NULL text -> one NULL chunk (pos 0), preserving the row
    arr = F.when(
        text.isNull(), F.array(F.lit(None).cast("string"))
    ).otherwise(arr)
    # tok_off: the chunk's GLOBAL token offset — the cumulative
    # prechunked_tokens size of all preceding chunks — written at
    # build time where it is a closed form, so positional consumers
    # (the span family) never shuffle the chunk-text table just to
    # compute a running sum. Every non-final chunk holds exactly
    # ``chunk_tokens`` pieces, so off_i = i * chunk_tokens, plus 1
    # for every chunk after the first when the document carries a
    # LEADING phantom empty token (tokens() leaves one when the
    # leading whitespace run survives the space-only trim, i.e.
    # contains a non-space character; trailing phantoms live on the
    # final chunk and precede nothing). Pinned against the
    # per-chunk prechunked_tokens sizes in tests.
    lead_ph = (
        F.length(F.trim(F.regexp_extract(text, r"^\s*", 0))) > 0
    ).cast("long")
    out = docs.select(
        id_col,
        F.coalesce(lead_ph, F.lit(0)).alias("__lp"),
        F.posexplode(arr).alias("chunk_pos", "chunk_text"),
    )
    out = out.select(
        id_col,
        "chunk_pos",
        "chunk_text",
        F.when(F.col("chunk_pos") == 0, F.lit(0))
        .otherwise(
            F.col("chunk_pos") * F.lit(chunk_tokens) + F.col("__lp")
        )
        .cast("long")
        .alias("tok_off"),
    )
    if repartition_output:
        out = out.repartition(F.col(id_col), F.col("chunk_pos"))
    return out


def prechunked_tokens(chunk_col: Column, pos_col: Column) -> Column:
    """The EXACT per-chunk slice of the document's ``tokens()`` array
    for a bronze chunk written by :func:`prechunk_documents` —
    concatenating these arrays in ``chunk_pos`` order reproduces
    ``textstats.tokens(document)`` element-for-element, INCLUDING the
    phantom empty tokens space-only ``trim`` leaves when the document
    begins/ends with non-space whitespace (``\\t``/``\\n``).

    How the placement makes this work: chunk 0 starts with the
    document's own leading bytes (leading phantom reproduces
    chunk-locally), non-first chunks start with the inter-token
    whitespace run (stripped here — the document has no phantom at an
    interior boundary), non-final chunks end on a token character (no
    spurious trailing phantom), and the final chunk carries the
    document's trailing run (trailing phantom reproduces
    chunk-locally). Every prechunked consumer — scores, gopher,
    minhash shingling — derives its token view from THIS helper so
    the quirk parity lives in one place."""
    from etl_guiacores_spark.operators.textstats import tokens

    return F.when(pos_col == 0, tokens(chunk_col)).otherwise(
        tokens(F.regexp_replace(chunk_col, r"^\s+", ""))
    )


def require_chunk_contract(
    chunks: DataFrame,
    id_col: str,
    pos_col: str,
    op_name: str,
) -> None:
    """Eagerly enforce the pre-chunked input contract the merge layer
    rides on: non-null ids, and per id the positions are exactly
    0..k-1 (unique, contiguous, starting at 0). A gap or duplicate
    would silently drop or double a document's chunk in the merged
    counters — loud, because in-plan guards are unreliable under
    join pushdown. One aggregate job; the violation probe is LIMIT 1,
    never data-sized."""
    g = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("c"),
        F.count_distinct(pos_col).alias("d"),
        F.min(pos_col).alias("lo"),
        F.max(pos_col).alias("hi"),
    )
    bad = (
        g.filter(
            F.col(id_col).isNull()
            | (F.col("c") != F.col("d"))
            | (F.col("lo") != 0)
            | (F.col("hi") != F.col("c") - 1)
        )
        .limit(1)
        .collect()
    )
    if bad:
        r = bad[0]
        raise ValueError(
            f"{op_name}: pre-chunked input violates the chunk "
            f"contract for {id_col}={r[id_col]!r} (rows={r['c']}, "
            f"distinct {pos_col}={r['d']}, min={r['lo']}, "
            f"max={r['hi']}) — positions must be unique and "
            "contiguous from 0 with non-null ids; rebuild the bronze "
            "table with prechunk_documents"
        )


def require_chunk_coverage(
    docs: DataFrame, chunks: DataFrame, id_col: str, op_name: str
) -> None:
    """Eagerly enforce that a pre-chunked bronze table covers every
    id in ``docs``: an uncovered document would otherwise vanish
    SILENTLY — the filter leg's inner join onto the scores drops it,
    and the near-dup leg (no signature rows) treats it as an
    automatic survivor, so two consumers of the same bronze disagree
    without a trace. One column-pruned anti-join with a LIMIT 1
    probe; the pipeline skips it (it wrote the bronze from the same
    docs this run), standalone callers get it by default."""
    missing = (
        docs.select(id_col)
        .join(chunks.select(id_col), id_col, "left_anti")
        .limit(1)
        .collect()
    )
    if missing:
        raise ValueError(
            f"{op_name}: document {id_col}={missing[0][id_col]!r} has "
            "no rows in the pre-chunked table — bronze is stale or "
            "partial; rebuild it with prechunk_documents over the "
            "current corpus"
        )


def chunk_head(chunk_col: Column, n: int) -> Column:
    """First ``n - 1`` tokens of a chunk as an array, built straight
    off the chunk STRING with a limit-split (O(prefix), stops after
    n - 1 tokens) instead of :func:`prechunked_tokens` — boundary
    consumers join this onto the PREVIOUS chunk to cover n-grams that
    straddle the split, and deriving the head from the tokenized
    relation would tokenize every chunk twice (no CSE across join
    sides; measured +34% on the near-dup soak stage). The expression
    reproduces the exact-slice prefix: heads are only taken from
    pos >= 1 chunks (never the doc-leading chunk), the leading
    ``\\s+`` strip plus space-trim mirrors prechunked_tokens, and a
    final chunk's trailing ``\\t``/``\\n`` phantom survives the
    limit-split exactly as it does full tokenization."""
    return F.slice(
        F.split(
            F.trim(F.regexp_replace(chunk_col, r"^\s+", "")),
            r"\s+",
            n,
        ),
        1,
        n - 1,
    )


def require_boundary_tokens(
    chunks: DataFrame,
    n: int,
    id_col: str,
    pos_col: str,
    chunk_col: str,
    op_name: str,
) -> None:
    """Eagerly enforce the cross-boundary n-gram requirement every
    pre-chunked n-gram consumer shares: every NON-FINAL chunk must
    hold >= ``n - 1`` tokens, or an n-gram could span three chunks
    and silently vanish (loud-contract stance). The probe is a
    limit-split prefix count (O(n) per chunk, not a full tokenize)
    and a LIMIT 1 violation collect."""
    if n < 2:
        return
    prefix_n = F.size(chunk_head(F.col(chunk_col), n))
    mx = chunks.groupBy(id_col).agg(F.max(pos_col).alias("__mx"))
    bad = (
        chunks.join(mx, id_col)
        .filter((F.col(pos_col) < F.col("__mx")) & (prefix_n < n - 1))
        .limit(1)
        .collect()
    )
    if bad:
        r = bad[0]
        raise ValueError(
            f"{op_name}: non-final chunk ({id_col}={r[id_col]!r}, "
            f"{pos_col}={r[pos_col]}) holds fewer than n-1={n - 1} "
            f"tokens, so boundary {n}-grams would silently vanish — "
            f"rewrite the bronze table with chunk_tokens >= {n}"
        )


def tokenized_with_offsets(
    chunks: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "chunk_pos",
    chunk_col: str = "chunk_text",
) -> DataFrame:
    """``(id_col, pos_col, __toks, __off)`` — each chunk's exact token
    slice plus its GLOBAL token offset. When the chunk table carries
    the ``tok_off`` column :func:`prechunk_documents` writes, the
    offset is read straight off the scan (NO shuffle); a foreign
    pre-chunked table without it falls back to a per-document
    running-sum window over chunk ROWS (bounded by the chunk count,
    but a full shuffle of the chunk relation — the reason bronze
    writes the offset). One copy shared by the positional span
    consumers."""
    from pyspark.sql import Window

    cols = [
        F.col(id_col),
        F.col(pos_col),
        prechunked_tokens(F.col(chunk_col), F.col(pos_col)).alias(
            "__toks"
        ),
    ]
    if "tok_off" in chunks.columns:
        # a pre-tok_off artifact read back under a schema that names
        # the column comes out ALL NULL (parquet missing-column
        # semantics) — positions computed from it would be silently
        # garbage, so consuming a NULL offset fails loud instead
        off = F.when(
            F.col("tok_off").isNull(),
            F.raise_error(
                F.lit(
                    "tokenized_with_offsets: NULL tok_off — the chunk "
                    "table predates the offset column; rebuild it "
                    "with prechunk_documents"
                )
            ).cast("long"),
        ).otherwise(F.col("tok_off").cast("long"))
        return chunks.select(*cols, off.alias("__off"))
    toked = chunks.select(*cols)
    w = (
        Window.partitionBy(id_col)
        .orderBy(pos_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toked.withColumn(
        "__off", F.coalesce(F.sum(F.size("__toks")).over(w), F.lit(0))
    )


def prechunked_positional_grams(
    chunks: DataFrame,
    n: int,
    id_col: str = "doc_id",
    pos_col: str = "chunk_pos",
    chunk_col: str = "chunk_text",
    validate: bool = True,
    op_name: str = "prechunked_positional_grams",
    keep_ids: DataFrame | None = None,
) -> DataFrame:
    """``(id_col, __pos, __g)`` — every document token n-gram with its
    GLOBAL 0-based start position and md5 gram hash, derived from a
    pre-chunked bronze table instead of whole-document rows: the
    bit-identical pre-chunked twin of the positional-gram pass the
    span operators share (dedupe.repeated_spans and
    decontam.cross_span_contamination both posexplode
    ``kgrams(tokens(text))``; the reference has no span machinery —
    this is engine-original, following Lee et al.).

    Mechanics mirror similarity.prechunked_minhash: each chunk is
    augmented with the first ``n - 1`` tokens of the NEXT chunk (one
    narrow (id, pos+1) self-join via :func:`chunk_head`) so boundary
    n-grams exist; an augmented chunk of ``s`` own tokens plus an
    (n-1)-token head yields grams at local starts 0..s-1 — exactly
    the grams whose start lies in THIS chunk, so no gram is produced
    twice and no exclusion filter is needed. Global position = the
    chunk's global token offset (read straight off the bronze's
    ``tok_off`` column when present — no shuffle; a per-document
    window over chunk ROWS otherwise, see
    :func:`tokenized_with_offsets`) plus the local start. Documents
    shorter than ``n``
    tokens yield no grams, matching the per-row builders' size
    filter. Requires every non-final chunk to hold >= ``n - 1``
    tokens (:func:`require_boundary_tokens`).

    ``keep_ids`` restricts output to those documents; pass it here
    rather than pre-filtering ``chunks`` — the heads side reads the
    raw chunk relation and heads of dropped documents fall out of
    the left join (the prechunked_minhash lesson: no CSE across
    self-join sides)."""
    from pyspark.sql import Window

    from etl_guiacores_spark.operators.textstats import (
        gram_key as _gram_key,
        kgrams,
    )

    if n < 1:
        raise ValueError(f"{op_name}: need n >= 1")
    if validate:
        require_chunk_contract(chunks, id_col, pos_col, op_name)
        require_boundary_tokens(
            chunks, n, id_col, pos_col, chunk_col, op_name
        )
    kept = chunks
    if keep_ids is not None:
        kept = chunks.join(keep_ids.select(id_col), id_col, "left_semi")
    toked = tokenized_with_offsets(kept, id_col, pos_col, chunk_col)
    heads = chunks.select(
        F.col(id_col),
        (F.col(pos_col) - 1).alias(pos_col),
        chunk_head(F.col(chunk_col), n).alias("__next_head"),
    ).filter(F.col(pos_col) >= 0)
    aug = toked.join(heads, [id_col, pos_col], "left").withColumn(
        "__aug",
        F.concat(
            F.col("__toks"),
            F.coalesce(
                F.col("__next_head"), F.array().cast("array<string>")
            ),
        ),
    )
    return aug.select(
        id_col,
        "__off",
        F.posexplode(kgrams(F.col("__aug"), n)).alias(
            "__lpos", "__gram"
        ),
    ).select(
        id_col,
        (F.col("__off") + F.col("__lpos")).cast("int").alias("__pos"),
        _gram_key("__gram").alias("__g"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """One row per (doc, chunk): id, chunk_idx, start_token, chunk_text,
    n_chunk_tokens."""
    spans = chunk_spans(F.col(text_col), chunk_tokens, overlap)
    out = df.select(id_col, F.explode(spans).alias("c"))
    return out.select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_token").alias("start_token"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.size(F.split(F.col("c.chunk_text"), r"\s+")).alias("n_chunk_tokens"),
    )


def build_vocab(
    df: DataFrame, text_col: str = "text", top_k: int | None = None, min_count: int = 1
) -> DataFrame:
    """Corpus vocabulary: (token, count, rank) by descending frequency
    (ties broken lexicographically -> fully deterministic ids)."""
    toks = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token")
    ).filter(F.length("token") > 0)
    counts = toks.groupBy("token").agg(F.count("*").alias("count"))
    if min_count > 1:
        counts = counts.filter(F.col("count") >= min_count)
    if top_k:
        # distributed TakeOrdered: per-partition top-k heads merge at
        # the driver — k rows, never the vocabulary — then the rank
        # window runs over only those k rows. The partition-less window
        # alone would funnel the ENTIRE distinct-token table through
        # one task (the single-node bottleneck ordering.py documents).
        counts = counts.orderBy(F.col("count").desc(), "token").limit(top_k)
        w = Window.orderBy(F.col("count").desc(), F.col("token"))
        return counts.withColumn("rank", F.row_number().over(w))
    # full ranking (no top_k): contiguous rank == dense id over the
    # (desc count, token) order — reuse the range-partitioned prefix-sum
    # machinery instead of a single-partition window
    from etl_guiacores_spark.operators.ordering import dense_ids

    ordered = counts.withColumn(
        "__ord",
        F.struct((-F.col("count")).alias("nc"), F.col("token").alias("t")),
    )
    return dense_ids(ordered, "__ord", id_name="rank").drop("__ord")
