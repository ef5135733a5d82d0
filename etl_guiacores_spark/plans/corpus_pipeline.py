"""Training-data corpus pipeline: the north-star operators composed.

documents -> quality/language filter -> exact dedup -> [doc + span
decontamination] -> near-dup removal (MinHash-LSH candidates,
exact-Jaccard verify, greedy keep-lowest-id or exact CC) -> [repeated
-span strip] -> [Gopher quality gate] -> [exact mixture quota] ->
chunking -> vocabulary -> [packed training shards + atomic manifest],
with per-stage metrics and cross-stage conservation asserts (token
totals, monotone filters, exact quota counts) — the full "golden
corpus run" a pretraining-data job executes as ONE invocation
(reference analog: the staged E->T->L chain at
/root/reference/src/extractors/run_extraction.py:49-152 ->
run_transformation.py -> run_loading.py, generalized to curation).

Every stage is one of the engine's tested operators; the pipeline is
the composition a 100 TB pretraining-data job runs. Stage boundaries
are Parquet tables, so each stage restarts independently (SURVEY §3.4
bronze/silver pattern applied to corpus prep).

Scale notes: the near-dup stage shuffles only (band, signature) keys
and verified pairs; the greedy survivor rule (drop the higher id of
any verified pair) is a one-pass approximation of connected-component
clustering — at clique sizes >2 it may keep fewer docs than true
CC-based dedup, never more, which is the conservative direction for
training data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_guiacores_spark import io as gio
from etl_guiacores_spark.io import (
    _is_fenced,
    _list_children,
    _read_sidecar,
    _write_sidecar,
)
from etl_guiacores_spark.operators.bucketing import write_bucketed
from etl_guiacores_spark.operators.chunking import (
    build_vocab,
    chunk_documents,
    prechunk_documents,
)
from etl_guiacores_spark.operators.dedupe import dedupe_keyed_first
from etl_guiacores_spark.operators.similarity import (
    lsh_candidate_pairs_from_sigs,
    prechunked_minhash,
    staged_minhash_shingles,
    verified_pairs,
)
from etl_guiacores_spark.operators.textstats import fingerprint, lang_id, quality_score


@dataclass
class CorpusConfig:
    min_quality: float = 0.5
    allowed_langs: tuple[str, ...] = ()  # empty = keep all
    near_dup_jaccard: float = 0.8
    #: None = every text stage computes per row. An int (>= 3, the
    #: near-dup shingle n needs every non-final chunk to hold >= n-1
    #: tokens) lands the PRE-CHUNKED bronze layout once at ingest
    #: (chunking.prechunk_documents: (doc_id, chunk_pos, chunk_text)
    #: rows of this many tokens, fenced as ``bronze_chunks``) and
    #: feeds every heavy text stage from those chunk rows — the
    #: filter-leg scores, near-dup shingling, the gopher gate, and the
    #: span stages when this is >= that stage's gram width - 1
    #: (``decontam_span_n`` / ``span_n``; below that the stage runs
    #: per row). After each text rewrite the landed survivors are
    #: re-chunked once (``bronze_rechunked`` after the eval-span
    #: excision, ``bronze_restripped`` after the repeated-span strip).
    #: Outputs are bit-identical to the per-row path; per-task work
    #: is bounded by the chunk size instead of the document length.
    #: Requires unique, non-null ``doc_id`` (the chunk-merge key),
    #: checked on the ingest count job.
    prechunk_tokens: int | None = None
    #: True = connected-components clustering (one survivor per
    #: component, exact); False = greedy drop-higher-id per pair
    #: (one pass, conservative)
    cluster_exact: bool = False
    #: False (default) = native xxhash64 signatures (~3x faster, the
    #: production path); True = md5-hex family, required only when a
    #: DuckDB oracle must reproduce signatures bit-for-bit. The flag
    #: must be CONSISTENT between staging and every later incremental
    #: run over the same artifact tables (one hash family per corpus).
    portable_hashes: bool = False
    chunk_tokens: int = 64
    chunk_overlap: int = 8
    vocab_top_k: int = 1000
    #: parquet path of a benchmark/eval set (text column): when set,
    #: docs sharing >= decontam_min_overlaps word 3-grams with it are
    #: dropped after exact dedup (Bloom prefilter + exact verify —
    #: operators/decontam.contaminated_doc_ids_bloom)
    benchmark_path: str | None = None
    decontam_min_overlaps: int = 1
    #: parquet path of a linear-model weight table (bucket BIGINT,
    #: weight_ppm BIGINT — e.g. exported fastText/LR unigram weights):
    #: when set, the filter stage ALSO drops docs whose hashed-feature
    #: margin falls below model_threshold_ppm
    #: (operators/inference.linear_score)
    model_weights_path: str | None = None
    model_threshold_ppm: int = 0
    #: when True, after near-dup survivor selection the pipeline ALSO
    #: strips maximal repeated token spans (Lee-et-al substring-level
    #: dedup, operators/dedupe.strip_repeated_spans) from survivor
    #: texts before chunking/vocab, landing a ``span_stripped`` stage
    #: plus a per-doc ``span_accounting`` table. Token conservation
    #: (n_tokens == dup + retained, and the WRITTEN stripped text
    #: re-tokenizing to exactly the accounted retained total) is
    #: asserted on the stored artifact — a corrupted strip fails the
    #: run, it does not silently feed truncated text to training.
    strip_spans: bool = False
    span_n: int = 10
    span_min_docs: int = 2
    #: when True (requires benchmark_path), ALSO excise maximal token
    #: spans that quote the benchmark verbatim (sliding n-grams,
    #: operators/decontam.cross_span_contamination) from documents
    #: that survived the doc-level decontam drop — the eval-leakage
    #: mode where a page QUOTES a benchmark instead of being one.
    #: Lands an ``eval_span_accounting`` table and rewrites text
    #: before near-dup/chunking, with the same token-conservation
    #: assert as the strip_spans stage.
    decontam_spans: bool = False
    decontam_span_n: int = 8
    #: when True, after span stripping the pipeline ALSO applies the
    #: Gopher-style document quality rules (textstats.gopher_quality —
    #: token band, mean-token-length band, alpha fraction, stopword
    #: presence) as a second gate. Runs at scan speed (pure codegen
    #: arithmetic) but is placed here rather than first because the
    #: span-strip stages REWRITE text — gating must see final text.
    gopher_gate: bool = False
    gopher_min_tokens: int = 20
    gopher_max_tokens: int = 80
    #: when set, survivors are downsampled to EXACTLY this many
    #: documents with source shares preserved (largest-remainder
    #: apportionment over ``mixture_strata`` —
    #: sampling.exact_quota_stratified). None = keep all.
    mixture_total: int | None = None
    mixture_strata: tuple[str, ...] = ("source",)
    #: when True, the run's last mile packs its landed ``chunks``
    #: table into fixed-budget training sequences and lands them as
    #: size-bounded shards with an atomically-committed manifest
    #: (plans/shard_writer) under ``{out_dir}/shards``, asserting
    #: chunk-count and token conservation between ``chunks`` and the
    #: packed shards.
    write_shards: bool = False
    budget_tokens: int = 512
    sequences_per_shard: int = 10_000
    shard_bins: int = 32


def filter_documents(
    docs: DataFrame,
    config: CorpusConfig,
    validate_ids: bool = True,
    chunks: DataFrame | None = None,
) -> DataFrame:
    if chunks is not None:
        # bronze path: the scores come from balanced pre-chunked rows
        # (no task ever tokenizes a whole document); bit-identical to
        # the per-row leg. The inner join onto the scores would
        # silently DROP any document missing from a stale/partial
        # bronze table, so standalone callers get the coverage probe
        # (the pipeline wrote the bronze from these docs this run)
        from etl_guiacores_spark.operators.textstats import (
            prechunked_text_scores,
        )

        if validate_ids:
            from etl_guiacores_spark.operators.chunking import (
                require_chunk_coverage,
            )

            require_chunk_coverage(
                docs, chunks, "doc_id", "filter_documents"
            )
        scored = docs.join(
            prechunked_text_scores(chunks, validate=validate_ids),
            "doc_id",
        )
    else:
        scored = docs.withColumns(
            {
                "quality": quality_score(F.col("text")),
                "pred_lang": lang_id(F.col("text")),
            }
        )
    out = scored.filter(F.col("quality") >= config.min_quality)
    if config.allowed_langs:
        out = out.filter(F.col("pred_lang").isin(*config.allowed_langs))
    if config.model_weights_path is not None:
        from etl_guiacores_spark.operators.inference import linear_score

        weights = docs.sparkSession.read.parquet(config.model_weights_path)
        keep = linear_score(out, weights).filter(
            F.col("score_ppm") >= config.model_threshold_ppm
        )
        # key-only semi join: the model verdict travels as doc ids,
        # document text never rides the gating shuffle
        out = out.join(keep.select("doc_id"), "doc_id", "left_semi")
    return out


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Drop exact duplicates by content fingerprint, keeping the
    lowest doc_id (deterministic)."""
    with_fp = docs.withColumn("fp", fingerprint(F.col("text")))
    return dedupe_keyed_first(with_fp, ["fp"], ["doc_id"]).drop("fp")


def _staged_sigs_for(
    docs: DataFrame,
    portable: bool,
    chunks: DataFrame | None,
    validate_ids: bool,
    op_name: str,
) -> DataFrame:
    """One PERSISTED ``(doc_id, shingles, sig_0..k-1)`` frame for
    ``docs``: per row through ``staged_minhash_shingles``, or from
    ``chunks`` through ``prechunked_minhash`` (bit-identical
    signatures; shingle sets sorted on the chunk leg, and every
    consumer treats them as sets). It is the one signature pass of
    every near-dup path — ``near_dup_pairs`` (so the golden run and
    ``near_dup_removal``), ``stage_corpus_artifacts``,
    ``incremental_near_dup`` and ``append_corpus_artifacts`` — so the
    corpus is shingled once per call and the coverage probe cannot
    drift between copies. The caller owns the returned handle's
    unpersist, per the staged_minhash_shingles lifecycle."""
    if chunks is not None:
        if validate_ids:
            from etl_guiacores_spark.operators.chunking import (
                require_chunk_coverage,
            )

            # an uncovered doc would silently get NO signature rows:
            # an automatic near-dup survivor, dropped from staged
            # tables, or auto-admitted by the incremental dedup
            require_chunk_coverage(docs, chunks, "doc_id", op_name)
        # keep_ids INSIDE the operator, not a pre-join here: the
        # operator self-joins its chunk input, so a caller-side
        # semi-join would execute twice
        return prechunked_minhash(
            chunks, "doc_id", portable=portable, with_shingles=True,
            validate=validate_ids, keep_ids=docs,
        ).persist()
    # staged_minhash_shingles persists internally
    return staged_minhash_shingles(docs, "doc_id", "text", portable=portable)


def near_dup_pairs(
    docs: DataFrame,
    threshold: float,
    portable: bool = False,
    validate_ids: bool = True,
    chunks: DataFrame | None = None,
) -> DataFrame:
    """The verified near-dup pairs ``(id_a, id_b, jaccard)`` of
    ``docs``, id_a < id_b: LSH proposes, exact Jaccard verifies. ONE
    persisted (id, shingles, sigs) table from ``_staged_sigs_for``
    (per row, or from the pre-chunked ``chunks`` table covering at
    least ``docs``' ids) feeds both the banding and the verify. Lazy;
    the handle rides out on the result as ``staged_sigs`` — release
    it once the consuming action has run (the pipeline does so after
    landing the pairs)."""
    staged = _staged_sigs_for(
        docs, portable, chunks, validate_ids, "near_dup_removal"
    )
    pairs = verified_pairs(
        lsh_candidate_pairs_from_sigs(staged, "doc_id"), staged, threshold
    )
    pairs.staged_sigs = staged
    return pairs


def near_dup_survivors(
    docs: DataFrame, pairs: DataFrame, cluster_exact: bool = False
) -> DataFrame:
    """The survivor rule over verified ``pairs``: one survivor per
    connected component, the lowest id (``cluster_exact``, exact), or
    greedy drop-the-higher-id of each pair (one pass, conservative).
    Under ``cluster_exact`` the components are computed eagerly (the
    graph operator's driver-local gate fetches the edges), so pass
    LANDED pairs to run the pair leg once."""
    if cluster_exact:
        from etl_guiacores_spark.operators.graph import connected_components

        labels = connected_components(
            docs.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
        )
        return docs.join(
            labels.filter(F.col("id") == F.col("component")).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
        )
    # The doomed-id set scales with the corpus dup rate — no
    # broadcast hint; AQE picks broadcast only when it truly fits.
    doomed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(doomed, "doc_id", "left_anti")


def near_dup_removal(
    docs: DataFrame,
    threshold: float,
    cluster_exact: bool = False,
    portable: bool = False,
    validate_ids: bool = True,
    chunks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (survivors, removed_pairs): ``near_dup_survivors`` over
    ``near_dup_pairs``. The pairs carry the ``staged_sigs`` handle to
    release after the consuming actions."""
    pairs = near_dup_pairs(docs, threshold, portable, validate_ids, chunks)
    return near_dup_survivors(docs, pairs, cluster_exact), pairs


def stage_corpus_artifacts(
    docs: DataFrame,
    table_prefix: str,
    num_buckets: int = 16,
    portable: bool = False,
    chunks: DataFrame | None = None,
    validate_ids: bool = True,
) -> dict[str, str]:
    """Pay the shingle/signature computation and the doc_id shuffle
    ONCE: per-doc shingle arrays and minhash signatures land as
    bucketed-by-doc_id managed tables. Every later dedup run (and any
    verify join) reads them bucket-aligned — no re-shingling, and no
    exchange on the heavy array-carrying side of the join. This is the
    100 TB shape: signatures are ingest-time artifacts, not per-query
    recomputation.

    ``chunks`` (a pre-chunked bronze table) routes the one staging
    pass through balanced chunk rows — the staging pass IS the pass
    where a fat document's one-task shingle build hurts, since
    everything downstream reads these tables. Outputs are
    bit-identical either way (shingle sets sorted on the bronze
    path — consumers treat them as sets)."""
    shingles_t, sigs_t = f"{table_prefix}_shingles", f"{table_prefix}_sigs"
    # ONE shingling pass feeds both tables: every leg exposes the
    # shingle array it computes anyway, and the transient persist
    # carries it across the two bucketed writes — shingling the
    # corpus a second time for the signature table would double the
    # most expensive per-row expression at ingest
    handle = _staged_sigs_for(
        docs, portable, chunks, validate_ids, "stage_corpus_artifacts"
    )
    # unpersist must target the HANDLE whose plan carries the cache
    # entry — a renamed child df's unpersist would silently no-op
    staged = handle.withColumnRenamed("shingles", "sh")
    try:
        write_bucketed(staged.select("doc_id", "sh"), shingles_t, "doc_id", num_buckets)
        write_bucketed(staged.drop("sh"), sigs_t, "doc_id", num_buckets)
    finally:
        handle.unpersist()
    return {"shingles": shingles_t, "sigs": sigs_t}


def incremental_near_dup(
    new_docs: DataFrame,
    tables: dict[str, str],
    threshold: float,
    portable: bool = False,
    chunks: DataFrame | None = None,
    validate_ids: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW ingest batch against an already-staged corpus — the
    daily-ingest shape at 100 TB: only the new batch is shingled and
    hashed; the existing corpus contributes its bucketed signature and
    shingle tables as-is (no recomputation, no re-shuffle of the heavy
    side).

    Priority rule: staged docs are already accepted, so a new doc is
    dropped if it near-dups ANY staged doc, or a lower-id doc within
    its own batch. Caller contract: new ids are disjoint from staged
    ids; for EXACT equivalence with a full greedy recompute over the
    union, new ids must also sort AFTER every staged id (monotone
    ingest ids) — otherwise the greedy rule could have dropped the
    staged doc instead. Staged rows whose ids appear in the batch are
    ignored (a doc can never doom itself), which makes a crash-replayed
    batch recompute the same survivors. Returns (surviving new docs,
    verified pairs where id_b is the dropped new doc)."""
    from etl_guiacores_spark.operators.similarity import band_rows

    spark = new_docs.sparkSession
    # ONE staged (id, shingles, sigs) batch table serves both the
    # banding below and the shingle verify; the handle rides out on
    # the pair result as staged_sigs, same lifecycle contract as
    # near_dup_pairs'
    staged_new = _staged_sigs_for(
        new_docs, portable, chunks, validate_ids, "incremental_near_dup"
    )
    try:
        new_sigs = staged_new.drop("shingles")
        # replay-safety: a re-delivered batch may already be IN the staged
        # tables; its own staged copies must not doom it
        staged_sigs = spark.table(tables["sigs"])
        # hash-family guard: the staged signatures and this batch's must
        # come from the SAME family (portable md5-hex = strings, native
        # xxhash64 = longs). A mismatch would make the band equi-join match
        # NOTHING and silently admit every duplicate — the schema is the
        # family fingerprint, so assert it instead of failing open.
        staged_types = {f.name: f.dataType for f in staged_sigs.schema.fields}
        new_types = {f.name: f.dataType for f in new_sigs.schema.fields}
        if staged_types != new_types:
            raise ValueError(
                "incremental_near_dup: staged signature schema "
                f"{staged_types} != batch signature schema {new_types} — "
                "the staged corpus was built with a different hash family "
                "(portable=) than this call; re-stage or match the flag"
            )
        old_sigs = staged_sigs.join(
            new_docs.select("doc_id"), on="doc_id", how="left_anti"
        )

        def bands_of(sigs: DataFrame, origin: str) -> DataFrame:
            return band_rows(sigs, "doc_id").select(
                F.col("__id").alias("doc_id"), F.lit(origin).alias("origin"),
                F.col("__band").alias("band"),
            )

        new_bands = bands_of(new_sigs, "new")
        other = bands_of(old_sigs, "old").unionByName(new_bands)
        candidates = (
            new_bands.select(F.col("doc_id").alias("id_b"), "band")
            .join(
                other.select(
                    F.col("doc_id").alias("id_a"), F.col("origin").alias("origin_a"), "band"
                ),
                on="band",
            )
            .filter((F.col("origin_a") == "old") | (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b")
            .distinct()
        )
        new_sh = staged_new.select("doc_id", "shingles")
        # replay-safety on the SHINGLE side too: a re-delivered batch's
        # rows may already sit in the staged table, and keeping both
        # copies would fan every verified pair out twice through the id_a
        # join (the sigs table above gets the same left_anti)
        all_sh = (
            spark.table(tables["shingles"])
            .withColumnRenamed("sh", "shingles")
            .join(new_docs.select("doc_id"), on="doc_id", how="left_anti")
            .unionByName(new_sh)
        )
        verified = verified_pairs(candidates, all_sh, threshold, shingles_b=new_sh)
        survivors = near_dup_survivors(new_docs, verified)
        # caller releases once the consuming action has run — the same
        # handle-riding contract as near_dup_pairs' staged_sigs
        verified.staged_sigs = staged_new
    except BaseException:
        # ANY raise before the handle reaches the caller (missing or
        # renamed staged table, schema mismatch, analysis error) must
        # release the just-persisted batch signatures, or the cache
        # entry leaks for the session lifetime (round-11 advice item)
        staged_new.unpersist()
        raise
    return survivors, verified


def append_corpus_artifacts(
    new_docs: DataFrame,
    tables: dict[str, str],
    portable: bool = False,
    chunks: DataFrame | None = None,
    validate_ids: bool = True,
) -> None:
    """Fold an accepted batch into the staged artifacts: appended
    bucket files join the existing spec (same bucket count/key), so
    the next incremental run still reads bucket-aligned. Same
    per-row / pre-chunked legs as the staging/increment functions.

    CAUTION: any still-lazy plan built over these tables (e.g. the
    survivors frame from ``incremental_near_dup``) re-reads them on its
    next action and would now see the batch's own signatures —
    materialize (collect/write) the survivors BEFORE appending."""
    handle = _staged_sigs_for(
        new_docs, portable, chunks, validate_ids, "append_corpus_artifacts"
    )
    staged = handle.withColumnRenamed("shingles", "sh")
    try:
        staged.select("doc_id", "sh").write.mode("append").format(
            "parquet"
        ).insertInto(tables["shingles"])
        staged.drop("sh").write.mode("append").format(
            "parquet"
        ).insertInto(tables["sigs"])
    finally:
        handle.unpersist()


def streaming_corpus_ingest(
    spark,
    input_dir: str,
    tables: dict[str, str],
    accepted_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    schema: str = "doc_id bigint, text string",
    portable: bool = False,
    shards_dir: str | None = None,
    shard_kwargs: dict | None = None,
):
    """Continuous corpus ingest: document files land in ``input_dir``,
    each micro-batch dedups against the staged artifacts via
    ``incremental_near_dup``, survivors land in
    ``accepted_dir/batch=<id>``, and the artifacts fold the survivors
    in for the NEXT batch.

    With ``shards_dir`` set the loop also keeps a TRAINING-SHARD set
    current: each batch's survivors append to the shard stream via
    the marker-idempotent ``append_batch_shards`` (shard_writer.py) —
    stream in documents, train off contiguous packed shards, no
    nightly re-shard. ``shard_kwargs`` forwards budget/chunking knobs.

    Crash-replay semantics: the dedup plan executes ONCE per batch
    (the idempotent per-batch write; the artifact append re-reads the
    written parquet), the per-batch output directory is OVERWRITTEN (so a
    re-delivered batch rewrites, never duplicates, its accepted rows),
    and ``incremental_near_dup`` ignores staged rows carrying the
    batch's own ids — so a replay after a completed artifact append
    still computes the original survivor set. The one non-idempotent
    residue is artifact-table row duplication for a replayed batch,
    which inflates storage but not results (the pair candidates are
    DISTINCT and dooming is by id set).

    Returns the StreamingQuery.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        survivors, pairs = incremental_near_dup(
            batch_df.select("doc_id", "text"), tables, threshold, portable=portable
        )
        # the idempotent per-batch landing; never collect(): a big
        # backlog batch carrying full document text would OOM the driver
        try:
            accepted, seen = gio.land(
                survivors, f"{accepted_dir}/batch={batch_id}"
            )
        finally:
            # the batch signatures are consumed: release them, or
            # every micro-batch leaks one cache entry
            pairs.staged_sigs.unpersist()
        if seen["records"] == 0:
            return
        append_corpus_artifacts(accepted, tables, portable=portable)
        if shards_dir is not None:
            from etl_guiacores_spark.plans.shard_writer import (
                append_batch_shards,
            )

            append_batch_shards(
                accepted.select("doc_id", "text"),
                shards_dir,
                batch_id,
                **(shard_kwargs or {}),
            )

    return (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _config_fingerprint(config: CorpusConfig) -> dict:
    from dataclasses import asdict

    d = asdict(config)
    d["mixture_strata"] = list(d["mixture_strata"])
    d["allowed_langs"] = list(d["allowed_langs"])
    return d


def run_corpus_pipeline(
    docs: DataFrame,
    out_dir: str,
    config: CorpusConfig | None = None,
    progress_callback=None,
    resume: bool = False,
) -> dict:
    """``progress_callback(stage, info)`` fires after each stage lands
    (raw/filtered/exact_dedup/near_dup/chunks/vocab/done) with the
    counts the run computes anyway — the same seam as
    ``run_batch_pipeline``, so the CLI's ``--progress`` lines and
    ``--serve-port`` board cover corpus mode too.

    ``resume=True`` makes a rerun over the same ``out_dir`` skip every
    stage whose handoff is already landed (``_SUCCESS``-fenced): the
    stage's stored table is read back (one cheap count job) instead of
    recomputed, so a run that died at near-dup restarts WITHOUT paying
    the filter/decontam legs again — what "stage boundaries are
    parquet tables" is for at 100 TB. Guarded by a config fingerprint
    (``{out_dir}/pipeline_config.json``): resuming with ANY changed
    CorpusConfig field refuses loudly — stale artifacts from a
    different configuration must never silently feed downstream
    stages. A non-resume run overwrites everything and rewrites the
    fingerprint. Non-landed derivations (exact dedup, the survivor
    rule) recompute from their landed upstream — the resume unit is
    the landed artifact, exactly the restart granularity the stored
    tables give any external orchestrator. The fingerprint also
    covers the INPUT's identity (schema + non-empty row count), so
    ``resume=True`` with a different ``docs`` refuses too; and resume
    over fenced stage artifacts that carry NO fingerprint (pre-guard
    artifacts, or a deleted sidecar) refuses rather than trusting
    them. All storage IO (fences, fingerprint, metrics.json, the
    shard writer's manifest, markers and stats.json) goes through
    ``io``'s Hadoop-FileSystem helpers, so resume works on any Spark
    path scheme. The optional shard writer publishes its manifest by a
    rename swap (``io._swap_publish``); on an object store a rename
    copies then deletes, so ``write_shards=True`` with a non-``file``
    ``out_dir`` scheme refuses loudly instead of half-working.
    """
    import json as _json

    from etl_guiacores_spark.sources.tables import spread_narrow_input

    config = config or CorpusConfig()
    if config.decontam_spans and config.benchmark_path is None:
        raise ValueError(
            "decontam_spans requires benchmark_path (the eval set "
            "whose quoted spans get excised)"
        )
    ct = config.prechunk_tokens
    if ct is not None and ct < 3:
        raise ValueError(
            "prechunk_tokens must be >= 3 or None (the bronze chunk "
            "size; the near-dup shingle n=3 needs every non-final "
            f"chunk to hold >= n-1 tokens) — got {ct!r}"
        )
    if config.write_shards and "://" in out_dir and not out_dir.startswith(
        "file://"
    ):
        raise ValueError(
            "run_corpus_pipeline: write_shards=True requires a local "
            f"(posix or file://) out_dir — got {out_dir!r}. The shard "
            "writer publishes its manifest by a rename swap "
            "(io._swap_publish), and on an object store a rename copies "
            "then deletes, so the swap is not atomic there; write shards "
            "to local disk and ship them, or run the pipeline without "
            "shards on this scheme."
        )
    emit = progress_callback or (lambda stage, info: None)
    spark = docs.sparkSession

    # spread once at ingest (a few-row-group parquet input would
    # otherwise serialize every per-row stage), drop empty texts, and
    # count — the count is paid every run anyway (the "raw" metric),
    # and together with the schema it identifies the INPUT in the
    # resume fingerprint: artifacts computed from a different input
    # are exactly as stale as artifacts from a different config.
    docs = spread_narrow_input(docs, "doc_id")
    docs = docs.filter(F.length(F.trim("text")) > 0)
    if ct is not None:
        # the chunk-merge key contract, validated ONCE here riding the
        # n_raw job the run pays anyway — the chunked operators are
        # then called with validate=False so a RESUME (which reads
        # stages back without computing them) pays no extra scans
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("doc_id").isNull().cast("int")).alias("nulls"),
            (F.count("doc_id") - F.count_distinct("doc_id")).alias("dups"),
        ).first()
        n_raw = row["n"]
        if (row["nulls"] or 0) or (row["dups"] or 0):
            raise ValueError(
                "run_corpus_pipeline: prechunk_tokens requires unique "
                f"non-null doc_id (the chunk-merge key) — found "
                f"{row['nulls'] or 0} NULL and {row['dups'] or 0} "
                "duplicate id row(s) in the input"
            )
    else:
        n_raw = docs.count()

    fp = _config_fingerprint(config)
    fp["__input_schema"] = docs.schema.simpleString()
    fp["__input_rows"] = n_raw

    fp_path = f"{out_dir}/pipeline_config.json"
    stored_text = _read_sidecar(spark, fp_path) if resume else None
    if stored_text is not None:
        stored = _json.loads(stored_text)
        if stored != fp:
            diff = sorted(
                k for k in fp if stored.get(k) != fp[k]
            ) + sorted(k for k in stored if k not in fp)
            raise ValueError(
                "run_corpus_pipeline(resume=True): the landed artifacts "
                f"in {out_dir} were produced under a DIFFERENT config "
                f"or input (fields differing: {diff}) — resuming would "
                "feed stale stages downstream. Rerun without resume, "
                "or use a fresh out_dir."
            )
    elif resume and (
        any(
            is_dir and _is_fenced(spark, f"{out_dir}/{name}")
            for name, is_dir in _list_children(spark, out_dir)
        )
        or _read_sidecar(spark, f"{out_dir}/shards/stats.json") is not None
    ):
        # ANY fenced child refuses: a torn out_dir whose "filtered"
        # fence is missing but whose later fences (clean, dup_pairs,
        # ...) survive would otherwise write a fresh fingerprint here
        # and have _land silently reuse those unverified later-stage
        # artifacts. The shard output is probed via stats.json — what
        # the shard resume path below actually reuses; the shard writer
        # fences no shards/_SUCCESS
        raise ValueError(
            "run_corpus_pipeline(resume=True): fenced stage artifacts "
            f"exist in {out_dir} but no pipeline_config.json fingerprint "
            "does — they predate the fingerprint guard or the sidecar "
            "was deleted, so their provenance cannot be checked. Rerun "
            "without resume, or use a fresh out_dir."
        )
    else:
        _write_sidecar(
            spark, fp_path, _json.dumps(fp, indent=1, sort_keys=True)
        )

    def _land(df: DataFrame, name: str) -> tuple[DataFrame, int]:
        """Land a stage as ``{out_dir}/{name}`` (``io.land``) and return
        the stored table with its row count. Under ``resume``, a landed
        (``_SUCCESS``-fenced) stage is read back without recomputing
        ``df``'s lineage."""
        path = f"{out_dir}/{name}"
        if resume and _is_fenced(spark, path):
            back = spark.read.schema(df.schema).parquet(path)
            n = back.count()
            emit(f"{name}_resumed", {"records": n})
            return back, n
        back, seen = gio.land(df, path)
        return back, seen["records"]

    def _land_stripped(
        base: DataFrame, stripped: DataFrame, stage: str, what: str
    ) -> tuple[DataFrame, int, tuple[int, int, int]]:
        """Land a span leg: its per-doc accounting as
        ``{stage}_accounting``, then ``base`` with ``text`` rebuilt
        from the leg's ``retained_text`` as ``{stage}_stripped`` (docs
        the leg does not account for pass through untouched). Token
        conservation is asserted on the STORED artifacts in one
        aggregate over their join: the per-doc split sums to the
        whole, the written text re-tokenizes to exactly the retained
        total, and every accounted doc is in the rewritten table.
        Returns the rewritten table, its row count and the
        (total, dup, retained) token sums."""
        from etl_guiacores_spark.operators.textstats import tokens

        # both landings read one execution of the span detection: the
        # accounting write fills the cache, the rewrite reads it. The
        # persist is lazy, so a resume over fenced landings fills
        # nothing
        stripped = stripped.persist()
        try:
            acct, n_acct = _land(
                stripped.select(
                    "doc_id", "n_tokens", "dup_tokens", "retained_tokens",
                    "retained_md5",
                ),
                f"{stage}_accounting",
            )
            rebuilt = (
                base.join(
                    stripped.select(
                        "doc_id", F.col("retained_text").alias("__rt")
                    ),
                    "doc_id",
                    "left",
                )
                .withColumn("text", F.coalesce("__rt", "text"))
                .drop("__rt")
            )
            landed, n_landed = _land(rebuilt, f"{stage}_stripped")
        finally:
            stripped.unpersist()
        tot = (
            acct.join(landed.select("doc_id", "text"), "doc_id")
            .agg(
                F.sum("n_tokens").alias("t"),
                F.sum("dup_tokens").alias("d"),
                F.sum("retained_tokens").alias("r"),
                F.sum(F.size(tokens(F.col("text")))).alias("k"),
                F.count(F.lit(1)).alias("n"),
            )
            .first()
        )
        t, d, r, k = (int(tot[c] or 0) for c in "tdrk")
        if t != d + r or k != r or tot["n"] != n_acct:
            raise RuntimeError(
                f"{what} token conservation violated: "
                f"total={tot['t']} dup={tot['d']} retained={tot['r']} "
                f"rewritten={k} docs={tot['n']}/{n_acct}"
            )
        return landed, n_landed, (t, d, r)

    emit("raw", {"records": n_raw})

    bronze = None
    if ct is not None:
        # the one-time chunk build: THIS write pays the fat-document
        # tokenization once; every chunked stage below scans the
        # landed table's balanced chunk rows instead (and a resumed
        # run re-reads it without re-chunking at all)
        bronze, n_bronze = _land(
            prechunk_documents(docs, chunk_tokens=ct), "bronze_chunks"
        )
        emit("bronze_chunks", {"records": n_bronze})

    filtered, n_filtered = _land(
        filter_documents(docs, config, validate_ids=False, chunks=bronze),
        "filtered",
    )
    emit("filtered", {"records": n_filtered})

    exact = exact_dedup(filtered)
    n_exact = exact.count()
    emit("exact_dedup", {"records": n_exact})

    n_decontam = None
    if config.benchmark_path is not None:
        from etl_guiacores_spark.operators.decontam import contaminated_doc_ids_bloom

        bench = spark.read.parquet(config.benchmark_path).select("text")
        dirty = contaminated_doc_ids_bloom(
            exact, bench, min_overlaps=config.decontam_min_overlaps
        ).select("doc_id")
        exact, n_decontam = _land(
            exact.join(dirty, "doc_id", "left_anti"), "decontaminated"
        )
        emit("decontam", {"records": n_decontam})

        if config.decontam_spans:
            from etl_guiacores_spark.operators.decontam import (
                cross_span_contamination,
            )
            from etl_guiacores_spark.operators.dedupe import (
                prechunked_strip_given_spans,
                strip_given_spans,
            )

            # pre-chunked span leg: detection AND apply read the
            # ingest bronze's balanced chunk rows (exact's text is
            # still ingest text here) — bit-identical spans/strips
            # with no whole-document token walk. The boundary
            # requirement (non-final chunks hold >= n-1 tokens) must
            # be checked HERE because the operators run validate=False
            # on the pipeline's own bronze: an undersized chunk would
            # silently lose boundary n-grams.
            span_bronze = (
                bronze
                if bronze is not None and ct >= config.decontam_span_n - 1
                else None
            )
            ev_spans = cross_span_contamination(
                exact,
                bench.select(F.lit(0).alias("doc_id"), "text"),
                n=config.decontam_span_n,
                chunks=span_bronze,  # None -> whole-document leg
                validate=False,
            )
            if span_bronze is not None:
                excised = prechunked_strip_given_spans(
                    span_bronze, ev_spans, keep_text=True,
                    validate=False, keep_ids=exact,
                    # the pipeline wrote this bronze at exactly this
                    # chunk size -> the apply can assign spans to
                    # chunks arithmetically (no per-chunk span-array
                    # fan-out)
                    chunk_tokens=ct,
                )
            else:
                excised = strip_given_spans(
                    exact, ev_spans, keep_text=True
                )
            exact, n_excised, (_, excised_tokens, _) = _land_stripped(
                exact, excised, "eval_span", "eval-span-strip"
            )
            emit(
                "decontam_spans",
                {
                    "records": n_excised,
                    "excised_tokens": excised_tokens,
                },
            )

            if bronze is not None:
                # the span excision rewrote survivor TEXT (every
                # non-empty doc: retained_text is token-rejoined), so
                # the ingest bronze no longer concatenates to the
                # current documents — re-chunk the landed rewritten
                # survivors ONCE, fenced like the ingest bronze, so
                # the near-dup leg below still reads balanced chunk
                # rows
                bronze, n_rechunk = _land(
                    prechunk_documents(exact, chunk_tokens=ct),
                    "bronze_rechunked",
                )
                emit("bronze_rechunked", {"records": n_rechunk})

    # land the VERIFIED PAIRS, then derive the survivors from the
    # STORED pair list: the LSH+Jaccard leg — the most expensive in
    # the pipeline — executes exactly once, also under cluster_exact
    # (whose components are computed eagerly), and not at all on a
    # resume over a fenced dup_pairs
    dup_pairs = near_dup_pairs(
        exact,
        config.near_dup_jaccard,
        portable=config.portable_hashes,
        validate_ids=False,  # checked once at ingest
        # bronze is always current here: it reflects ingest text, and
        # when decontam_spans rewrote documents the bronze_rechunked
        # refresh above re-derived it from the landed rewritten text
        chunks=bronze,
    )
    try:
        pairs, n_pairs = _land(dup_pairs, "dup_pairs")
    finally:  # landed (or failed): release the sig cache
        dup_pairs.staged_sigs.unpersist()
    # cluster_exact's components run eagerly; a resume over a fenced
    # clean reads it back, so hand _land the lazy greedy frame (same
    # schema) and skip them
    cluster_exact = config.cluster_exact and not (
        resume and _is_fenced(spark, f"{out_dir}/clean")
    )
    survivors, n_clean = _land(
        near_dup_survivors(exact, pairs, cluster_exact), "clean"
    )
    emit("near_dup", {"records": n_clean})

    span_totals = None
    if config.strip_spans:
        from etl_guiacores_spark.operators.dedupe import (
            prechunked_repeated_spans,
            prechunked_strip_given_spans,
            strip_repeated_spans,
        )

        # pre-chunked span leg: at this point bronze (when on) is
        # CURRENT for the survivors — the ingest table, or the
        # bronze_rechunked refresh when decontam_spans rewrote text —
        # so both the repeated-span detection and the strip read
        # balanced chunk rows. keep_ids matters for CORRECTNESS here,
        # not just cost: min_docs counts distinct docs and must count
        # survivors only. Boundary requirement checked here
        # (validate=False on our own bronze), as in the decontam leg.
        if bronze is not None and ct >= config.span_n - 1:
            rep_spans = prechunked_repeated_spans(
                bronze,
                n=config.span_n,
                min_docs=config.span_min_docs,
                validate=False,
                keep_ids=survivors,
            )
            stripped = prechunked_strip_given_spans(
                bronze, rep_spans, keep_text=True,
                validate=False, keep_ids=survivors,
                chunk_tokens=ct,
            )
        else:
            stripped = strip_repeated_spans(
                survivors,
                n=config.span_n,
                min_docs=config.span_min_docs,
                keep_text=True,
            )
        # survivors whose text tokenizes to [] pass through untouched
        # (strip_repeated_spans excludes them by contract)
        survivors, n_span, (t, d, r) = _land_stripped(
            survivors, stripped, "span", "span-strip"
        )
        span_totals = {
            "span_docs": n_span,
            "span_total_tokens": t,
            "span_dup_tokens": d,
            "span_retained_tokens": r,
        }
        emit("span_strip", {"records": n_span})

        if bronze is not None and config.gopher_gate:
            # the strip rewrote survivor text a second time — refresh
            # the chunk table once more from the landed span_stripped
            # artifact (cheap: the funnel is narrow here) so the
            # gopher gate below reads balanced chunk rows too; with
            # the pre-chunked span legs above, NO stage in any config
            # now tokenizes a whole document in-task after ingest
            bronze, n_restrip = _land(
                prechunk_documents(survivors, chunk_tokens=ct),
                "bronze_restripped",
            )
            emit("bronze_restripped", {"records": n_restrip})

    n_before_gopher = n_clean if span_totals is None else span_totals["span_docs"]
    n_gopher = None
    if config.gopher_gate:
        from etl_guiacores_spark.operators.textstats import gopher_quality

        if bronze is not None:
            # bronze path: survivor text matches the chunk table
            # (untouched since ingest, or refreshed after whichever
            # span stage rewrote it last), so the gate reads balanced
            # chunk rows keyed down to the survivor ids — identical
            # metrics and flags
            from etl_guiacores_spark.operators.textstats import (
                prechunked_gopher_quality,
            )

            gq = prechunked_gopher_quality(
                bronze.join(
                    survivors.select("doc_id"), "doc_id", "left_semi"
                ),
                min_tokens=config.gopher_min_tokens,
                max_tokens=config.gopher_max_tokens,
                validate=False,  # the pipeline wrote the bronze table
            )
        else:
            gq = gopher_quality(
                survivors,
                min_tokens=config.gopher_min_tokens,
                max_tokens=config.gopher_max_tokens,
            )
        passing = gq.filter(F.col("passes") == 1).select("doc_id")
        survivors, n_gopher = _land(
            survivors.join(passing, "doc_id", "left_semi"), "gopher_gated"
        )
        if n_gopher > n_before_gopher:
            raise RuntimeError(
                "gopher gate produced MORE docs than it was given "
                f"({n_gopher} > {n_before_gopher}) — a filter stage "
                "must be monotone"
            )
        emit("gopher_gate", {"records": n_gopher})

    n_sampled = None
    if config.mixture_total is not None:
        from etl_guiacores_spark.operators.sampling import (
            exact_quota_stratified,
        )

        missing = [c for c in config.mixture_strata
                   if c not in survivors.columns]
        if missing:
            raise ValueError(
                f"mixture_total set but strata column(s) {missing} are "
                f"not in the document schema {survivors.columns} — "
                "carry them through ingest (the CLI keeps 'source' "
                "when present)"
            )
        survivors, n_sampled = _land(
            exact_quota_stratified(
                survivors,
                list(config.mixture_strata),
                config.mixture_total,
                key_col="doc_id",
            ),
            "sampled",
        )
        n_avail = n_gopher if n_gopher is not None else n_before_gopher
        want = min(config.mixture_total, n_avail)
        if n_sampled != want:
            raise RuntimeError(
                "mixture quota did not land the exact budget: got "
                f"{n_sampled}, expected {want} (= min(total="
                f"{config.mixture_total}, available={n_avail}))"
            )
        emit("mixture", {"records": n_sampled})

    # the last landing of ``survivors`` counted them
    n_survivors = next(
        n for n in (n_sampled, n_gopher, n_before_gopher) if n is not None
    )
    chunks, n_chunks = _land(
        chunk_documents(
            survivors, chunk_tokens=config.chunk_tokens, overlap=config.chunk_overlap
        ),
        "chunks",
    )
    emit("chunks", {"records": n_chunks})
    vocab, n_vocab = _land(build_vocab(survivors, top_k=config.vocab_top_k), "vocab")
    emit("vocab", {"records": n_vocab})

    shard_stats = None
    shard_stats_text = (
        _read_sidecar(spark, f"{out_dir}/shards/stats.json")
        if (config.write_shards and resume)
        else None
    )
    if shard_stats_text is not None:
        shard_stats = _json.loads(shard_stats_text)
        emit(
            "shards_resumed",
            {
                "records": shard_stats["n_sequences"],
                "n_shards": shard_stats["n_shards"],
            },
        )
    elif config.write_shards:
        from etl_guiacores_spark.plans.shard_writer import _land_shards

        shard_stats = _land_shards(
            chunks,
            n_survivors,
            f"{out_dir}/shards",
            None,
            budget_tokens=config.budget_tokens,
            num_bins=config.shard_bins,
            sequences_per_shard=config.sequences_per_shard,
        )
        # Composition invariants: every landed chunk is packed exactly
        # once (the chunk references observed on the packed landing),
        # and the manifest's token total equals the stored chunks
        # table's token sum — packing may only rearrange tokens, never
        # create or drop them. A disagreement means two stages
        # disagree on tokenization, the bug class that silently
        # truncates training data.
        chunk_tok = (
            chunks.agg(F.sum("n_chunk_tokens").cast("long").alias("t"))
            .first()["t"]
        ) or 0
        if shard_stats["n_chunks"] != n_chunks:
            raise RuntimeError(
                "shard-writer chunk count disagrees with the chunks "
                f"stage: {shard_stats['n_chunks']} != {n_chunks}"
            )
        if shard_stats["total_tokens"] != chunk_tok:
            raise RuntimeError(
                "token conservation violated between chunks and shard "
                f"manifest: manifest={shard_stats['total_tokens']} "
                f"chunks={chunk_tok}"
            )
        emit(
            "shards",
            {
                "records": shard_stats["n_sequences"],
                "n_shards": shard_stats["n_shards"],
            },
        )

    metrics = {
        "raw_docs": n_raw,
        "after_quality_lang_filter": n_filtered,
        "after_exact_dedup": n_exact,
        "after_near_dup": n_clean,
        "near_dup_pairs": n_pairs,
        "chunks": n_chunks,
        "vocab_size": n_vocab,
    }
    if n_decontam is not None:
        metrics["after_decontamination"] = n_decontam
    if span_totals is not None:
        metrics.update(span_totals)
    if n_gopher is not None:
        metrics["after_gopher_gate"] = n_gopher
    if n_sampled is not None:
        metrics["after_mixture_quota"] = n_sampled
    if shard_stats is not None:
        metrics["shards"] = shard_stats
    _write_sidecar(
        spark,
        f"{out_dir}/metrics.json",
        _json.dumps(metrics, indent=2, ensure_ascii=False, default=str),
    )
    emit("done", {"records": n_clean})
    return metrics
