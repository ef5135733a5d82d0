"""Corpus pipeline end-to-end on crafted docs + the synthetic table."""

from __future__ import annotations

import json

import pytest

from etl_guiacores_spark.plans.corpus_pipeline import CorpusConfig, run_corpus_pipeline
from etl_guiacores_spark.sources.tables import load_table

GOOD = (
    "the quick brown fox jumps over the lazy dog and then it runs into the field again"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog and then it walks into the field again"
)


def test_corpus_pipeline_stages(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, GOOD),                      # survivor
            (2, GOOD.replace("the", "the ")),  # exact dup after normalization? no — distinct text, near-dup of 1
            (3, NEAR),                      # near-dup of 1 -> removed (higher id)
            (4, "short low quality"),       # fails quality band
            (5, GOOD.upper()),              # exact dup of 1 after fingerprint norm
            (6, "el gato que vive en la casa de los gatos come pescado fresco cada dia de la semana"),
        ],
        ["doc_id", "text"],
    )
    cfg = CorpusConfig(min_quality=0.6, near_dup_jaccard=0.5, chunk_tokens=8,
                       chunk_overlap=2, vocab_top_k=50)
    metrics = run_corpus_pipeline(docs, str(tmp_path / "corpus"), cfg)

    assert metrics["raw_docs"] == 6
    assert metrics["after_quality_lang_filter"] == 5  # doc 4 dropped
    assert metrics["after_exact_dedup"] == 4          # doc 5 == doc 1 fingerprint
    assert metrics["after_near_dup"] <= 3             # docs 2/3 fold into 1
    assert metrics["chunks"] > 0 and metrics["vocab_size"] > 0

    clean_ids = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus" / "clean")).collect()
    }
    assert 1 in clean_ids and 6 in clean_ids          # keep-lowest + spanish doc kept
    assert 3 not in clean_ids and 5 not in clean_ids

    saved = json.load(open(tmp_path / "corpus" / "metrics.json"))
    assert saved == metrics


def test_corpus_pipeline_on_synthetic_table(spark, tmp_path):
    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select("doc_id", "text")
    metrics = run_corpus_pipeline(docs, str(tmp_path / "corpus"))
    assert metrics["raw_docs"] > 0
    assert 0 < metrics["after_near_dup"] <= metrics["after_exact_dedup"]
    assert metrics["chunks"] >= metrics["after_near_dup"]


def test_cluster_exact_keeps_one_per_component(spark, tmp_path):
    # chain of near-dups: A~B, B~C but A!~C — greedy would drop B and C
    # yet keep A; exact clustering keeps exactly one of {A,B,C}
    base = "the quick brown fox jumps over the lazy dog again and again it runs far"
    b = base.replace("lazy", "sleepy")
    c = b.replace("quick", "rapid").replace("brown", "red")
    docs = spark.createDataFrame([(1, base), (2, b), (3, c)], ["doc_id", "text"])
    cfg = CorpusConfig(min_quality=0.0, near_dup_jaccard=0.3, cluster_exact=True,
                       chunk_tokens=8, chunk_overlap=2)
    metrics = run_corpus_pipeline(docs, str(tmp_path / "cc"), cfg)
    clean_ids = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "cc" / "clean")).collect()
    }
    assert metrics["near_dup_pairs"] >= 2
    assert clean_ids == {1}  # one survivor per component, minimum id


def test_cluster_exact_components_run_once(spark, tmp_path, monkeypatch):
    """Under cluster_exact the pipeline lands the verified pairs and
    derives the survivors from the landed table, so connected
    components run once on a fresh run — never a second time inside
    the pair leg — and not at all on a resume over the finished
    out_dir, whose clean stage is read back."""
    from etl_guiacores_spark.operators import graph

    calls = []
    real = graph.connected_components

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(graph, "connected_components", spy)
    base = "the quick brown fox jumps over the lazy dog again and again it runs far"
    b = base.replace("lazy", "sleepy")
    c = b.replace("quick", "rapid").replace("brown", "red")
    docs = spark.createDataFrame([(1, base), (2, b), (3, c)], ["doc_id", "text"])
    cfg = CorpusConfig(min_quality=0.0, near_dup_jaccard=0.3, cluster_exact=True,
                       chunk_tokens=8, chunk_overlap=2)
    out = str(tmp_path / "cc")
    fresh = run_corpus_pipeline(docs, out, cfg)
    assert len(calls) == 1
    resumed = run_corpus_pipeline(docs, out, cfg, resume=True)
    assert len(calls) == 1  # none on the resume: clean is fenced
    assert resumed == fresh and fresh["after_near_dup"] == 1


def test_incremental_near_dup_matches_full_recompute(spark):
    """Daily-ingest path: dedup a new batch against staged artifacts
    (no recomputation of the old corpus) — same final survivor set as
    a full recompute over the union."""
    from pyspark.sql import functions as F

    from etl_guiacores_spark.plans.corpus_pipeline import (
        append_corpus_artifacts,
        incremental_near_dup,
        near_dup_removal,
        stage_corpus_artifacts,
    )
    from etl_guiacores_spark.sources.tables import load_table

    docs = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    old = docs.filter("doc_id < 250")
    new = docs.filter("doc_id >= 250")
    # stage the already-deduped old corpus (the standing state)
    old_surv, _ = near_dup_removal(old, 0.6)
    tables = stage_corpus_artifacts(old_surv, "corpus_incr_test", num_buckets=4)
    try:
        inc_surv, inc_pairs = incremental_near_dup(new, tables, 0.6)
        # materialize BEFORE appending: inc_surv is lazy over the staged
        # tables, and append would make it see the batch's own sigs
        inc_rows = inc_surv.collect()
        old_ids = {r["doc_id"] for r in old_surv.collect()}
        # full recompute over (accepted old + new) for comparison
        full_surv, _ = near_dup_removal(old_surv.unionByName(new), 0.6)
        inc_ids = {r["doc_id"] for r in inc_rows} | old_ids
        full_ids = {r["doc_id"] for r in full_surv.collect()}
        assert inc_ids == full_ids
        # every dropped new doc has a verified culprit pair
        assert inc_pairs.filter("id_b < 250").count() == 0

        # folding the accepted batch in keeps the table bucket-aligned
        accepted = spark.createDataFrame(inc_rows, inc_surv.schema)
        append_corpus_artifacts(accepted, tables)
        n = spark.table(tables["shingles"]).count()
        assert n == len(old_ids) + len(inc_rows)
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_corpus_ingest(spark, tmp_path):
    """File-stream ingest: two document drops dedup against the staged
    corpus incrementally (second run resumes from the checkpoint and
    only processes the new file); accepted output matches a sequential
    incremental run."""
    from pyspark.sql import functions as F

    from etl_guiacores_spark.plans.corpus_pipeline import (
        append_corpus_artifacts,
        incremental_near_dup,
        near_dup_removal,
        stage_corpus_artifacts,
        streaming_corpus_ingest,
    )
    from etl_guiacores_spark.sources.tables import load_table

    docs = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    seed, _ = near_dup_removal(docs.filter("doc_id < 250"), 0.6)
    batch_a = docs.filter("doc_id >= 250 AND doc_id < 350")
    batch_b = docs.filter("doc_id >= 350")

    # expected: sequential incremental application over a twin staging
    twin = stage_corpus_artifacts(seed, "corpus_stream_twin", num_buckets=4)
    try:
        exp_ids = set()
        for batch in (batch_a, batch_b):
            surv, _ = incremental_near_dup(batch, twin, 0.6)
            rows = surv.collect()  # materialize before append
            exp_ids |= {r["doc_id"] for r in rows}
            append_corpus_artifacts(
                spark.createDataFrame(rows, surv.schema), twin
            )
    finally:
        for t in twin.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    tables = stage_corpus_artifacts(seed, "corpus_stream_test", num_buckets=4)
    inp = str(tmp_path / "incoming")
    acc = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    try:
        batch_a.write.mode("append").parquet(inp)
        q = streaming_corpus_ingest(spark, inp, tables, acc, ckpt, threshold=0.6)
        q.awaitTermination(120)

        batch_b.write.mode("append").parquet(inp)
        q = streaming_corpus_ingest(spark, inp, tables, acc, ckpt, threshold=0.6)
        q.awaitTermination(120)
        # every micro-batch released its staged batch signatures
        assert cm.isEmpty(), "streaming ingest leaked a cache entry"

        got_ids = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
        assert got_ids == exp_ids
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_rejects_mismatched_hash_family(spark):
    """Staged md5-hex signatures vs a native-xxhash batch: the band
    equi-join would match NOTHING and silently admit every duplicate —
    the schema mismatch must raise instead of failing open."""
    import pytest
    from pyspark.sql import functions as F

    from etl_guiacores_spark.plans.corpus_pipeline import (
        incremental_near_dup,
        stage_corpus_artifacts,
    )
    from etl_guiacores_spark.sources.tables import load_table

    docs = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    tables = stage_corpus_artifacts(
        docs.filter("doc_id < 100"), "corpus_family_test",
        num_buckets=4, portable=True,
    )
    try:
        with pytest.raises(ValueError, match="hash family"):
            incremental_near_dup(
                docs.filter("doc_id >= 100"), tables, 0.6, portable=False
            )
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_near_dup_releases_staged_on_raise(spark):
    """Round-11 advice item: EVERY raise path out of
    incremental_near_dup must release the just-persisted batch
    signature handle — not only the schema-mismatch raise. A missing
    or renamed staged table (spark.table raises) used to leak the
    cache entry for the session lifetime."""
    import pytest
    from pyspark.sql import functions as F

    from etl_guiacores_spark.operators.chunking import prechunk_documents
    from etl_guiacores_spark.plans.corpus_pipeline import (
        incremental_near_dup,
        stage_corpus_artifacts,
    )
    from etl_guiacores_spark.sources.tables import load_table

    docs = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()

    batch = docs.filter("doc_id >= 100")
    tables = stage_corpus_artifacts(
        docs.filter("doc_id < 100"), "corpus_leak_test",
        num_buckets=4, portable=True,
    )
    try:
        # both legs persist the batch signatures before the raises
        for leg in ({}, {"chunks": prechunk_documents(batch, chunk_tokens=8)}):
            # raise path 1: staged tables don't exist (spark.table
            # raises BEFORE the schema check)
            with pytest.raises(Exception):
                incremental_near_dup(
                    batch,
                    {"sigs": "no_such_sigs_tbl", "shingles": "no_such_sh_tbl"},
                    0.6, **leg,
                )
            assert cm.isEmpty(), "staged batch signatures leaked on missing-table raise"

            # raise path 2: schema mismatch (the originally-guarded raise)
            with pytest.raises(ValueError, match="hash family"):
                incremental_near_dup(batch, tables, 0.6, portable=False, **leg)
            assert cm.isEmpty(), "staged batch signatures leaked on schema-mismatch raise"
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_prechunk_tokens_id_check_fails_loud(spark, tmp_path):
    """prechunk_tokens makes doc_id the chunk-merge key, so the run
    refuses a NULL or duplicate id on its ingest count job, naming the
    counts; the per-row path accepts the same duplicate-id input, and
    a chunk size below the shingle bound is refused up front."""
    import pytest

    text = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string, source string"
    null_id = spark.createDataFrame(
        [(1, text, "s"), (None, text + " more", "s")], schema
    )
    dup_id = spark.createDataFrame(
        [(1, text, "s"), (1, text + " more", "s")], schema
    )
    cfg = CorpusConfig(min_quality=0.0, prechunk_tokens=8)
    with pytest.raises(ValueError, match="found 1 NULL and 0 duplicate"):
        run_corpus_pipeline(null_id, str(tmp_path / "null"), cfg)
    with pytest.raises(ValueError, match="found 0 NULL and 1 duplicate"):
        run_corpus_pipeline(dup_id, str(tmp_path / "dup"), cfg)
    m = run_corpus_pipeline(
        dup_id, str(tmp_path / "rows"),
        CorpusConfig(min_quality=0.0, prechunk_tokens=None),
    )
    assert m["raw_docs"] == 2
    with pytest.raises(ValueError, match="prechunk_tokens"):
        run_corpus_pipeline(
            dup_id, str(tmp_path / "small"), CorpusConfig(prechunk_tokens=2)
        )


def test_model_quality_gate_in_filter_stage(spark, tmp_path):
    """With model_weights_path set, the filter stage additionally drops
    docs whose linear-model margin misses the threshold."""
    from pyspark.sql import functions as F

    from etl_guiacores_spark.operators.importance import feature_bucket
    from etl_guiacores_spark.plans.corpus_pipeline import CorpusConfig, filter_documents

    docs = spark.createDataFrame(
        [(1, "alpha words here keep this document around for the gate"),
         (2, "beta words here keep this document around for the gate")],
        "doc_id long, text string",
    )
    buckets = {
        r["tok"]: r["b"]
        for r in spark.createDataFrame([("alpha",), ("beta",)], "tok string")
        .select("tok", feature_bucket(F.col("tok"), 4096, "lmq").alias("b"))
        .collect()
    }
    wp = str(tmp_path / "weights")
    spark.createDataFrame(
        [(buckets["alpha"], 100_000), (buckets["beta"], -100_000)],
        "bucket long, weight_ppm long",
    ).write.parquet(wp)
    cfg = CorpusConfig(min_quality=0.0, model_weights_path=wp, model_threshold_ppm=1)
    kept = {r["doc_id"] for r in filter_documents(docs, cfg).collect()}
    assert kept == {1}  # alpha-weighted doc clears, beta-weighted doesn't


def test_pipeline_all_optional_stages_together(spark, tmp_path):
    """Model gate + Bloom decontamination + cluster-exact survivors in
    ONE run: the stages must compose (each consumes the previous
    stage's landed table) and the metrics envelope must report every
    stage."""
    from pyspark.sql import functions as F

    from etl_guiacores_spark.operators.importance import feature_bucket
    from etl_guiacores_spark.plans.corpus_pipeline import (
        CorpusConfig,
        run_corpus_pipeline,
    )

    bench_p = str(tmp_path / "bench")
    spark.createDataFrame(
        [("leaked benchmark passage that must never train",)], "text string"
    ).write.parquet(bench_p)

    # model: 'good' tokens weigh positive, 'spam' negative
    buckets = {
        r["tok"]: r["b"]
        for r in spark.createDataFrame([("good",), ("spam",)], "tok string")
        .select("tok", feature_bucket(F.col("tok"), 4096, "lmq").alias("b"))
        .collect()
    }
    wp = str(tmp_path / "weights")
    spark.createDataFrame(
        [(buckets["good"], 50_000), (buckets["spam"], -50_000)],
        "bucket long, weight_ppm long",
    ).write.parquet(wp)

    docs = spark.createDataFrame(
        [
            (1, "good words fill this perfectly ordinary training document today"),
            (2, "good words fill this perfectly ordinary training document today"),  # exact dup of 1
            (3, "spam spam spam spam spam spam spam spam spam spam"),                # model-gated
            (4, "good leaked benchmark passage that must never train good good"),    # contaminated
            (5, "good another clean and wholly distinct document with plenty text"),
        ],
        "doc_id long, text string",
    )
    res = run_corpus_pipeline(
        docs,
        str(tmp_path / "out"),
        CorpusConfig(
            min_quality=0.0,
            cluster_exact=True,
            model_weights_path=wp,
            model_threshold_ppm=1,
            benchmark_path=bench_p,
        ),
    )
    clean = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out" / "clean")).collect()
    }
    assert clean == {1, 5}  # 2 exact-dup'd, 3 model-gated, 4 decontaminated
    assert res["after_quality_lang_filter"] == 4   # model gate dropped doc 3
    assert res["after_exact_dedup"] == 3           # dup collapsed
    assert res["after_decontamination"] == 2       # doc 4 out
    assert res["after_near_dup"] == 2


def test_golden_corpus_run_composes_all_stages(spark, tmp_path):
    """The full golden run in ONE invocation: ingest -> filter ->
    exact dedup -> doc + span decontam -> near-dup CC survivors ->
    repeated-span strip -> Gopher gate -> exact mixture quota ->
    chunks/vocab -> packed shards + atomic manifest. The pipeline
    itself asserts token conservation and quota exactness at every
    boundary, so completing IS most of the test; here we additionally
    verify the metrics chain is monotone, the quota hit its budget
    with source shares apportioned, and the landed shard set agrees
    with its manifest."""
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text", "source"
    )
    # benchmark that overlaps real corpus text: take 8-token windows
    # out of two documents so both the doc-level drop and the
    # span-excise paths fire
    bench_rows = [
        (" ".join(r["text"].split()[2:10]),)
        for r in docs.orderBy("doc_id").limit(2).collect()
    ]
    bench_p = str(tmp_path / "bench")
    spark.createDataFrame(bench_rows, "text string").write.parquet(bench_p)

    cfg = CorpusConfig(
        min_quality=0.0,
        near_dup_jaccard=0.6,
        cluster_exact=True,
        chunk_tokens=16,
        chunk_overlap=4,
        vocab_top_k=200,
        benchmark_path=bench_p,
        decontam_spans=True,
        decontam_span_n=6,
        strip_spans=True,
        span_n=8,
        gopher_gate=True,
        gopher_min_tokens=10,
        gopher_max_tokens=120,
        mixture_total=60,
        mixture_strata=("source",),
        write_shards=True,
        budget_tokens=64,
        sequences_per_shard=50,
    )
    stages = []
    out = str(tmp_path / "golden")
    m = run_corpus_pipeline(
        docs, out, cfg, progress_callback=lambda s, i: stages.append(s)
    )

    # every optional stage actually ran, in order
    for s in ("raw", "filtered", "exact_dedup", "decontam",
              "decontam_spans", "near_dup", "span_strip", "gopher_gate",
              "mixture", "chunks", "vocab", "shards", "done"):
        assert s in stages, f"stage {s} never emitted"

    # monotone filter chain
    assert (m["raw_docs"] >= m["after_quality_lang_filter"]
            >= m["after_exact_dedup"] >= m["after_decontamination"]
            >= m["after_near_dup"] >= m["after_gopher_gate"]
            >= m["after_mixture_quota"])
    assert m["after_mixture_quota"] == min(60, m["after_gopher_gate"])

    # quota: per-source counts follow largest-remainder apportionment
    # of the gopher-gated population (recomputed independently here)
    gated = (
        spark.read.parquet(f"{out}/gopher_gated")
        .groupBy("source").count().collect()
    )
    pop = {r["source"]: r["count"] for r in gated}
    n = sum(pop.values())
    total = min(60, n)
    base = {s: total * c // n for s, c in pop.items()}
    left = total - sum(base.values())
    by_rem = sorted(
        pop, key=lambda s: (-(total * pop[s] % n), s)
    )
    for s in by_rem[:left]:
        base[s] += 1
    got = {
        r["source"]: r["count"]
        for r in spark.read.parquet(f"{out}/sampled")
        .groupBy("source").count().collect()
    }
    assert got == {s: q for s, q in base.items() if q > 0}

    # shard set agrees with its manifest (count + token totals), and
    # the stats the pipeline recorded are the manifest's
    manifest = spark.read.parquet(f"{out}/shards/manifest")
    shards = spark.read.parquet(f"{out}/shards/shards")
    agg = manifest.agg(
        F.sum("n_sequences").alias("s"), F.sum("n_tokens").alias("t")
    ).first()
    assert shards.count() == agg["s"] == m["shards"]["n_sequences"]
    assert (shards.agg(F.sum("n_tokens")).first()[0] or 0) == agg["t"]
    assert m["shards"]["total_tokens"] == agg["t"]
    # no sequence exceeds the budget (chunk_tokens <= budget_tokens)
    assert (shards.agg(F.max("n_tokens")).first()[0] or 0) <= 64


def test_golden_run_chunks_its_survivors_once(spark, tmp_path, monkeypatch):
    """With write_shards the shard stage packs the pipeline's landed
    chunks table: the survivors are chunked by one call, and the shard
    stats still count every landed chunk and document."""
    from etl_guiacores_spark.operators import chunking
    from etl_guiacores_spark.plans import corpus_pipeline, shard_writer

    calls = []

    def spy(*args, **kwargs):
        calls.append(1)
        return chunking.chunk_documents(*args, **kwargs)

    monkeypatch.setattr(corpus_pipeline, "chunk_documents", spy)
    monkeypatch.setattr(shard_writer, "chunk_documents", spy)
    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    cfg = CorpusConfig(
        min_quality=0.0, chunk_tokens=16, chunk_overlap=4, write_shards=True,
        budget_tokens=64, sequences_per_shard=50,
    )
    # a plain out_dir and its file:// URI: every stage, the shard
    # manifest swap and its sidecars take both
    for form, as_path in (("plain", str), ("uri", lambda p: p.as_uri())):
        calls.clear()
        m = run_corpus_pipeline(docs, as_path(tmp_path / form / "once"), cfg)
        assert len(calls) == 1
        assert m["shards"]["n_chunks"] == m["chunks"]
        assert m["shards"]["n_docs"] == m["after_near_dup"]


def test_golden_run_reuses_compiled_classes(spark, tmp_path):
    """A repeated golden run in one JVM reuses its generated classes:
    the session's codegen cache holds the run's whole working set, so
    the second run compiles almost nothing. With Spark's default
    100-entry cache the LRU evicted every class and the second run
    recompiled ~300 of them. With the codegen stage id in the class
    name (Spark's default), AQE's renumbering of a few stages on a rerun
    left a residual of 6-10; the session leaves the id out and the
    second run measured 0."""
    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text", "source"
    )
    bench_rows = [
        (" ".join(r["text"].split()[2:12]),)
        for r in docs.orderBy("doc_id").limit(4).collect()
    ]
    bench_p = str(tmp_path / "bench")
    spark.createDataFrame(bench_rows, "text string").write.parquet(bench_p)
    cfg = CorpusConfig(
        min_quality=0.0, near_dup_jaccard=0.6, cluster_exact=True,
        chunk_tokens=64, chunk_overlap=8, vocab_top_k=1000,
        benchmark_path=bench_p, decontam_spans=True, decontam_span_n=8,
        strip_spans=True, span_n=10, gopher_gate=True, gopher_min_tokens=10,
        gopher_max_tokens=200, mixture_total=100, mixture_strata=("source",),
        write_shards=True, budget_tokens=512, sequences_per_shard=1000,
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    first = run_corpus_pipeline(docs, str(tmp_path / "run1"), cfg)
    before = compiles.getCount()
    second = run_corpus_pipeline(docs, str(tmp_path / "run2"), cfg)
    recompiled = compiles.getCount() - before
    assert {k: v for k, v in second.items() if k != "shards"} == {
        k: v for k, v in first.items() if k != "shards"
    }
    assert recompiled <= 30


def test_resume_skips_landed_stages_and_guards_config(spark, tmp_path):
    """Crash-resume: rerunning over the same out_dir with resume=True
    must read landed stages back instead of recomputing (artifact
    mtimes untouched), reproduce identical metrics, and refuse loudly
    when the config changed since the artifacts were produced."""
    import os

    import pytest

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text", "source"
    )
    cfg = CorpusConfig(
        min_quality=0.0, near_dup_jaccard=0.6, chunk_tokens=16,
        chunk_overlap=4, gopher_gate=True, gopher_min_tokens=10,
        gopher_max_tokens=120, mixture_total=60, write_shards=True,
        budget_tokens=64, sequences_per_shard=50,
    )
    out = str(tmp_path / "resume")
    m1 = run_corpus_pipeline(docs, out, cfg)

    def mtimes():
        t = {}
        for stage in ("filtered", "clean", "gopher_gated", "sampled",
                      "chunks"):
            d = os.path.join(out, stage)
            t[stage] = max(
                os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)
            )
        t["shards_stats"] = os.path.getmtime(
            os.path.join(out, "shards", "stats.json"))
        return t

    before = mtimes()
    stages = []
    m2 = run_corpus_pipeline(
        docs, out, cfg, resume=True,
        progress_callback=lambda s, i: stages.append(s),
    )
    assert m2 == m1                      # identical metrics envelope
    assert mtimes() == before            # nothing was rewritten
    # every landed stage carries its _resumed marker (the canonical
    # stage event still fires afterwards with the same count — the
    # progress contract is unchanged for consumers)
    for s in ("filtered_resumed", "dup_pairs_resumed", "clean_resumed",
              "gopher_gated_resumed", "sampled_resumed",
              "chunks_resumed", "vocab_resumed", "shards_resumed"):
        assert s in stages, s

    # changed config must refuse, not silently mix artifacts
    cfg2 = CorpusConfig(**{**cfg.__dict__, "near_dup_jaccard": 0.9})
    with pytest.raises(ValueError, match="DIFFERENT config"):
        run_corpus_pipeline(docs, out, cfg2, resume=True)
    # ...but a plain rerun (resume=False) overwrites and re-fingerprints
    m3 = run_corpus_pipeline(docs, out, cfg2)
    assert m3["raw_docs"] == m1["raw_docs"]


def test_resume_guards_input_identity_and_missing_fingerprint(
    spark, tmp_path
):
    """Round-8 advice: the fingerprint must also cover the INPUT
    (resuming with a different dataset is exactly as stale as a
    changed config), and fenced artifacts with NO fingerprint sidecar
    must refuse rather than be trusted."""
    import os

    import pytest

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text", "source"
    )
    cfg = CorpusConfig(min_quality=0.0, near_dup_jaccard=0.6,
                       chunk_tokens=16, chunk_overlap=4)
    out = str(tmp_path / "resume_ident")
    run_corpus_pipeline(docs, out, cfg)

    # different input (row count changes) -> refuse
    with pytest.raises(ValueError, match="DIFFERENT config or input"):
        run_corpus_pipeline(docs.limit(20), out, cfg, resume=True)

    # fenced stages but fingerprint sidecar gone -> refuse
    os.remove(os.path.join(out, "pipeline_config.json"))
    with pytest.raises(ValueError, match="no pipeline_config.json"):
        run_corpus_pipeline(docs, out, cfg, resume=True)

    # round-9 advice: the probe must cover EVERY landed stage, not just
    # "filtered" — with filtered's fence also torn, the surviving later
    # fences (clean, dup_pairs, chunks, ...) must still refuse; a fresh
    # fingerprint here would let _land silently reuse them
    os.remove(os.path.join(out, "filtered", "_SUCCESS"))
    with pytest.raises(ValueError, match="no pipeline_config.json"):
        run_corpus_pipeline(docs, out, cfg, resume=True)

    # round-10 review finding: a surviving SHARD artifact alone (every
    # stage fence gone, only shards/stats.json left — what the shard
    # resume path actually reuses) must also refuse; the old probe
    # checked shards/_SUCCESS, a file the shard writer never creates
    out2 = str(tmp_path / "resume_shards_only")
    os.makedirs(os.path.join(out2, "shards"))
    with open(os.path.join(out2, "shards", "stats.json"), "w") as fh:
        fh.write("{}")
    with pytest.raises(ValueError, match="no pipeline_config.json"):
        run_corpus_pipeline(docs, out2, cfg, resume=True)

    # the probe is every fenced child of out_dir, not a hand-kept list
    # of stage names: a fenced stage the list never named refuses too
    out3 = str(tmp_path / "resume_unlisted_stage")
    spark.range(3).write.parquet(os.path.join(out3, "packed"))
    with pytest.raises(ValueError, match="no pipeline_config.json"):
        run_corpus_pipeline(docs, out3, cfg, resume=True)


def test_resume_recomputes_torn_mid_stage(spark, tmp_path):
    """Kill-between-stages simulation (round-8 verdict item 7): a
    stage whose ``_SUCCESS`` fence is missing — torn mid-write — must
    RECOMPUTE on resume while its landed upstream reads back, and the
    rerun must land the fence again with identical metrics."""
    import os

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text", "source"
    )
    cfg = CorpusConfig(min_quality=0.0, near_dup_jaccard=0.6,
                       chunk_tokens=16, chunk_overlap=4)
    out = str(tmp_path / "resume_torn")
    m1 = run_corpus_pipeline(docs, out, cfg)

    # tear the 'clean' stage: parquet files stay, fence removed —
    # exactly what a crash between file commit and fence leaves
    os.remove(os.path.join(out, "clean", "_SUCCESS"))
    stages = []
    m2 = run_corpus_pipeline(
        docs, out, cfg, resume=True,
        progress_callback=lambda s, i: stages.append(s),
    )
    assert m2 == m1
    # upstream landed stages resumed; the torn stage did NOT
    assert "filtered_resumed" in stages
    assert "dup_pairs_resumed" in stages
    assert "clean_resumed" not in stages
    assert "near_dup" in stages                  # recomputed + landed
    assert os.path.exists(os.path.join(out, "clean", "_SUCCESS"))
    # downstream of the torn stage also recomputed (chunks/vocab were
    # fenced, but a THIRD run now resumes everything again cleanly)
    m3 = run_corpus_pipeline(docs, out, cfg, resume=True)
    assert m3 == m1


def test_golden_run_quota_missing_stratum_column_fails_loud(spark, tmp_path):
    import pytest

    docs = spark.createDataFrame(
        [(1, GOOD), (2, NEAR)], ["doc_id", "text"]  # no 'source' column
    )
    cfg = CorpusConfig(min_quality=0.0, mixture_total=1)
    with pytest.raises(ValueError, match="strata column"):
        run_corpus_pipeline(docs, str(tmp_path / "x"), cfg)


def test_streaming_ingest_keeps_shards_current(spark, tmp_path):
    """With shards_dir set, each micro-batch's survivors append to a
    live training-shard set: after two drops the shard stream must be
    dense, tile token space, and contain exactly the accepted docs'
    chunks (conservation against the accepted output)."""
    from pyspark.sql import functions as F

    from etl_guiacores_spark.operators.chunking import chunk_documents
    from etl_guiacores_spark.plans.corpus_pipeline import (
        near_dup_removal,
        stage_corpus_artifacts,
        streaming_corpus_ingest,
    )
    from etl_guiacores_spark.sources.tables import load_table

    docs = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    seed, _ = near_dup_removal(docs.filter("doc_id < 250"), 0.6)
    tables = stage_corpus_artifacts(seed, "corpus_stream_shards", num_buckets=4)
    inp = str(tmp_path / "incoming")
    acc = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    shards = str(tmp_path / "live_shards")
    kw = dict(budget_tokens=128, chunk_tokens=32, overlap=0,
              num_bins=8, sequences_per_shard=50)
    try:
        docs.filter("doc_id >= 250 AND doc_id < 350").write.mode("append").parquet(inp)
        q = streaming_corpus_ingest(spark, inp, tables, acc, ckpt,
                                    threshold=0.6, shards_dir=shards,
                                    shard_kwargs=kw)
        q.awaitTermination(120)
        docs.filter("doc_id >= 350").write.mode("append").parquet(inp)
        q = streaming_corpus_ingest(spark, inp, tables, acc, ckpt,
                                    threshold=0.6, shards_dir=shards,
                                    shard_kwargs=kw)
        q.awaitTermination(120)

        accepted = spark.read.parquet(acc).select("doc_id", "text")
        exp_chunks = chunk_documents(accepted, chunk_tokens=32, overlap=0)
        exp_tokens = exp_chunks.agg(F.sum("n_chunk_tokens")).first()[0]
        seqs = spark.read.parquet(f"{shards}/shards")
        assert seqs.agg(F.sum("n_tokens")).first()[0] == exp_tokens
        got = sorted(r["global_seq"] for r in seqs.collect())
        assert got == list(range(len(got)))
        assert seqs.filter(F.col("n_tokens") > 128).count() == 0
        manifest = spark.read.parquet(f"{shards}/manifest")
        assert manifest.agg(F.sum("n_tokens")).first()[0] == exp_tokens
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_span_strip_stage(spark, tmp_path):
    # two long documents sharing a 12-token boilerplate passage at
    # DIFFERENT offsets (the case tiled segmentation misses), plus a
    # short doc that passes through intact
    boiler = "this license text is repeated verbatim across every single document here"
    a = "alpha beta gamma delta " + boiler + " epsilon zeta eta theta iota kappa"
    b = boiler + " one two three four five six seven eight nine ten eleven twelve"
    c = "completely unique text with no shared passage inside it at all today"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    cfg = CorpusConfig(
        min_quality=0.0, near_dup_jaccard=0.99, chunk_tokens=8,
        chunk_overlap=2, vocab_top_k=50, strip_spans=True, span_n=10,
        span_min_docs=2,
    )
    out = tmp_path / "corpus"
    metrics = run_corpus_pipeline(docs, str(out), cfg)

    # conservation totals are in the metrics and internally consistent
    assert metrics["span_total_tokens"] == (
        metrics["span_dup_tokens"] + metrics["span_retained_tokens"]
    )
    assert metrics["span_dup_tokens"] > 0  # the boilerplate was found

    stripped = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(out / "span_stripped")).collect()
    }
    # the shared passage is gone from BOTH docs, unique text intact
    assert boiler not in stripped[1] and boiler not in stripped[2]
    assert "alpha beta gamma delta" in stripped[1]
    assert stripped[3] == c
    # downstream stages consumed the STRIPPED text
    chunk_text = " ".join(
        r["chunk_text"]
        for r in spark.read.parquet(str(out / "chunks")).collect()
    )
    assert "repeated verbatim" not in chunk_text

    acct = spark.read.parquet(str(out / "span_accounting")).collect()
    by_id = {r["doc_id"]: r for r in acct}
    assert by_id[1]["dup_tokens"] == by_id[2]["dup_tokens"] > 0
    assert by_id[3]["dup_tokens"] == 0


def test_decontam_spans_stage(spark, tmp_path):
    import pytest

    # doc 1 QUOTES the benchmark mid-page (must be excised, doc kept);
    # doc 2 is clean; neither IS a benchmark member, so the doc-level
    # drop keeps both
    bench_text = ("which of the following best describes the "
                  "capital allocation strategy question")
    a = ("intro words here " + bench_text +
         " closing words after the quotation run on")
    b = "a perfectly ordinary document with nothing quoted from anywhere"
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    bench_p = str(tmp_path / "bench")
    spark.createDataFrame(
        [("preamble " + bench_text + " postamble",)], ["text"]
    ).write.parquet(bench_p)

    cfg = CorpusConfig(
        min_quality=0.0, near_dup_jaccard=0.99, chunk_tokens=8,
        chunk_overlap=2, vocab_top_k=50,
        benchmark_path=bench_p,
        # 3-gram doc-level overlap would drop doc 1 entirely; require
        # an impossible overlap count so only the SPAN stage acts
        decontam_min_overlaps=10_000,
        decontam_spans=True, decontam_span_n=8,
    )
    out = tmp_path / "corpus"
    metrics = run_corpus_pipeline(docs, str(out), cfg)

    stripped = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(out / "eval_span_stripped")).collect()
    }
    assert len(stripped) == 2                     # no doc dropped
    assert bench_text not in stripped[1]          # quotation excised
    assert "intro words here" in stripped[1]      # rest survives
    assert stripped[2] == b                       # clean doc untouched

    acct = {r["doc_id"]: r for r in
            spark.read.parquet(str(out / "eval_span_accounting")).collect()}
    assert acct[1]["dup_tokens"] > 0
    assert acct[2]["dup_tokens"] == 0
    assert all(
        r["n_tokens"] == r["dup_tokens"] + r["retained_tokens"]
        for r in acct.values()
    )
    # downstream chunks never see the quotation
    chunk_text = " ".join(
        r["chunk_text"]
        for r in spark.read.parquet(str(out / "chunks")).collect()
    )
    assert "capital allocation strategy" not in chunk_text

    # misconfiguration fails loud
    with pytest.raises(ValueError):
        run_corpus_pipeline(
            docs, str(tmp_path / "bad"),
            CorpusConfig(decontam_spans=True),
        )


@pytest.mark.parametrize("operator", ["strip_given_spans", "strip_repeated_spans"])
def test_span_leg_conservation_check_trips(spark, tmp_path, monkeypatch, operator):
    """Each span leg asserts token conservation on its stored
    artifacts: a strip that loses one token from one document's
    rewritten text (but still accounts for it) fails the run."""
    from pyspark.sql import functions as F

    import etl_guiacores_spark.operators.dedupe as dedupe

    real = getattr(dedupe, operator)

    def lossy(*args, **kwargs):
        out = real(*args, **kwargs)
        return out.withColumn(
            "retained_text",
            F.when(
                F.col("doc_id") == 1,
                F.regexp_replace("retained_text", r"^\S+\s*", ""),
            ).otherwise(F.col("retained_text")),
        )

    monkeypatch.setattr(dedupe, operator, lossy)
    bench_text = ("which of the following best describes the "
                  "capital allocation strategy question")
    a = ("intro words here " + bench_text +
         " closing words after the quotation run on")
    b = "a perfectly ordinary document with nothing quoted from anywhere"
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    cfg = dict(min_quality=0.0, near_dup_jaccard=0.99, chunk_tokens=8,
               chunk_overlap=2, vocab_top_k=50)
    if operator == "strip_given_spans":
        bench_p = str(tmp_path / "bench")
        spark.createDataFrame([(bench_text,)], ["text"]).write.parquet(bench_p)
        cfg.update(benchmark_path=bench_p, decontam_min_overlaps=10_000,
                   decontam_spans=True, decontam_span_n=8)
    else:
        cfg.update(strip_spans=True, span_n=10, span_min_docs=2)
    with pytest.raises(RuntimeError, match="token conservation violated"):
        run_corpus_pipeline(docs, str(tmp_path / "corpus"), CorpusConfig(**cfg))


def test_span_legs_conserve_an_empty_input(spark, tmp_path):
    """No document reaches either span leg: nothing is stripped, so
    nothing can be lost, and the conservation checks pass."""
    bench_p = str(tmp_path / "bench")
    spark.createDataFrame([("short low quality",)], ["text"]).write.parquet(bench_p)
    docs = spark.createDataFrame([(1, "short low quality")], ["doc_id", "text"])
    cfg = CorpusConfig(min_quality=1.5, benchmark_path=bench_p,
                       decontam_spans=True, strip_spans=True)
    m = run_corpus_pipeline(docs, str(tmp_path / "corpus"), cfg)
    assert m["after_quality_lang_filter"] == 0
    assert (m["span_docs"], m["span_total_tokens"]) == (0, 0)


def test_span_legs_cache_detection_once_not_on_resume(
    spark, tmp_path, monkeypatch
):
    """Each span leg lands its accounting and its rewritten text from
    one cached execution of the span detection. A resume over the
    fenced landings runs no detection, so it fills no cache."""
    DataFrame = type(spark.range(1))  # the session's concrete class
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    cached_at_release = []
    release = DataFrame.unpersist

    def spy(self, *args, **kwargs):
        if "retained_text" in self.columns:  # a span leg's frame
            cached_at_release.append(persistent().size())
        return release(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "unpersist", spy)
    bench_text = ("which of the following best describes the "
                  "capital allocation strategy question")
    docs = spark.createDataFrame(
        [(1, "intro words here " + bench_text + " closing words after"),
         (2, GOOD), (3, GOOD + " and more")],
        ["doc_id", "text"],
    )
    bench_p = str(tmp_path / "bench")
    spark.createDataFrame([(bench_text,)], ["text"]).write.parquet(bench_p)
    cfg = CorpusConfig(
        min_quality=0.0, near_dup_jaccard=0.99, chunk_tokens=8,
        chunk_overlap=2, vocab_top_k=50, benchmark_path=bench_p,
        decontam_min_overlaps=10_000, decontam_spans=True,
        decontam_span_n=8, strip_spans=True, span_n=10, span_min_docs=2,
    )
    out = str(tmp_path / "corpus")
    base = persistent().size()
    fresh = run_corpus_pipeline(docs, out, cfg)
    assert fresh["span_dup_tokens"] > 0
    assert len(cached_at_release) == 2
    assert all(n > base for n in cached_at_release)
    cached_at_release.clear()
    assert run_corpus_pipeline(docs, out, cfg, resume=True) == fresh
    assert cached_at_release == [base, base]


def test_write_shards_refuses_remote_out_dir(spark):
    import pytest

    docs = spark.createDataFrame([(1, GOOD)], ["doc_id", "text"])
    cfg = CorpusConfig(write_shards=True)
    with pytest.raises(ValueError, match="posix"):
        run_corpus_pipeline(docs, "s3a://bucket/corpus", cfg)
