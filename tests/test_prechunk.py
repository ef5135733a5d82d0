"""The pre-chunked BRONZE layout (round-11): chunking.prechunk_documents
plus the three consumers that read it — textstats.prechunked_text_scores,
textstats.prechunked_gopher_quality, similarity.prechunked_minhash.

The layout's contract is exactness: chunks concatenate back to the
document byte-for-byte, and chunking.prechunked_tokens reproduces the
document's tokens() array as per-chunk slices INCLUDING the phantom
empty tokens space-only trim leaves at \t/\n document edges — so every
consumer is bit-identical to its per-row twin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_guiacores_spark.operators.chunking import (
    prechunk_documents,
    prechunked_tokens,
    require_chunk_contract,
)

#: fixtures deliberately heavy on the tokenization edge cases: empty,
#: NULL, whitespace-only, multi-space runs, tab/newline DOC EDGES (the
#: phantom-empty-token quirk), CJK, no-whitespace giant token, unicode
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog and it is a fine day " * 3),
    (2, ""),
    (3, None),
    (4, "   "),
    (5, "el la de que los una palabra mas aqui"),
    (6, "x! y? z. the, a; of: in"),
    (7, "中文 文本 的 测试 one two three"),
    (8, "tok " * 100),
    (9, "  leading   ws\t and \n newlines the of a  "),
    (10, "supercalifragilistic " * 9),
    (11, "trailing newline the of a doc\n"),
    (12, "\nleading newline the of a doc"),
    (13, "\n"),
    (14, "a\tb\nc the of \n "),
    (15, "word\n" * 30),
    (16, "nowhitespacetokenxxxxxxxxxxxxxxx"),
]

CHUNK_SIZES = (3, 5, 17, 4096)


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


class TestPrechunkLayout:
    def test_chunks_concatenate_back_to_the_document(self, spark):
        df = _docs(spark)
        for ct in (1, 2, 3, 7, 4096):
            rows = prechunk_documents(df, chunk_tokens=ct).collect()
            byid: dict = {}
            for r in rows:
                byid.setdefault(r["doc_id"], []).append(
                    (r["chunk_pos"], r["chunk_text"])
                )
            for did, text in DOCS:
                got = sorted(byid[did])
                assert [p for p, _ in got] == list(range(len(got))), (
                    ct, did,
                )
                if text is None:
                    assert got == [(0, None)], (ct, did)
                else:
                    assert "".join(c for _, c in got) == text, (ct, did)

    def test_token_slices_reproduce_tokens_exactly(self, spark):
        """Concatenating prechunked_tokens in pos order must equal
        textstats.tokens(document) element-for-element — including
        the phantom '' tokens at \t/\n document edges (docs 9,
        11-15). This is THE invariant every consumer's counter
        exactness rides on."""
        from etl_guiacores_spark.operators.textstats import tokens

        df = _docs(spark)
        want = {
            r["doc_id"]: r["tk"]
            for r in df.select(
                "doc_id", tokens(F.col("text")).alias("tk")
            ).collect()
        }
        for ct in (1, 3, 7, 4096):
            rows = (
                prechunk_documents(df, chunk_tokens=ct)
                .withColumn(
                    "tk",
                    prechunked_tokens(
                        F.col("chunk_text"), F.col("chunk_pos")
                    ),
                )
                .collect()
            )
            byid: dict = {}
            for r in rows:
                byid.setdefault(r["doc_id"], []).append(
                    (r["chunk_pos"], r["tk"])
                )
            for did, _ in DOCS:
                got = [t for _, tk in sorted(byid[did]) for t in tk]
                assert got == want[did], (ct, did, got, want[did])

    def test_tok_off_matches_cumulative_token_sizes(self, spark):
        """The write-time global token offset (round 12) must equal
        the cumulative prechunked_tokens size of preceding chunks for
        EVERY fixture doc at every chunk size — including the
        leading-phantom docs (9, 12, 13, 14) whose every non-first
        chunk shifts by one."""
        df = _docs(spark)
        for ct in (1, 2, 3, 7, 4096):
            rows = (
                prechunk_documents(df, chunk_tokens=ct)
                .withColumn(
                    "tk",
                    prechunked_tokens(
                        F.col("chunk_text"), F.col("chunk_pos")
                    ),
                )
                .collect()
            )
            byid: dict = {}
            for r in rows:
                byid.setdefault(r["doc_id"], []).append(
                    (r["chunk_pos"], len(r["tk"]), r["tok_off"])
                )
            for did, _ in DOCS:
                run = 0
                for pos, sz, off in sorted(byid[did]):
                    assert off == run, (ct, did, pos, off, run)
                    run += sz

    def test_chunk_tokens_guard(self, spark):
        with pytest.raises(ValueError, match="chunk_tokens"):
            prechunk_documents(_docs(spark), chunk_tokens=0)

    def test_contract_check_flags_violations(self, spark):
        ok = prechunk_documents(_docs(spark), chunk_tokens=3)
        require_chunk_contract(ok, "doc_id", "chunk_pos", "t")  # clean
        cases = [
            ([(1, 0, "a"), (1, 2, "b")], "gap"),
            ([(1, 1, "a")], "not starting at 0"),
            ([(1, 0, "a"), (1, 0, "b")], "duplicate pos"),
            ([(None, 0, "a")], "null id"),
        ]
        for rows, label in cases:
            bad = spark.createDataFrame(
                rows, "doc_id long, chunk_pos int, chunk_text string"
            )
            with pytest.raises(ValueError, match="chunk contract"):
                require_chunk_contract(bad, "doc_id", "chunk_pos", "t")
            assert label  # documents the case


class TestPrechunkedConsumers:
    def test_text_scores_bit_identical(self, spark):
        from etl_guiacores_spark.operators.textstats import (
            lang_id,
            prechunked_text_scores,
            quality_score,
        )

        df = _docs(spark)
        want = sorted(
            tuple(r)
            for r in df.select(
                "doc_id",
                quality_score(F.col("text")).alias("quality"),
                lang_id(F.col("text")).alias("pred_lang"),
            ).collect()
        )
        for ct in CHUNK_SIZES:
            ch = prechunk_documents(df, chunk_tokens=ct)
            got = sorted(
                tuple(r) for r in prechunked_text_scores(ch).collect()
            )
            assert got == want, ct

    def test_gopher_bit_identical(self, spark):
        from etl_guiacores_spark.operators.textstats import (
            gopher_quality,
            prechunked_gopher_quality,
        )

        df = _docs(spark)
        want = sorted(tuple(r) for r in gopher_quality(df).collect())
        for ct in CHUNK_SIZES:
            ch = prechunk_documents(df, chunk_tokens=ct)
            got = sorted(
                tuple(r)
                for r in prechunked_gopher_quality(ch).collect()
            )
            assert got == want, ct

    def test_minhash_bit_identical_with_shingles(self, spark):
        from etl_guiacores_spark.operators.similarity import (
            prechunked_minhash,
            with_minhash,
        )

        df = _docs(spark)
        cols = ["doc_id", "sh", "sig_0", "sig_1", "sig_2", "sig_3"]
        want = sorted(
            tuple(r)
            for r in with_minhash(
                df.select("doc_id", "text"), "text",
                shingle_col="shingles",
            )
            .select(
                "doc_id",
                F.array_sort("shingles").alias("sh"),
                "sig_0", "sig_1", "sig_2", "sig_3",
            )
            .collect()
        )
        for ct in CHUNK_SIZES:
            ch = prechunk_documents(df, chunk_tokens=ct)
            got = sorted(
                tuple(r)
                for r in prechunked_minhash(ch, with_shingles=True)
                .select(
                    "doc_id",
                    F.array_sort("shingles").alias("sh"),
                    "sig_0", "sig_1", "sig_2", "sig_3",
                )
                .collect()
            )
            assert got == want, (ct, cols)

    def test_minhash_fast_hash_family(self, spark):
        from etl_guiacores_spark.operators.similarity import (
            prechunked_minhash,
            with_minhash,
        )

        df = _docs(spark)
        want = sorted(
            tuple(r)
            for r in with_minhash(
                df.select("doc_id", "text"), "text", portable=False
            )
            .select("doc_id", "sig_0", "sig_1", "sig_2", "sig_3")
            .collect()
        )
        got = sorted(
            tuple(r)
            for r in prechunked_minhash(
                prechunk_documents(df, chunk_tokens=4), portable=False
            ).collect()
        )
        assert got == want

    def test_pipeline_prechunk_equals_salted_and_plain(
        self, spark, tmp_path
    ):
        """run_corpus_pipeline(prechunk_tokens=8) must land the
        identical metrics envelope and survivor sets as the per-row
        run, with the bronze_chunks artifact fenced on disk."""
        from etl_guiacores_spark.plans.corpus_pipeline import (
            CorpusConfig,
            run_corpus_pipeline,
        )
        from etl_guiacores_spark.sources.tables import load_table

        docs = load_table(
            spark, "documents", "/root/testdata/sf0.001"
        ).select("doc_id", "text", "source")
        base = dict(
            min_quality=0.0, near_dup_jaccard=0.6, chunk_tokens=16,
            chunk_overlap=4, gopher_gate=True,
        )
        m_plain = run_corpus_pipeline(
            docs, str(tmp_path / "plain"), CorpusConfig(**base)
        )
        m_bronze = run_corpus_pipeline(
            docs, str(tmp_path / "bronze"),
            CorpusConfig(**base, prechunk_tokens=8),
        )
        assert m_bronze == m_plain
        for stage in ("gopher_gated", "clean", "filtered"):
            ids = {
                v: sorted(
                    r["doc_id"]
                    for r in spark.read.parquet(
                        str(tmp_path / v / stage)
                    ).collect()
                )
                for v in ("plain", "bronze")
            }
            assert ids["bronze"] == ids["plain"], stage
        # the bronze artifact itself landed, fenced, and reconstructs
        bronze = spark.read.parquet(str(tmp_path / "bronze/bronze_chunks"))
        assert bronze.columns == [
            "doc_id", "chunk_pos", "chunk_text", "tok_off",
        ]
        assert (tmp_path / "bronze/bronze_chunks/_SUCCESS").exists()

    def test_pipeline_full_config_rechunks_after_span_excision(
        self, spark, tmp_path
    ):
        """Round-12 (verdict item #2): with decontam_spans rewriting
        survivor text upstream of near-dup, the prechunk run must
        land a bronze_rechunked refresh and route near-dup through it
        — no fallback to whole-document shingling — while staying
        envelope-identical to the per-row run.
        The fixture includes a doc QUOTING the benchmark mid-page
        (partial excision), a doc that IS the benchmark verbatim
        (fully excised to empty text — the post-rewrite empty-doc
        edge), and a clean doc."""
        from etl_guiacores_spark.plans.corpus_pipeline import (
            CorpusConfig,
            run_corpus_pipeline,
        )
        from etl_guiacores_spark.sources.tables import load_table

        bench_text = (
            "which of the following best describes the capital "
            "allocation strategy question under review today"
        )
        extra = spark.createDataFrame(
            [
                (100001, "intro words here " + bench_text
                 + " closing words after the quotation run on", "web"),
                (100002, bench_text, "web"),
                (100003, "a perfectly ordinary document with nothing "
                 "quoted from anywhere at all honestly", "web"),
            ],
            "doc_id long, text string, source string",
        )
        docs = (
            load_table(spark, "documents", "/root/testdata/sf0.001")
            .select("doc_id", "text", "source")
            .limit(60)
            .unionByName(extra)
        )
        bench_p = str(tmp_path / "bench")
        spark.createDataFrame(
            [("preamble " + bench_text + " postamble",)], ["text"]
        ).write.parquet(bench_p)
        base = dict(
            min_quality=0.0, near_dup_jaccard=0.6, chunk_tokens=16,
            chunk_overlap=4, gopher_gate=True, strip_spans=True,
            # span_n=6 activates the PRE-CHUNKED repeated-span leg
            # (needs chunks >= n-1=5 tokens; prechunk_tokens is 8);
            # decontam_span_n=8 needs >= 7 — also active. Both legs
            # must stay envelope-identical.
            span_n=6, span_min_docs=2, benchmark_path=bench_p,
            decontam_min_overlaps=10_000,  # only the SPAN stage acts
            decontam_spans=True, decontam_span_n=8,
        )
        m_plain = run_corpus_pipeline(
            docs, str(tmp_path / "plain"), CorpusConfig(**base)
        )
        stages = []
        m_bronze = run_corpus_pipeline(
            docs, str(tmp_path / "bronze"),
            CorpusConfig(**base, prechunk_tokens=8),
            progress_callback=lambda s, i: stages.append(s),
        )
        assert m_bronze == m_plain
        assert "bronze_rechunked" in stages
        assert "bronze_restripped" in stages  # post-strip gopher feed
        for stage in ("clean", "gopher_gated", "eval_span_stripped"):
            ids = {
                v: sorted(
                    r["doc_id"]
                    for r in spark.read.parquet(
                        str(tmp_path / v / stage)
                    ).collect()
                )
                for v in ("plain", "bronze")
            }
            assert ids["bronze"] == ids["plain"], stage
        # the refresh landed, fenced, and concatenates back to the
        # REWRITTEN survivor text (not the ingest text)
        root = tmp_path / "bronze"
        assert (root / "bronze_rechunked/_SUCCESS").exists()
        rebuilt = {
            r["doc_id"]: r["t"]
            for r in spark.read.parquet(str(root / "bronze_rechunked"))
            .groupBy("doc_id")
            .agg(
                F.concat_ws(
                    "", F.array_sort(
                        F.collect_list(F.struct("chunk_pos", "chunk_text"))
                    ).getField("chunk_text")
                ).alias("t")
            )
            .collect()
        }
        stripped = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(
                str(root / "eval_span_stripped")
            ).collect()
        }
        assert rebuilt == {k: (v or "") for k, v in stripped.items()}
        assert bench_text not in rebuilt[100001]
        assert rebuilt[100002] == ""  # fully excised doc, still covered

    def test_pipeline_prechunk_resume_skips_rechunk(self, spark, tmp_path):
        from etl_guiacores_spark.plans.corpus_pipeline import (
            CorpusConfig,
            run_corpus_pipeline,
        )
        from etl_guiacores_spark.sources.tables import load_table

        docs = load_table(
            spark, "documents", "/root/testdata/sf0.001"
        ).select("doc_id", "text", "source")
        cfg = CorpusConfig(
            min_quality=0.0, near_dup_jaccard=0.6, chunk_tokens=16,
            chunk_overlap=4, prechunk_tokens=8,
        )
        out = str(tmp_path / "run")
        m1 = run_corpus_pipeline(docs, out, cfg)
        stages = []
        m2 = run_corpus_pipeline(
            docs, out, cfg, resume=True,
            progress_callback=lambda s, i: stages.append(s),
        )
        assert m1 == m2
        assert "bronze_chunks_resumed" in stages

    def test_pipeline_prechunk_requires_salt_knob(self, spark, tmp_path):
        from etl_guiacores_spark.plans.corpus_pipeline import (
            CorpusConfig,
            run_corpus_pipeline,
        )

        docs = spark.createDataFrame(
            [(1, "a b c", "s")], "doc_id long, text string, source string"
        )
        for bad in (0, 2):
            with pytest.raises(ValueError, match="prechunk_tokens"):
                run_corpus_pipeline(
                    docs, str(tmp_path / "x"),
                    CorpusConfig(prechunk_tokens=bad),
                )

    def test_minhash_rejects_undersized_nonfinal_chunks(self, spark):
        """The boundary requirement is ENFORCED under validate: a
        bronze table whose non-final chunks hold < n-1 tokens would
        silently lose cross-boundary n-grams (they can span three
        chunks), so the operator must refuse it rather than return
        wrong signatures."""
        from etl_guiacores_spark.operators.similarity import (
            prechunked_minhash,
        )

        df = spark.createDataFrame(
            [(1, "a b c d e f")], "doc_id long, text string"
        )
        tiny = prechunk_documents(df, chunk_tokens=1)
        with pytest.raises(ValueError, match="non-final chunk"):
            prechunked_minhash(tiny, n=3).collect()
        # chunk_tokens >= n is fine
        ok = prechunk_documents(df, chunk_tokens=3)
        assert prechunked_minhash(ok, n=3).count() == 1

    def test_coverage_probe_catches_partial_bronze(self, spark):
        """A stale/partial bronze table would silently DROP uncovered
        docs at the filter leg (inner join) and silently KEEP them at
        the near-dup leg (no signatures -> automatic survivor) — the
        coverage probe makes both loud."""
        from etl_guiacores_spark.operators.chunking import (
            require_chunk_coverage,
        )
        from etl_guiacores_spark.plans.corpus_pipeline import (
            CorpusConfig,
            filter_documents,
            near_dup_removal,
        )

        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
        )
        partial = prechunk_documents(
            docs.filter(F.col("doc_id") == 1), chunk_tokens=4
        )
        with pytest.raises(ValueError, match="no rows in the pre-chunked"):
            require_chunk_coverage(docs, partial, "doc_id", "t")
        with pytest.raises(ValueError, match="no rows in the pre-chunked"):
            filter_documents(
                docs, CorpusConfig(prechunk_tokens=4),
                validate_ids=True, chunks=partial,
            )
        with pytest.raises(ValueError, match="no rows in the pre-chunked"):
            near_dup_removal(
                docs, 0.6, validate_ids=True, chunks=partial
            )
        # full coverage passes
        full = prechunk_documents(docs, chunk_tokens=4)
        require_chunk_coverage(docs, full, "doc_id", "t")

    def test_staged_and_incremental_legs_equivalent(self, spark):
        """stage_corpus_artifacts + incremental_near_dup accept the
        pre-chunked leg: the staged tables themselves match the
        per-row leg (signature rows equal, shingle arrays equal as
        sets) and so do the incremental survivors, so the daily-ingest
        shape can ride chunk rows end-to-end."""
        from etl_guiacores_spark.plans.corpus_pipeline import (
            append_corpus_artifacts,
            incremental_near_dup,
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
        results = {}
        for leg, kw in (
            ("plain", {}),
            ("bronze", {"chunks": prechunk_documents(docs, chunk_tokens=8)}),
        ):
            tables = stage_corpus_artifacts(
                old, f"pchk_{leg}", num_buckets=4, **kw
            )
            try:
                sigs = sorted(
                    tuple(r) for r in spark.table(tables["sigs"]).collect()
                )
                shingles = {
                    r["doc_id"]: frozenset(r["sh"])
                    for r in spark.table(tables["shingles"]).collect()
                }
                inc, inc_pairs = incremental_near_dup(
                    new, tables, 0.6, **kw
                )
                inc_rows = sorted(r["doc_id"] for r in inc.collect())
                results[leg] = (sigs, shingles, inc_rows)
                # fold the accepted batch back in on the same leg and
                # pin the table growth (the append path shares the
                # staged dispatch, so a chunked increment stays
                # chunked end-to-end)
                accepted = new.join(
                    spark.createDataFrame(
                        [(i,) for i in inc_rows], "doc_id long"
                    ),
                    "doc_id",
                    "left_semi",
                )
                append_corpus_artifacts(accepted, tables, **kw)
                n = spark.table(tables["shingles"]).count()
                assert n == old.count() + len(inc_rows)
                # release the persisted handle the call rode out
                # (repo convention: leaked cache entries are never
                # GC-reclaimed and pressure the shared session)
                inc_pairs.staged_sigs.unpersist()
            finally:
                for t in tables.values():
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
        assert len(results["plain"][0]) == old.count()
        assert results["bronze"] == results["plain"]

    def test_contract_enforced_by_default(self, spark):
        from etl_guiacores_spark.operators.similarity import (
            prechunked_minhash,
        )
        from etl_guiacores_spark.operators.textstats import (
            prechunked_gopher_quality,
            prechunked_text_scores,
        )

        bad = spark.createDataFrame(
            [(1, 0, "a b"), (1, 2, "c d")],
            "doc_id long, chunk_pos int, chunk_text string",
        )
        for op in (
            prechunked_text_scores,
            prechunked_gopher_quality,
            prechunked_minhash,
        ):
            with pytest.raises(ValueError, match="chunk contract"):
                op(bad).collect()


#: span-family fixtures: shared passages across documents (so
#: repeated_spans fires), a doc QUOTING a benchmark, phantom edges,
#: short docs, and a doc whose entire text is one shared passage
SHARED = "alpha beta gamma delta epsilon zeta eta theta"
SPAN_DOCS = [
    (1, "intro words here " + SHARED + " closing words after"),
    (2, "other leading text " + SHARED + " unrelated tail content"),
    (3, SHARED),
    (4, "a perfectly ordinary document with nothing shared at all"),
    (5, "tiny doc"),
    (6, ""),
    (7, None),
    (8, SHARED + "\n"),           # trailing phantom edge
    (9, "\t" + SHARED + " x y " + SHARED),  # two islands + leading phantom
    (10, ("repeat me now please " * 6).strip()),
    (11, ("repeat me now please " * 6).strip() + " suffix bits"),
]


class TestPrechunkedSpans:
    """The pre-chunked span family (round 12): detection
    (prechunked_repeated_spans, cross_span_contamination(chunks=))
    and apply (prechunked_strip_given_spans) must be BIT-identical to
    their whole-document twins over edge-case fixtures at several
    chunk sizes — the same parity discipline as the round-11
    prechunked consumers."""

    def _docs(self, spark):
        return spark.createDataFrame(
            SPAN_DOCS, "doc_id long, text string"
        )

    def _rows(self, df):
        return sorted(tuple(r) for r in df.collect())

    @pytest.mark.parametrize("n", [3, 4])
    @pytest.mark.parametrize("size", [3, 5, 17, 4096])
    def test_repeated_spans_bit_identical(self, spark, n, size):
        from etl_guiacores_spark.operators.dedupe import (
            prechunked_repeated_spans,
            repeated_spans,
        )

        if size < n - 1:
            pytest.skip("chunk below the boundary requirement")
        docs = self._docs(spark)
        chunks = prechunk_documents(docs, chunk_tokens=size)
        want = self._rows(repeated_spans(docs, n=n, min_docs=2))
        got = self._rows(
            prechunked_repeated_spans(chunks, n=n, min_docs=2)
        )
        assert got == want and want, (n, size)

    @pytest.mark.parametrize("size", [3, 5, 17, 4096])
    def test_cross_span_contamination_bit_identical(self, spark, size):
        from etl_guiacores_spark.operators.decontam import (
            cross_span_contamination,
        )

        n = 4
        docs = self._docs(spark)
        bench = spark.createDataFrame(
            [("preamble " + SHARED + " postamble",),
             ("repeat me now please repeat me now",)],
            "text string",
        ).select(F.lit(0).alias("doc_id"), "text")
        chunks = prechunk_documents(docs, chunk_tokens=size)
        want = self._rows(cross_span_contamination(docs, bench, n=n))
        got = self._rows(
            cross_span_contamination(docs, bench, n=n, chunks=chunks)
        )
        assert got == want and want, size

    @pytest.mark.parametrize("assign", [False, True])
    @pytest.mark.parametrize("size", [3, 5, 17, 4096])
    def test_strip_given_spans_bit_identical(self, spark, size, assign):
        """Same spans (from the per-row detector), both apply halves
        AND both span-distribution paths (generic per-doc array vs
        the chunk_tokens arithmetic assignment): every column —
        counts, retained_md5, retained_text — must match exactly,
        including phantom-edge docs (the leading-phantom shift and
        the trailing-phantom clamp both bite in the arithmetic path)
        and the fully-excised doc 3 (its whole text is one shared
        span)."""
        from etl_guiacores_spark.operators.dedupe import (
            prechunked_strip_given_spans,
            repeated_spans,
            strip_given_spans,
        )

        docs = self._docs(spark)
        spans = repeated_spans(docs, n=3, min_docs=2)
        chunks = prechunk_documents(docs, chunk_tokens=size)
        want = self._rows(
            strip_given_spans(docs, spans, keep_text=True)
        )
        got = self._rows(
            prechunked_strip_given_spans(
                chunks, spans, keep_text=True,
                chunk_tokens=size if assign else None,
            )
        )
        assert got == want and want, (size, assign)
        # sanity: doc 3 is fully excised (retained_text empty)
        full = {r[0]: r for r in want}
        assert full[3][2] == full[3][1]  # dup_tokens == n_tokens

    def test_strip_keep_ids_restricts_output(self, spark):
        from etl_guiacores_spark.operators.dedupe import (
            prechunked_strip_given_spans,
            repeated_spans,
        )

        docs = self._docs(spark)
        spans = repeated_spans(docs, n=3, min_docs=2)
        chunks = prechunk_documents(docs, chunk_tokens=5)
        keep = docs.filter("doc_id in (1, 3, 4)")
        got = prechunked_strip_given_spans(
            chunks, spans, keep_ids=keep
        )
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 3, 4]

    def test_positional_grams_match_whole_doc(self, spark):
        """The shared gram builder itself: (id, pos, hash) triples
        from chunks equal the whole-document posexplode, for every
        fixture doc at a boundary-stressing chunk size."""
        from etl_guiacores_spark.operators.chunking import (
            prechunked_positional_grams,
        )
        from etl_guiacores_spark.operators.textstats import (
            gram_key,
            kgrams,
            tokens,
        )

        n = 3
        docs = self._docs(spark)
        base = docs.select(
            "doc_id", tokens(F.col("text")).alias("__toks")
        ).filter(F.size("__toks") >= n)
        want = self._rows(
            base.select(
                "doc_id",
                F.posexplode(kgrams(F.col("__toks"), n)).alias(
                    "__pos", "__gram"
                ),
            ).select(
                "doc_id", "__pos", gram_key(F.col("__gram")).alias("__g")
            )
        )
        chunks = prechunk_documents(docs, chunk_tokens=3)
        got = self._rows(
            prechunked_positional_grams(chunks, n)
        )
        assert got == want and want

    def test_boundary_guard_fires(self, spark):
        from etl_guiacores_spark.operators.dedupe import (
            prechunked_repeated_spans,
        )

        docs = self._docs(spark)
        tiny = prechunk_documents(docs, chunk_tokens=2)
        with pytest.raises(ValueError, match="non-final chunk"):
            prechunked_repeated_spans(tiny, n=5, min_docs=2).collect()

    def test_wrong_chunk_tokens_fails_loud(self, spark):
        """Round-12 advice item: the arithmetic span-assignment path
        derives the leading-phantom shift from tok_off(pos=1) -
        chunk_tokens, which is 0 or 1 for any bronze written by
        prechunk_documents — a caller-supplied chunk_tokens that
        doesn't reproduce that identity would shift every span and
        corrupt retained_text SILENTLY, so the mismatch must raise
        in-plan."""
        from etl_guiacores_spark.operators.dedupe import (
            prechunked_repeated_spans,
            prechunked_strip_given_spans,
        )

        docs = self._docs(spark)
        chunks = prechunk_documents(docs, chunk_tokens=5)
        spans = prechunked_repeated_spans(chunks, n=3, min_docs=2)
        with pytest.raises(Exception, match="write-time layout"):
            prechunked_strip_given_spans(
                chunks, spans, chunk_tokens=7
            ).collect()
        # the matching size still passes (identity holds)
        ok = prechunked_strip_given_spans(
            chunks, spans, chunk_tokens=5
        )
        # 9 = len(SPAN_DOCS) minus the empty and NULL docs, which
        # zero-token contract excludes
        assert ok.count() == 9

    def test_repeated_spans_keep_ids_coverage_probe(self, spark):
        """Round-12 advice item: a keep_ids doc with no chunk rows
        would yield zero grams and so zero spans SILENTLY; under
        validate=True the coverage probe must fail loud instead."""
        from etl_guiacores_spark.operators.dedupe import (
            prechunked_repeated_spans,
        )

        docs = self._docs(spark)
        partial = prechunk_documents(
            docs.filter("doc_id <> 1"), chunk_tokens=5
        )
        with pytest.raises(ValueError, match="no rows in the pre-chunked"):
            prechunked_repeated_spans(
                partial, n=3, min_docs=2, keep_ids=docs
            )

    def test_null_tok_off_fails_loud(self, spark):
        """A pre-tok_off artifact read back under the new schema
        yields ALL-NULL offsets (parquet missing-column semantics) —
        positions computed from them would be silently garbage, so
        consuming one must raise, not coalesce."""
        from etl_guiacores_spark.operators.dedupe import (
            prechunked_repeated_spans,
        )

        docs = self._docs(spark)
        stale = prechunk_documents(docs, chunk_tokens=5).withColumn(
            "tok_off", F.lit(None).cast("long")
        )
        with pytest.raises(Exception, match="NULL tok_off"):
            prechunked_repeated_spans(
                stale, n=3, min_docs=2, validate=False
            ).collect()
