"""Unit tests for text-analysis operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_guiacores_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    stopword_ratio,
    token_count,
)


def apply1(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    return [r[0] for r in df.select(fn(F.col("x")).alias("y")).collect()]


class TestTokenStats:
    def test_token_count(self, spark):
        assert apply1(spark, token_count, ["a b  c", "", "  ", "one"]) == [3, 0, 0, 1]

    def test_stopword_ratio(self, spark):
        got = apply1(spark, stopword_ratio, ["the cat and dog", "cat dog", ""])
        assert got[0] == 0.5
        assert got[1] == 0.0
        assert got[2] is None

    def test_quality_score_bands(self, spark):
        long_good = "the quick brown fox jumps over the lazy dog again and again ok"
        got = apply1(spark, quality_score, [long_good, "x"])
        assert got[0] == 1.0
        assert got[1] < 1.0


class TestLangId:
    def test_markers_and_cjk(self, spark):
        got = apply1(
            spark,
            lang_id,
            [
                "the cat is on the mat and it is fine",
                "el gato que vive en la casa de los gatos",
                "der Hund und die Katze ist ein Tier",
                "你好世界",
                "zzz qqq",
            ],
        )
        assert got == ["en", "es", "de", "zh", "und"]


class TestFingerprint:
    def test_normalization_invariance(self, spark):
        a, b = fingerprint(F.lit("Hello,  World!")), fingerprint(F.lit("hello world"))
        row = spark.range(1).select(a.alias("a"), b.alias("b")).collect()[0]
        assert row["a"] == row["b"]


def test_bigram_query_survives_single_token_docs(spark, tmp_path):
    """Regression: F.sequence(1, 0) descends ([1, 0]) and crashed the
    bigram query on any one-token document."""
    from etl_guiacores_spark.queries import REGISTRY
    import etl_guiacores_spark.queries_scale  # noqa: F401

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "solo", "en", "src0"), (2, "two tokens", "en", "src1")],
        "doc_id bigint, text string, lang string, source string",
    ).write.parquet(f"{sf}/documents.parquet")
    rows = REGISTRY["q68_bigram_counts"].fn(spark, sf).collect()
    assert {r["bigram"] for r in rows} == {"two tokens"}


def test_gopher_quality_fails_empty_docs_without_crashing(spark):
    """An empty/whitespace-only document FAILS the gate (passes=0) —
    the unguarded /0 would throw DIVIDE_BY_ZERO under ANSI and kill
    the whole curation job on the first blank doc."""
    from etl_guiacores_spark.operators.textstats import gopher_quality

    d = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["passes"] for r in gopher_quality(d).collect()}
    assert out == {1: 0, 2: 0, 3: 0}


def test_gopher_quality_band_is_configurable(spark):
    """The published Gopher rule is 50..100k words; the fixture-scaled
    default band must be overridable for a real corpus."""
    from etl_guiacores_spark.operators.textstats import gopher_quality

    text = "the of and " + " ".join(f"word{i}" for i in range(97))  # 100 tokens
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    assert gopher_quality(d).collect()[0]["passes"] == 0  # default band: too long
    wide = gopher_quality(d, min_tokens=50, max_tokens=100_000).collect()[0]
    assert wide["passes"] == 1


class TestBoilerplateExtraction:
    def test_chrome_dies_prose_survives(self, spark):
        from pyspark.sql import functions as F

        from etl_guiacores_spark.operators.textstats import extract_main_text

        html = (
            '<html><head><style>.x{color:red}</style>'
            '<SCRIPT>var trap = "</p>";</SCRIPT></head><body>'
            '<div class="nav">Home | About</div>'
            '<p>This is the real article text with enough tokens.</p>'
            '<p>Second &amp; final paragraph &lt;kept&gt; here too.</p>'
            '<footer>(c) 2024</footer></body></html>'
        )
        out = spark.createDataFrame([(html,)], "h string").select(
            extract_main_text(F.col("h")).alias("t")
        ).first()["t"]
        assert out == (
            "This is the real article text with enough tokens.\n"
            "Second & final paragraph <kept> here too."
        )

    def test_all_chrome_page_yields_empty(self, spark):
        from pyspark.sql import functions as F

        from etl_guiacores_spark.operators.textstats import (
            extract_main_text,
            main_text_lines,
        )

        html = '<html><body><div class="nav">Home | About</div></body></html>'
        r = spark.createDataFrame([(html,)], "h string").select(
            F.size(main_text_lines(F.col("h"))).alias("n"),
            extract_main_text(F.col("h")).alias("t"),
        ).first()
        assert r["n"] == 0 and r["t"] == ""

    def test_script_containing_closing_tag_is_removed(self, spark):
        """The classic naive-stripper trap: a script body containing
        '</p>' must vanish with the block, not leak text."""
        from pyspark.sql import functions as F

        from etl_guiacores_spark.operators.textstats import extract_main_text

        html = (
            '<script>document.write("evil text that must never appear '
            'in training data </p>");</script>'
            "<p>The only legitimate sentence stands right here.</p>"
        )
        out = spark.createDataFrame([(html,)], "h string").select(
            extract_main_text(F.col("h")).alias("t")
        ).first()["t"]
        assert out == "The only legitimate sentence stands right here."


class TestPmiCollocations:
    def test_matches_brute_force(self, spark):
        from collections import Counter

        from etl_guiacores_spark.operators.textstats import pmi_collocations

        docs = [
            (1, "new york new york city hall"),
            (2, "new york is big and new york is loud"),
            (3, "city hall and york city"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        W, MIN = 2, 2
        uni, pairs = Counter(), Counter()
        for _, t in docs:
            toks = t.split()
            uni.update(toks)
            for i in range(len(toks)):
                for d in range(1, W + 1):
                    if i + d < len(toks):
                        pairs[(toks[i], toks[i + d])] += 1
        n, p = sum(uni.values()), sum(pairs.values())
        want = {
            k: (c, (c * n * n * 1_000_000) // (p * uni[k[0]] * uni[k[1]]))
            for k, c in pairs.items()
            if c >= MIN
        }
        got = {
            (r["w1"], r["w2"]): (r["pair_count"], r["ratio_ppm"])
            for r in pmi_collocations(df, window=W, min_count=MIN).collect()
        }
        assert got == want
        # 'new york' must be a strong positive collocation
        assert got[("new", "york")][1] > 1_000_000


class TestVocabOverlap:
    def test_jaccard_exact(self, spark):
        docs = spark.createDataFrame(
            [
                ("a", "red green blue"),
                ("a", "red RED"),          # case-folds, dedupes
                ("b", "blue yellow"),
                ("c", "purple"),
            ],
            "source string, text string",
        )
        from etl_guiacores_spark.operators.textstats import vocab_overlap

        got = {
            (r["group_a"], r["group_b"]): (
                r["vocab_a"], r["vocab_b"], r["inter"], r["jaccard_ppm"]
            )
            for r in vocab_overlap(docs).collect()
        }
        # a = {red, green, blue}, b = {blue, yellow}, c = {purple}
        assert got[("a", "b")] == (3, 2, 1, 1_000_000 // 4)
        assert ("a", "c") not in got  # disjoint pairs have no row
        assert ("b", "c") not in got


class TestSaltedTextScores:
    """The filter leg over pre-chunked rows must keep exactly the
    documents the per-row quality_score/lang_id leg keeps — the
    chunk-merged counters feed the same formulas — for every edge the
    per-row operators handle."""

    DOCS = [
        (1, "the quick brown fox jumps over the lazy dog and it is a "
            "fine day for all of us to be here"),
        (2, ""),
        (3, None),
        (4, "   "),
        (5, "el la de que los una " * 40),          # es, tokens > chunk
        (6, "!!!,,,;;;"),                            # punct-only
        (7, "一鿿 hello the world"),         # CJK wins
        (8, "der die und das ist ein " + "x " * 5000),  # long tail doc
        (9, "le la et les des une " * 3),            # fr
        (10, "a b"),                                 # too short
        (11, "word " * 7),                           # exact chunk multiple
    ]

    def test_filter_documents_salted_equals_unsalted(self, spark):
        from etl_guiacores_spark.operators.chunking import prechunk_documents
        from etl_guiacores_spark.plans.corpus_pipeline import (
            CorpusConfig,
            filter_documents,
        )

        df = spark.createDataFrame(
            [(i, t, "s") for i, t in self.DOCS],
            "doc_id long, text string, source string",
        )
        plain = filter_documents(df, CorpusConfig(min_quality=0.5))
        salted = filter_documents(
            df, CorpusConfig(min_quality=0.5),
            chunks=prechunk_documents(df, chunk_tokens=4),
        )
        assert plain.columns == salted.columns
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )


class TestSaltedGopher:
    DOCS = [
        (1, "the and of to is it for in a an " * 5),
        (2, ""), (3, None), (4, "   "),
        (5, "x " * 100),
        (6, "the quick brown fox jumps over the lazy dog and it is a "
            "fine day " * 2),
        (7, "!!! ??? ,,, the fox"),
        (8, "supercalifragilistic " * 30),
    ]

    def test_counters_stay_long_in_both_twins(self, spark):
        """n_tokens is bigint in BOTH twins: the merged counters must
        not be cast back to int, or a >2^31-char document — the
        giant-doc tail chunking exists for — throws CAST_OVERFLOW under
        ANSI instead of gating. Parity requires the per-row twin to
        widen identically."""
        from etl_guiacores_spark.operators.chunking import prechunk_documents
        from etl_guiacores_spark.operators.textstats import (
            gopher_quality,
            prechunked_gopher_quality,
        )

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        chunked = prechunked_gopher_quality(prechunk_documents(df))
        for out in (gopher_quality(df), chunked):
            dt = dict(out.dtypes)
            assert dt["n_tokens"] == "bigint", dt

    def test_stopword_bitmask_guard_fails_loud(self, spark, monkeypatch):
        """The distinct-stopword bitmask packs one presence bit per
        word into a single long — a vocabulary past 63 words would
        alias bits and silently corrupt n_stop_distinct, so the
        operator must refuse it (round-10 advice item)."""
        import pytest

        from etl_guiacores_spark.operators import textstats
        from etl_guiacores_spark.operators.chunking import prechunk_documents

        monkeypatch.setattr(
            textstats, "STOPWORDS", tuple(f"w{i}" for i in range(64))
        )
        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="at most 63"):
            textstats.prechunked_gopher_quality(prechunk_documents(df))

    def test_pipeline_gate_salted_equals_unsalted(self, spark, tmp_path):
        """run_corpus_pipeline's gopher stage must land the identical
        survivor set under prechunk_tokens."""
        from etl_guiacores_spark.plans.corpus_pipeline import (
            CorpusConfig,
            run_corpus_pipeline,
        )
        from etl_guiacores_spark.sources.tables import load_table

        docs = load_table(
            spark, "documents", "/root/testdata/sf0.001"
        ).select("doc_id", "text", "source")
        base = dict(min_quality=0.0, near_dup_jaccard=0.6,
                    chunk_tokens=16, chunk_overlap=4, gopher_gate=True)
        m_plain = run_corpus_pipeline(
            docs, str(tmp_path / "plain"), CorpusConfig(**base)
        )
        m_salted = run_corpus_pipeline(
            docs, str(tmp_path / "salted"),
            CorpusConfig(**base, prechunk_tokens=8),
        )
        assert m_plain == m_salted
        plain_ids = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / "plain/gopher_gated")).collect()
        )
        salted_ids = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / "salted/gopher_gated")).collect()
        )
        assert plain_ids == salted_ids
