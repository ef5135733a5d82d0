"""BM25 retrieval: brute-force parity with the exact rational spec,
tie-break totality, posting restriction, and the leakage-safe split's
same-cluster guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_guiacores_spark.operators.retrieval import PPM, bm25_scores, bm25_topk
from etl_guiacores_spark.operators.sampling import hash_split, leakage_safe_split


def _brute_bm25(docs: dict[int, str], terms: list[str]) -> dict[int, tuple[int, int]]:
    """Python truth of the operator's integer spec (k1=6/5, b=3/4)."""
    toks = {i: t.split() for i, t in docs.items()}
    n = len(docs)
    avgdl_micro = sum(len(v) for v in toks.values()) * PPM // n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out: dict[int, tuple[int, int]] = {}
    for i, v in toks.items():
        score, hits = 0, 0
        dl = len(v)
        for t in terms:
            tf = v.count(t)
            if tf == 0:
                continue
            hits += 1
            idf_ppm = (2 * (n - dfreq[t]) + 1) * PPM // (2 * dfreq[t] + 1)
            ratio_ppm = dl * PPM * PPM // avgdl_micro
            tfc_ppm = (44 * PPM * tf * PPM) // (20 * PPM * tf + 6 * PPM + 18 * ratio_ppm)
            score += idf_ppm * tfc_ppm // PPM
        if hits:
            out[i] = (score, hits)
    return out


DOCS = {
    0: "spark query engine fast fast fast",
    1: "slow table scan scan scan scan scan scan",
    2: "spark spark spark spark join",
    3: "vector index probe",
    4: "unrelated words only here",
    5: "spark vector spark vector",
}


def _df(spark, docs=DOCS):
    return spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )


def test_scores_match_brute_force(spark):
    terms = ["spark", "vector", "scan"]
    got = {
        r["doc_id"]: (r["score_ppm"], r["n_hit_terms"])
        for r in bm25_scores(_df(spark), terms).collect()
    }
    assert got == _brute_bm25(DOCS, terms)


def test_no_hit_docs_absent_and_rarity_wins(spark):
    terms = ["spark", "vector"]
    rows = bm25_scores(_df(spark), terms).collect()
    ids = {r["doc_id"] for r in rows}
    assert 4 not in ids and 1 not in ids
    # 'vector' (df 2) outscores 'spark' (df 3) at equal tf/dl
    one_each = {
        10: "spark pad pad",
        11: "vector pad pad",
        12: "spark vector x",
        13: "spark other y",  # makes 'spark' df=3 vs 'vector' df=2
    }
    s = {
        r["doc_id"]: r["score_ppm"]
        for r in bm25_scores(_df(spark, one_each), terms).collect()
    }
    assert s[11] > s[10]


def test_tf_saturation_not_linear(spark):
    """Okapi saturation: 4x the tf must give far less than 4x the
    per-term score (same dl, same df)."""
    docs = {0: "hit pad pad pad", 1: "hit hit hit hit"}
    s = {
        r["doc_id"]: r["score_ppm"]
        for r in bm25_scores(_df(spark, docs), ["hit"]).collect()
    }
    assert s[0] < s[1] < 2 * s[0]


def test_topk_tiebreak_total_order(spark):
    # identical docs => identical scores; the cut must take lowest ids
    docs = {i: "tie words here" for i in range(10)}
    got = [r["doc_id"] for r in bm25_topk(_df(spark, docs), ["tie"], k=4).collect()]
    assert got == [0, 1, 2, 3]


def test_validates_terms(spark):
    with pytest.raises(ValueError):
        bm25_scores(_df(spark), [])
    with pytest.raises(ValueError):
        bm25_scores(_df(spark), ["a", "a"])


class TestLeakageSafeSplit:
    def _nodes(self, spark, n=400):
        return spark.range(0, n).withColumnRenamed("id", "doc_id")

    def _pairs(self, spark, pairs):
        return spark.createDataFrame(pairs, "id_a long, id_b long")

    def test_near_dups_share_split_naive_does_not(self, spark):
        # chain every 10th id to its neighbor: clusters {10k, 10k+1}
        nodes = self._nodes(spark)
        pairs = self._pairs(spark, [(i, i + 1) for i in range(0, 400, 10)])
        got = leakage_safe_split(
            nodes, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
        by_id = {r["doc_id"]: (r["group_id"], r["split"]) for r in got}
        assert len(by_id) == 400
        for i in range(0, 400, 10):
            assert by_id[i] == by_id[i + 1]  # same cluster, same split
        # the naive per-doc split separates at least one of these pairs
        naive = {
            r["doc_id"]: r["split"]
            for r in hash_split(
                nodes, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
            ).collect()
        }
        assert any(naive[i] != naive[i + 1] for i in range(0, 400, 10))

    def test_singletons_split_independently_and_proportions(self, spark):
        nodes = self._nodes(spark, 2000)
        got = leakage_safe_split(
            nodes, self._pairs(spark, []), {"train": 0.8, "val": 0.1, "test": 0.1}
        )
        counts = {r["split"]: r["n"] for r in got.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert 0.74 < counts["train"] / 2000 < 0.86
        assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0
        # singleton group ids are the doc ids themselves
        assert got.filter(F.col("group_id") != F.col("doc_id")).count() == 0

    def test_deterministic_across_partitionings(self, spark):
        nodes = self._nodes(spark, 300)
        pairs = self._pairs(spark, [(i, i + 3) for i in range(0, 300, 7)])
        a = sorted(map(tuple, leakage_safe_split(
            nodes, pairs, {"train": 0.9, "test": 0.1}
        ).collect()))
        b = sorted(map(tuple, leakage_safe_split(
            nodes.repartition(11), pairs.repartition(5), {"train": 0.9, "test": 0.1}
        ).collect()))
        assert a == b


class TestMmrSelect:
    def _unit(self, *dims):
        # integer "unit" vectors at micro scale along given axes
        v = [0] * 4
        for d in dims:
            v[d] = 1_000_000
        return v

    def test_diversifies_where_pure_topk_repeats(self, spark):
        from etl_guiacores_spark.operators.retrieval import mmr_select

        # two near-identical top hits + one diverse slightly-worse hit
        cands = [
            (1, 1_000_000_000_000, self._unit(0)),
            (2, 999_999_000_000, self._unit(0)),  # clone of 1
            (3, 900_000_000_000, self._unit(1)),  # diverse
        ]
        got = [i for i, _ in mmr_select(cands, k=2, lambda_ppm=500_000)]
        assert got == [1, 3]  # the clone loses to the diverse doc
        # pure relevance (lambda=1) keeps the clone
        top = [i for i, _ in mmr_select(cands, k=2, lambda_ppm=1_000_000)]
        assert top == [1, 2]

    def test_matches_brute_force_recurrence(self, spark):
        from etl_guiacores_spark.operators.retrieval import mmr_select

        vecs = [self._unit(i % 4) for i in range(8)]
        rels = [(1_000_000_000_000 - 7 * i) for i in range(8)]
        cands = [(i, rels[i], vecs[i]) for i in range(8)]
        lam, com = 600_000, 400_000
        # independent greedy replay
        pool = dict((i, (rels[i], vecs[i])) for i in range(8))
        sel, want = [], []
        while pool and len(want) < 5:
            scored = []
            for cid, (r, e) in pool.items():
                ms = max(
                    (sum(a * b for a, b in zip(e, pool_sel[1]))
                     for pool_sel in sel), default=0,
                )
                scored.append(((-( (lam * r - com * ms) // 1_000_000), cid), cid))
            _, cid = min(scored)
            sel.append((cid, pool[cid][1]))
            want.append(cid)
            pool.pop(cid)
        got = [i for i, _ in mmr_select(cands, k=5, lambda_ppm=lam)]
        assert got == want

    def test_gate_and_validation(self, spark):
        import pytest

        from etl_guiacores_spark.operators.retrieval import mmr_select

        cands = [(i, 10, self._unit(0)) for i in range(5)]
        with pytest.raises(ValueError):
            mmr_select(cands, k=2, max_candidates=3)
        with pytest.raises(ValueError):
            mmr_select(cands, k=2, lambda_ppm=2_000_000)
        # k > n returns all, deterministically
        assert len(mmr_select(cands, k=50)) == 5


def test_bm25_large_corpus_ansi_headroom(spark):
    """N ~ 9.5M documents, where the pre-fix BIGINT contribution
    product (idf_ppm * tfc_ppm) exceeds 2^63-1 and ANSI mode threw —
    the DECIMAL(38,0) interiors must carry it exactly (self-checked:
    the test asserts the product really is past the BIGINT line, then
    matches the operator against pure-Python big-int truth)."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    n_filler, rare_tf = 9_500_000, 50
    n = n_filler + 1
    rare_text = " ".join(["raretok"] * rare_tf)
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, F.lit(rare_text))
        .otherwise(F.lit("a b c"))
        .alias("text"),
    )
    got = bm25_scores(docs, ["raretok"]).collect()

    total_tokens = n_filler * 3 + rare_tf
    avgdl_micro = total_tokens * PPM // n
    idf_ppm = (2 * (n - 1) + 1) * PPM // 3
    ratio_ppm = rare_tf * PPM * PPM // avgdl_micro
    tfc_ppm = (44 * PPM * rare_tf * PPM) // (
        20 * PPM * rare_tf + 6 * PPM + 18 * ratio_ppm
    )
    assert idf_ppm * tfc_ppm > 2**63 - 1, "corpus not big enough to pin the fix"
    assert len(got) == 1
    assert got[0]["doc_id"] == 0
    assert got[0]["score_ppm"] == idf_ppm * tfc_ppm // PPM
    assert got[0]["n_hit_terms"] == 1


def test_mmr_rerank_matches_manual_funnel(spark):
    """The DataFrame packaging must equal quantize -> top-N -> greedy
    done by hand, including the re-joined rel column."""
    import math

    from etl_guiacores_spark.operators.retrieval import mmr_rerank, mmr_select

    vecs = [
        (i, [math.sin(0.7 * i + 0.3 * j) for j in range(8)]) for i in range(24)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = sorted(
        (r["rank"], r["vec_id"], r["rel"], r["mmr_score"])
        for r in mmr_rerank(
            df, query_id=0, k=5, n_candidates=12, scale=1000
        ).collect()
    )

    # manual replay: quantization must floor the FLOAT-widened value,
    # exactly as both engines do
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    q = [math.floor(f32(v) * 1000) for v in vecs[0][1]]
    cands = []
    for i, emb in vecs[1:]:
        vq = [math.floor(f32(v) * 1000) for v in emb]
        rel = sum(a * b for a, b in zip(q, vq))
        cands.append((i, rel, vq))
    cands.sort(key=lambda t: (-t[1], t[0]))
    cands = cands[:12]
    rels = {i: r for i, r, _ in cands}
    sel = mmr_select(cands, k=5)
    want = sorted(
        (rk + 1, cid, rels[cid], score) for rk, (cid, score) in enumerate(sel)
    )
    assert got == want

    import pytest

    with pytest.raises(ValueError, match="no row"):
        mmr_rerank(df, query_id=999)


def test_bm25_batch_equals_per_query_runs(spark):
    """One-plan batch scoring must equal independent bm25_scores runs
    per query, including ranks."""
    from pyspark.sql import functions as Fn

    from etl_guiacores_spark.operators.retrieval import bm25_batch_topk

    docs = spark.createDataFrame(list(DOCS.items()), "doc_id long, text string")
    queries = [(1, ["spark", "scan"]), (2, ["fast"]), (3, ["nosuchterm"])]
    qdf = spark.createDataFrame(queries, "query_id long, terms array<string>")
    got = {
        (r["query_id"], r["doc_id"]): (r["score_ppm"], r["n_hit_terms"], r["rank"])
        for r in bm25_batch_topk(docs, qdf, k=3).collect()
    }
    for qid, terms in queries:
        per = sorted(
            ((s, h, d) for d, (s, h) in _brute_bm25(DOCS, terms).items()),
            key=lambda t: (-t[0], t[2]),
        )[:3]
        for rank, (s, h, d) in enumerate(per, start=1):
            assert got[(qid, d)] == (s, h, rank), (qid, d)
    assert not [k for k in got if k[0] == 3]  # no-hit query -> no rows

    import pytest

    dup = spark.createDataFrame(
        [(1, ["a", "a"])], "query_id long, terms array<string>"
    )
    with pytest.raises(ValueError, match="distinct"):
        bm25_batch_topk(docs, dup, k=3)


def test_bm25_batch_scans_corpus_twice_whatever_the_query_count(spark, tmp_path):
    """The corpus is read by at most two scans (1-row stats + filtered
    postings), as many for 64 queries as for 4; a per-query scan or a
    df aggregate over a second read of the corpus would add leaves.
    Planned only, never executed."""
    from etl_guiacores_spark.operators.retrieval import bm25_batch_topk

    vocab = sorted({t for text in DOCS.values() for t in text.split()})
    path = str(tmp_path / "corpus.parquet")
    _df(spark).write.parquet(path)
    docs = spark.read.parquet(path)

    def scans(n_queries: int) -> int:
        qdf = spark.createDataFrame(
            [(q, [vocab[q % len(vocab)], vocab[(q + 3) % len(vocab)]])
             for q in range(n_queries)],
            "query_id long, terms array<string>",
        )
        plan = bm25_batch_topk(docs, qdf, k=5)._jdf.queryExecution().executedPlan()
        # the corpus is the plan's only parquet source (queries are local)
        return plan.toString().count("Scan parquet")

    few, many = scans(4), scans(64)
    assert few == many
    assert 0 < many <= 2


def test_hard_negatives_brute_force(spark):
    import math

    from etl_guiacores_spark.operators.retrieval import hard_negatives
    from pyspark.sql import functions as Fn

    vecs = [
        (i, i % 3, [math.cos(0.3 * i + 0.5 * j) for j in range(6)])
        for i in range(30)
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, label int, embedding array<float>"
    )
    got = {
        r["anchor_id"]: (r["neg_id"], r["neg_label"], r["dot"])
        for r in hard_negatives(df, Fn.col("vec_id") % 10 == 0).collect()
    }

    import struct as st

    def q(e):
        return [math.floor(st.unpack("f", st.pack("f", x))[0] * 1000) for x in e]

    qv = {i: q(e) for i, _, e in vecs}
    lab = {i: l for i, l, _ in vecs}
    for a in (0, 10, 20):
        cands = [
            (sum(x * y for x, y in zip(qv[a], qv[c])), c)
            for c in qv
            if c != a and lab[c] != lab[a]
        ]
        best = max(cands, key=lambda t: (t[0], -t[1]))
        assert got[a] == (best[1], lab[best[1]], best[0]), a


class TestRrfFuse:
    def test_fusion_scores_and_order(self, spark):
        # system A ranks docs 1,2,3; system B ranks 3,2,4
        rows = [
            (0, 1, 1), (0, 2, 2), (0, 3, 3),
            (0, 3, 1), (0, 2, 2), (0, 4, 3),
        ]
        df = spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rank long"
        )
        from etl_guiacores_spark.operators.retrieval import rrf_fuse

        got = {
            r["doc_id"]: (r["n_systems"], r["rrf_ppm"], r["fused_rank"])
            for r in rrf_fuse(df).collect()
        }
        ppm = 1_000_000
        # 1/61 + 1/63 > 2/62 (AM > HM): the rank-1+rank-3 doc edges
        # out the double rank-2 doc
        assert got[3] == (2, ppm // 61 + ppm // 63, 1)
        assert got[2] == (2, 2 * (ppm // 62), 2)
        assert got[1] == (1, ppm // 61, 3)
        assert got[4] == (1, ppm // 63, 4)

    def test_tie_breaks_to_smaller_doc_id(self, spark):
        df = spark.createDataFrame(
            [(0, 9, 1), (0, 4, 1)],
            "query_id long, neighbor_id long, rank long",
        )
        from etl_guiacores_spark.operators.retrieval import rrf_fuse

        out = {r["doc_id"]: r["fused_rank"] for r in rrf_fuse(df).collect()}
        assert out == {4: 1, 9: 2}

    def test_top_k_truncates(self, spark):
        df = spark.createDataFrame(
            [(0, d, d) for d in range(1, 8)],
            "query_id long, neighbor_id long, rank long",
        )
        from etl_guiacores_spark.operators.retrieval import rrf_fuse

        assert rrf_fuse(df, top_k=3).count() == 3


def test_mmr_rerank_batch_equals_per_query_rerank(spark):
    """The one-job applyInPandas batch must reproduce mmr_rerank's
    per-query output exactly, for every query in the batch.

    (Since round 10 mmr_rerank IS a 1-element batch call, so this is a
    wrapper-consistency check; the independent ground truth is
    test_mmr_rerank_matches_manual_funnel's hand replay, which now
    exercises the batch path end-to-end.)"""
    import math

    from etl_guiacores_spark.operators.retrieval import (
        mmr_rerank,
        mmr_rerank_batch,
    )

    vecs = [
        (i, [math.sin(0.7 * i + 0.3 * j) for j in range(8)]) for i in range(30)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    qids = [0, 3, 7, 11]
    batch = mmr_rerank_batch(
        df, qids, k=5, n_candidates=12, scale=1000
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["rel"], r["mmr_score"])
        )
    assert sorted(got) == qids
    for q in qids:
        want = sorted(
            (r["rank"], r["vec_id"], r["rel"], r["mmr_score"])
            for r in mmr_rerank(
                df, query_id=q, k=5, n_candidates=12, scale=1000
            ).collect()
        )
        assert sorted(got[q]) == want, q


def test_mmr_rerank_batch_guards(spark):
    import math

    import pytest

    from etl_guiacores_spark.operators.retrieval import mmr_rerank_batch

    vecs = [
        (i, [math.sin(0.5 * i + j) for j in range(4)]) for i in range(6)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        mmr_rerank_batch(df, [])
    with pytest.raises(ValueError, match="missing"):
        mmr_rerank_batch(df, [0, 99], k=2, n_candidates=4).collect()
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert mmr_rerank_batch(empty, [0], k=2).count() == 0


def test_mmr_rerank_batch_string_ids(spark):
    """id_col of ANY groupable type rides through natively (round-9
    advice: the old int() coercion made a string-typed id_col fail
    confusingly). Ground truth: the same vectors under long ids must
    produce the identical (rel, mmr_score) selection, id-for-id."""
    import math

    from etl_guiacores_spark.operators.retrieval import mmr_rerank_batch

    emb = [[math.sin(0.7 * i + 0.3 * j) for j in range(8)] for i in range(20)]
    sdf = spark.createDataFrame(
        [(f"doc{i:02d}", e) for i, e in enumerate(emb)],
        "vec_id string, embedding array<float>",
    )
    ldf = spark.createDataFrame(
        list(enumerate(emb)), "vec_id long, embedding array<float>"
    )
    got_s = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["rel"], r["mmr_score"])
        for r in mmr_rerank_batch(
            sdf, ["doc00", "doc05"], k=4, n_candidates=10
        ).collect()
    }
    got_l = {
        (f"doc{r['query_id']:02d}", r["rank"]): (
            f"doc{r['vec_id']:02d}", r["rel"], r["mmr_score"]
        )
        for r in mmr_rerank_batch(
            ldf, [0, 5], k=4, n_candidates=10
        ).collect()
    }
    assert got_s == got_l
    assert len(got_s) == 8


def test_mmr_rerank_batch_rejects_duplicate_query_rows(spark):
    import math

    import pytest

    from etl_guiacores_spark.operators.retrieval import mmr_rerank_batch

    vecs = [(i, [math.sin(0.5 * i + j) for j in range(4)]) for i in range(6)]
    vecs.append((0, [0.1, 0.2, 0.3, 0.4]))      # duplicate vec_id 0
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="duplicate"):
        mmr_rerank_batch(df, [0, 1], k=2, n_candidates=4)


def test_mmr_rerank_remaps_duplicate_query_rows_error(spark):
    """The single-query wrapper's error must name mmr_rerank, not the
    batch entry point it delegates to (round-10 advice item); the
    typed DuplicateQueryRowsError carries the remap without message
    matching."""
    import math

    import pytest

    from etl_guiacores_spark.operators.retrieval import mmr_rerank

    vecs = [(i, [math.sin(0.5 * i + j) for j in range(4)]) for i in range(6)]
    vecs.append((0, [0.1, 0.2, 0.3, 0.4]))      # duplicate vec_id 0
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=r"mmr_rerank: .*duplicate"):
        mmr_rerank(df, query_id=0, k=2, n_candidates=4)
