"""Connected components: known topology + convergence."""

from __future__ import annotations

from etl_guiacores_spark.operators.graph import connected_components


def test_components_known_graph(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], ["id"])
    # components: {1,2,3,4} (chain), {5,6} (pair), {7} and {8} singletons
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_long_chain_converges(spark):
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert set(got.values()) == {0}


def test_local_and_iterative_paths_agree(spark):
    """The adaptive local union-find and the distributed loop must
    label identically (chains, cliques, singletons mixed)."""
    edges_data = (
        [(i, i + 1) for i in range(0, 40)]            # long chain
        + [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]  # clique
        + [(200, 201)]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(0, 45)]
        + [(100 + i,) for i in range(6)]
        + [(200,), (201,), (300,)],
        ["id"],
    )
    edges = spark.createDataFrame(edges_data, ["id_a", "id_b"])
    local = {
        r["id"]: r["component"] for r in connected_components(nodes, edges).collect()
    }
    iterative = {
        r["id"]: r["component"]
        for r in connected_components(
            nodes, edges, local_edge_threshold=0
        ).collect()
    }
    assert local == iterative
    assert local[40] == 0 and local[105] == 100 and local[300] == 300


def test_string_ids_converge_correctly(spark):
    """Non-numeric ids: the changed-row-count convergence detector must
    keep iterating (a label-sum detector silently stops at round 1)."""
    nodes = spark.createDataFrame([(f"doc-{i:02d}",) for i in range(8)], ["id"])
    edges = spark.createDataFrame(
        [(f"doc-{i:02d}", f"doc-{i+1:02d}") for i in range(5)]  # chain 00..05
        + [("doc-06", "doc-07")],
        ["id_a", "id_b"],
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            nodes, edges, local_edge_threshold=0  # pin the iterative path
        ).collect()
    }
    assert got == {f"doc-{i:02d}": "doc-00" for i in range(6)} | {
        "doc-06": "doc-06",
        "doc-07": "doc-06",
    }


def test_q62_pipeline_durable_checkpoint_matches_default(spark, tmp_path):
    """The durable-checkpoint mode proven on the REAL LSH edge graph:
    the full q62 pipeline (shingle -> minhash -> LSH bands -> CC) run
    with a reliable checkpoint dir + forced iterative loop must label
    identically to the default (local union-find) path, and the
    checkpoint dir must actually hold data."""
    import os

    from pyspark.sql import functions as F

    from etl_guiacores_spark.operators.similarity import lsh_candidate_pairs
    from etl_guiacores_spark.sources.tables import load_table

    d = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    pairs = lsh_candidate_pairs(d, "doc_id", "text")
    nodes = d.select("doc_id")
    default = {
        r["id"]: r["component"]
        for r in connected_components(nodes, pairs, id_col="doc_id").collect()
    }
    ckpt = str(tmp_path / "q62_ckpt")
    durable = {
        r["id"]: r["component"]
        for r in connected_components(
            nodes,
            pairs,
            id_col="doc_id",
            checkpoint_dir=ckpt,
            local_edge_threshold=0,  # force the loop: that's what checkpoints
        ).collect()
    }
    assert default == durable and len(default) > 0
    walked = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert walked, "durable q62 run wrote nothing to checkpoint_dir"


def test_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches to reliable checkpoint() — same labels,
    and the directory actually receives checkpoint data."""
    import os

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            nodes, edges, checkpoint_dir=ckpt
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    walked = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert walked, "reliable checkpoint wrote nothing to checkpoint_dir"


def test_pagerank_int_star_center_ranks_highest(spark):
    """Star graph: the hub must out-rank every leaf; isolated nodes get
    base rank only; totals are deterministic integers."""
    from etl_guiacores_spark.operators.graph import pagerank_int

    nodes = spark.createDataFrame([(i,) for i in range(7)], ["id"])
    edges = spark.createDataFrame([(0, i) for i in range(1, 6)], ["id_a", "id_b"])
    got = {r["id"]: r["rank_scaled"] for r in pagerank_int(nodes, edges).collect()}
    hub, leaves, isolated = got[0], [got[i] for i in range(1, 6)], got[6]
    assert all(hub > l for l in leaves)
    assert len(set(leaves)) == 1  # symmetric leaves rank equally
    assert all(l > isolated for l in leaves)
    # re-run: bit-identical (pure integer arithmetic)
    again = {r["id"]: r["rank_scaled"] for r in pagerank_int(nodes, edges).collect()}
    assert again == got


def test_pagerank_int_regimes_identical(spark):
    """The driver-local fast path (small graph) and the distributed
    loop (local_graph_threshold=0) must produce bit-identical ranks —
    the arithmetic is exact integers in both, so ANY difference is a
    bug. Pseudo-random graph, both the single-job and multi-job
    distributed regimes, plus edge rows referencing ids outside the
    node set (dropped identically by both paths)."""
    from etl_guiacores_spark.operators.graph import pagerank_int

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    # deterministic pseudo-random edges, a few duplicates, plus edges
    # touching ids 100/101 that are NOT in the node set
    raw = [((i * 7 + 3) % n, (i * 13 + 5) % n) for i in range(120)]
    raw += [(0, 1), (0, 1), (5, 100), (101, 6)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in raw if a != b], ["id_a", "id_b"]
    )
    local = {
        r["id"]: r["rank_scaled"]
        for r in pagerank_int(nodes, edges, iterations=4).collect()
    }
    for ck in (2, 8):  # multi-job and single-job distributed regimes
        dist = {
            r["id"]: r["rank_scaled"]
            for r in pagerank_int(
                nodes,
                edges,
                iterations=4,
                checkpoint_interval=ck,
                local_graph_threshold=0,
            ).collect()
        }
        assert dist == local
    assert set(local) == set(range(n))


class TestTriangleCounts:
    def test_k4_plus_pendant(self, spark):
        from etl_guiacores_spark.operators.graph import triangle_counts

        # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5-1
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["id"]: (r["degree"], r["triangles"], r["clustering_ppm"])
            for r in triangle_counts(df).collect()
        }
        # node 1: deg 4, 3 triangles, cc = 2*3/(4*3) = 0.5
        assert got[1] == (4, 3, 500_000)
        for v in (2, 3, 4):
            assert got[v] == (3, 3, 1_000_000)
        assert got[5] == (1, 0, None)

    def test_total_triangles_on_cycle_with_chord(self, spark):
        from etl_guiacores_spark.operators.graph import triangle_counts

        # 5-cycle + one chord (1,3): exactly one triangle {1,2,3}
        edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5), (1, 3)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        rows = triangle_counts(df).collect()
        assert sum(r["triangles"] for r in rows) == 3  # one tri x 3 nodes
        assert {r["id"] for r in rows if r["triangles"]} == {1, 2, 3}


class TestKCore:
    def test_triangle_survives_path_and_pendant_peel(self, spark):
        from etl_guiacores_spark.operators.graph import kcore

        # path 1-2-3-4 (peels away), triangle 5-6-7 + pendant 7-8
        edges = [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7), (6, 7), (7, 8)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r["id"]: r["degree"] for r in kcore(df, k=2).collect()}
        assert got == {5: 2, 6: 2, 7: 2}

    def test_empty_core(self, spark):
        from etl_guiacores_spark.operators.graph import kcore

        # pure path: 2-core is empty (peels one layer per round)
        edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        assert kcore(df, k=2).count() == 0

    def test_k3_inner_clique(self, spark):
        from etl_guiacores_spark.operators.graph import kcore

        # K4 {1..4} with pendants off each vertex: 3-core == the K4
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (1, 10), (2, 11), (3, 12), (4, 13)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r["id"]: r["degree"] for r in kcore(df, k=3).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_nonconvergence_raises(self, spark):
        from etl_guiacores_spark.operators.graph import kcore

        edges = [(i, i + 1) for i in range(10)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        import pytest
        # the iteration budget only applies to the distributed peel
        # loop; force it (the driver path converges in one pass)
        with pytest.raises(RuntimeError, match="converge"):
            kcore(df, k=2, max_iterations=2, local_edge_threshold=0)

    def test_local_and_distributed_regimes_identical(self, spark):
        from etl_guiacores_spark.operators.graph import kcore

        # deterministic pseudo-random graph: triangles, paths, pendants
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    ((i * 7) % 23, (i * i + 3) % 23) for i in range(60)
                )
                if a != b
            }
        )
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        for k in (2, 3):
            local = {
                r["id"]: r["degree"] for r in kcore(df, k=k).collect()
            }
            dist = {
                r["id"]: r["degree"]
                for r in kcore(df, k=k, local_edge_threshold=0).collect()
            }
            assert local == dist

    def test_local_regime_empty_core_schema(self, spark):
        from etl_guiacores_spark.operators.graph import kcore

        edges = [(1, 2), (2, 3)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        out = kcore(df, k=2)
        assert out.columns == ["id", "degree"]
        assert [f.dataType.simpleString() for f in out.schema.fields] == [
            "bigint",
            "bigint",
        ]
        assert out.count() == 0


def test_pagerank_checkpoint_interval_validated(spark):
    import pytest

    from etl_guiacores_spark.operators.graph import pagerank_int

    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="checkpoint_interval"):
        pagerank_int(nodes, edges, iterations=2, checkpoint_interval=0)


# --- the one driver-local regime gate --------------------------------------
#
# ``_symmetric`` dedups both directions of every edge, so these input rows
# (a duplicate, a reversed duplicate and a self-loop around the triangle
# 1-2-3) hold exactly T = 7 symmetric edges; one more self-loop makes T+1.
_T = 7
_AT_T = [(1, 2), (1, 2), (2, 1), (2, 3), (3, 1), (5, 5)]
_OVER_T = _AT_T + [(4, 4)]


def _edges(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _spy(monkeypatch, name):
    """Record each call of the graph module's ``name`` helper."""
    from etl_guiacores_spark.operators import graph

    calls = []
    real = getattr(graph, name)

    def spy(*args, **kwargs):
        calls.append(name)
        return real(*args, **kwargs)

    monkeypatch.setattr(graph, name, spy)
    return calls


def _as_dict(df):
    return {r[0]: r[1] for r in df.collect()}


def test_boundary_edge_lists_have_exact_symmetric_counts(spark):
    from etl_guiacores_spark.operators.graph import _fits_driver, _symmetric

    at_t = _symmetric(_edges(spark, _AT_T), "id_a", "id_b")
    over_t = _symmetric(_edges(spark, _OVER_T), "id_a", "id_b")
    assert at_t.count() == _T and over_t.count() == _T + 1
    assert _fits_driver(at_t, _T).num_rows == _T
    assert _fits_driver(over_t, _T) is None
    assert _fits_driver(at_t, 0) is None  # force-distributed: no fetch


def test_connected_components_regime_boundary(spark, monkeypatch):
    from etl_guiacores_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    calls = _spy(monkeypatch, "_local_union_find")
    for rows, local in ((_AT_T, True), (_OVER_T, False)):
        calls.clear()
        edges = _edges(spark, rows)
        got = _as_dict(connected_components(nodes, edges, local_edge_threshold=_T))
        assert calls == (["_local_union_find"] if local else [])
        forced = _as_dict(connected_components(nodes, edges, local_edge_threshold=0))
        assert got == forced == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6}


def test_pagerank_regime_boundary_on_both_axes(spark, monkeypatch):
    from etl_guiacores_spark.operators.graph import pagerank_int

    def nodes(n):  # n distinct ids, each listed twice
        return spark.createDataFrame([(i,) for i in range(1, n + 1)] * 2, "id long")

    calls = _spy(monkeypatch, "_local_pagerank")
    cases = (
        (_AT_T, _T, True),          # both axes at T
        (_OVER_T, _T, False),       # edge axis over
        (_AT_T, _T + 1, False),     # node axis over
    )
    for rows, n, local in cases:
        for ck in (2, 8):  # multi-job and single-job distributed regimes
            calls.clear()
            kw = dict(iterations=3, checkpoint_interval=ck)
            edges = _edges(spark, rows)
            got = _as_dict(pagerank_int(nodes(n), edges, local_graph_threshold=_T, **kw))
            assert calls == (["_local_pagerank"] if local else [])
            forced = _as_dict(pagerank_int(nodes(n), edges, local_graph_threshold=0, **kw))
            assert got == forced and set(got) == set(range(1, n + 1))


def test_kcore_regime_boundary(spark, monkeypatch):
    from etl_guiacores_spark.operators.graph import kcore

    calls = _spy(monkeypatch, "_local_kcore")
    for rows, local in ((_AT_T, True), (_OVER_T, False)):
        edges = _edges(spark, rows)
        for k in (1, 2):
            calls.clear()
            got = _as_dict(kcore(edges, k=k, local_edge_threshold=_T))
            assert calls == (["_local_kcore"] if local else [])
            assert got == _as_dict(kcore(edges, k=k, local_edge_threshold=0))
        assert set(got) == {1, 2, 3}  # k=2: the triangle; self-loops peel


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_arrow_backed(df):
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_driver_local_results_are_local_table_scans(spark):
    """Every driver-local result plans as an Arrow-backed LocalTableScan
    — never a Python-RDD scan — for int and string ids, and for the
    empty k-core. Inputs come from ``local_frame`` too, so any
    ExistingRDD in a plan would be the operator's own."""
    from pyspark.sql import types as T

    from etl_guiacores_spark.operators.graph import (
        connected_components,
        kcore,
        pagerank_int,
    )
    from etl_guiacores_spark.session import local_frame

    for typ, ids in ((T.LongType(), [1, 2, 3, 4, 5]),
                     (T.StringType(), ["a", "b", "c", "d", "e"])):
        one = T.StructType([T.StructField("id", typ, True)])
        two = T.StructType([T.StructField("id_a", typ, True),
                            T.StructField("id_b", typ, True)])
        a, b, c, d, e = ids
        nodes = local_frame(spark, [(v,) for v in ids], one)
        tri = local_frame(spark, [(a, b), (b, c), (c, a), (d, e)], two)
        path = local_frame(spark, [(a, b), (b, c)], two)

        labels = connected_components(nodes, tri)
        _assert_arrow_backed(labels)
        assert _as_dict(labels) == {a: a, b: a, c: a, d: d, e: d}
        ranks = pagerank_int(nodes, tri)
        _assert_arrow_backed(ranks)
        assert set(_as_dict(ranks)) == set(ids)
        core = kcore(tri, k=2)
        _assert_arrow_backed(core)
        assert _as_dict(core) == {a: 2, b: 2, c: 2}
        empty = kcore(path, k=2)
        _assert_arrow_backed(empty)
        assert empty.count() == 0 and empty.schema["id"].dataType == typ
