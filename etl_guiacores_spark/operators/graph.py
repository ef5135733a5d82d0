"""Graph operators: connected components, integer PageRank, k-core,
triangle counts.

Connected components turn the near-dup greedy rule into true duplicate
CLUSTERS: every doc gets the minimum doc-id of its connected component
in the verified-pair graph, so one representative per cluster survives
regardless of clique shape.

Components, PageRank and k-core are ADAPTIVE through one driver-local
regime. Near-dup graphs have edges ~ verified-duplicate density, far
below node count, so each operator gates its deduped symmetric edge
list (``_symmetric``) with ONE bounded action (``_fits_driver``) that
both sizes it and hands the driver its rows. A graph that fits is
solved on the driver and returned as an Arrow-backed LocalTableScan
(``local_frame``); a larger one runs the distributed loop of
join+aggregate rounds (the standard Spark shape for iterative graph
algorithms without GraphFrames).

Lineage control: each round truncates lineage so round N doesn't
replay rounds 1..N-1. ``localCheckpoint`` (default) stores blocks on
executors — fast, but an executor loss mid-iteration kills the job.
For long-running cluster jobs pass ``checkpoint_dir`` to use reliable
``checkpoint()`` into HDFS/object storage instead: every round's
labels survive executor loss and the job resumes from the last
materialized round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_guiacores_spark.session import local_frame


def _symmetric(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """The deduped two-direction edge list ``(src, dst)``, from ONE scan
    of ``edges`` (a two-branch union would plan the edge subtree twice)."""
    a, b = F.col(src_col), F.col(dst_col)
    both = F.array(F.struct(a.alias("src"), b.alias("dst")),
                   F.struct(b.alias("src"), a.alias("dst")))
    return edges.select(F.explode(both).alias("e")).select("e.*").distinct()


def _fits_driver(df: DataFrame, max_rows: int):
    """``df``'s rows as a ``pyarrow.Table`` when it has at most
    ``max_rows`` of them, else ``None``. One action, ``limit(max_rows+1)``
    pulled with ``toArrow()``, both sizes ``df`` and fetches the
    driver-local regime's input; ``max_rows=0`` (force distributed)
    runs none."""
    if not max_rows:
        return None
    rows = df.limit(max_rows + 1).toArrow()
    return rows if rows.num_rows <= max_rows else None


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
    local_edge_threshold: int = 100_000,
) -> DataFrame:
    """(id, component) — component = min id reachable in the
    undirected graph. Nodes absent from edges keep their own id.

    Ids may be any orderable type (numeric, string, ...): convergence
    is detected by counting rows whose label changed, never by
    arithmetic on the label column.

    Execution is ADAPTIVE on edge count: one bounded fetch of the
    deduplicated symmetric EDGE set (``_fits_driver``) decides the
    regime. When it has at most ``local_edge_threshold`` rows, the
    fetched edges are union-found on the driver (O(E α(E)), one job
    instead of ~log(diameter) join rounds) and the label map
    broadcast-joins back onto the still-distributed node set — nodes
    are NEVER collected, so a 10^10-node corpus with a few thousand
    verified near-dup edges takes the fast path. Above the threshold
    the iterative pointer-jumping loop runs; both paths produce
    identical labels (test-asserted). Set ``local_edge_threshold=0``
    to force the distributed loop.

    ``checkpoint_dir``: when set, uses reliable ``checkpoint()`` (the
    directory is registered via ``setCheckpointDir``) instead of
    executor-local ``localCheckpoint`` — the durable choice on a real
    cluster where executors can be lost mid-iteration.
    """
    spark = nodes.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _persist_round(df: DataFrame, eager: bool = True) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    sym = _symmetric(edges, src_col, dst_col)
    # materialize ONCE: the edge plan (often an LSH candidate join)
    # must not re-execute per action/iteration. In durable mode the
    # edges go straight to the reliable checkpoint (that durability is
    # what the caller asked for). In the default local mode a
    # transient persist is cheaper: the gate's fetch populates it, and
    # it is released as soon as the edges are either on the driver
    # (fast path) or checkpoint-truncated (loop).
    transient = checkpoint_dir is None
    sym = sym.persist() if transient else _persist_round(sym)

    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))

    edge_rows = _fits_driver(sym, local_edge_threshold)
    if edge_rows is not None:
        if transient:
            sym.unpersist()
        return _local_union_find(labels, edge_rows)
    if transient:
        # iterative path: truncate the edge lineage once (reads the
        # cache), then drop the cache — the loop reads the blocks
        sym_ck = _persist_round(sym)
        sym.unpersist()
        sym = sym_ck
    converged = False
    for _ in range(max_iterations):
        # step 1: take the minimum label among direct neighbors
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.col("component").alias("old_component"),
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        # step 2: pointer jumping — adopt the label OF my label, halving
        # the effective chain length each round (O(log diameter) total,
        # where neighbor propagation alone needs O(diameter))
        parent = updated.select(
            F.col("id").alias("p_id"), F.col("component").alias("p_component")
        )
        updated = (
            updated.join(parent, updated.component == parent.p_id, "left")
            .select(
                "id",
                "old_component",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("p_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # lazy checkpoint: the convergence aggregate right below is the
        # round's ONE action — it materializes the checkpoint blocks and
        # computes n_changed in the same job (eager=True would spend a
        # separate job per round just materializing)
        updated = _persist_round(updated.select(
            "id",
            "component",
            (F.col("component") != F.col("old_component")).cast("int").alias("changed"),
        ), eager=False)
        # labels are monotone non-increasing, so the fixpoint is exactly
        # "no row changed this round" — a count, not arithmetic on the
        # label column, so string/any-type ids converge correctly too
        n_changed = updated.agg(F.sum("changed")).collect()[0][0] or 0
        labels = updated.select("id", "component")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )
    return labels


#: fixed-point scale for integer PageRank: ranks are stored as
#: rank * 1e12, so 5 iterations of floor division lose at most a few
#: trailing units — and every engine computes the IDENTICAL integers
PAGERANK_SCALE = 1_000_000_000_000


def _local_pagerank(nodes, edges, id_type, spark, iterations, damping_pct) -> DataFrame:
    """Driver-side power iteration over a SMALL graph (the
    ``_local_union_find`` / ``_local_kcore`` regime): Python integers
    replicate the distributed loop's scaled-integer arithmetic EXACTLY
    — Spark's ``div`` on the loop's all-positive BIGINTs is floor
    division, Python ``//`` on positive ints is the same operation
    (with unbounded precision, so no overflow edge either), and the
    per-destination contribution sum is order-independent integer
    addition — so both regimes produce bit-identical ranks
    (test-asserted on a hub-and-spoke graph; oracle-hash-checked on
    q101). ``nodes`` is the fetched distinct ``id`` table and
    ``edges`` the fetched deduped symmetric edge list, both Arrow."""
    ids = nodes.column("id").to_pylist()
    edge_rows = list(zip(edges["src"].to_pylist(), edges["dst"].to_pylist()))
    schema = T.StructType([T.StructField("id", id_type, True),
                           T.StructField("rank_scaled", T.LongType(), True)])
    n = len(ids)
    if n == 0:
        return local_frame(spark, [], schema)
    deg: dict = {}
    for s, _ in edge_rows:
        deg[s] = deg.get(s, 0) + 1
    base = (PAGERANK_SCALE * (100 - damping_pct)) // 100 // n
    ranks = {v: PAGERANK_SCALE // n for v in ids}
    for _ in range(iterations):
        incoming: dict = {}
        for s, d in edge_rows:
            rs = ranks.get(s)
            if rs is None:
                # a source outside the node set has no rank row — the
                # distributed join drops it identically
                continue
            incoming[d] = incoming.get(d, 0) + rs // deg[s]
        ranks = {
            v: base + (damping_pct * incoming.get(v, 0)) // 100
            for v in ids
        }
    return local_frame(spark, [(v, ranks[v]) for v in sorted(ids)], schema)


def pagerank_int(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 5,
    damping_pct: int = 85,
    checkpoint_interval: int = 8,
    local_graph_threshold: int = 100_000,
) -> DataFrame:
    """Integer-exact PageRank: ``(id, rank_scaled)`` after a fixed
    number of power iterations over the UNDIRECTED graph (each input
    edge contributes both directions).

    All arithmetic is scaled-integer (``PAGERANK_SCALE`` fixed point,
    damping as an integer percentage, floor division at every step),
    so the result is a deterministic function of the graph — bit-equal
    across engines, retries, and partitionings, with none of the
    float-accumulation-order drift a double implementation has. The
    deliberate trade: each floor drops < 1 unit of 1e-12, irrelevant
    against ranking at any scale.

    Engine shape per iteration: one join (ranks onto out-edges) + one
    groupBy (sum contributions by destination) + one left join back
    onto the node set — all keyed on the node id, the same shuffle key
    throughout, so a co-partitioned layout runs the loop exchange-free.
    Dangling mass is dropped (the simple variant), identically on both
    engines. Lineage grows linearly and is truncated every
    ``checkpoint_interval`` rounds; see the regime comment in the body
    for how caching/materialization differs between single-job runs
    (iterations <= checkpoint_interval: rely on ReusedExchange, persist
    nothing) and multi-job runs (persist the edge table, materialize
    the result before releasing the caches).

    Execution is ADAPTIVE like ``kcore``/``connected_components``: one
    bounded fetch of the deduped symmetric edge list and, when that
    fits, one of the distinct node ids (``_fits_driver``). When BOTH
    have at most ``local_graph_threshold`` rows, the power iteration
    runs on the fetched rows in exact Python integer arithmetic —
    bit-identical ranks (``_local_pagerank``), none of the per-round
    join/agg job stack. Set ``local_graph_threshold=0`` to force the
    distributed loop.
    """
    if checkpoint_interval < 1:
        raise ValueError("checkpoint_interval must be >= 1")
    # Two execution regimes, chosen by whether mid-loop checkpoints
    # will split the run into multiple jobs (measured on the 42k-edge
    # q101 graph, interleaved same-session A/B):
    #
    # - SINGLE-JOB (iterations <= checkpoint_interval): nothing
    #   persists and nothing materializes mid-loop. The final action
    #   executes one deep plan in which every round's edge-table
    #   subtree ends in the IDENTICAL repartition("src") exchange, so
    #   AQE's ReusedExchange computes it once and replays the shuffle
    #   blocks for the other rounds — same effect as a cache, no
    #   cache-population job, no eager-materialization job. An eager
    #   localCheckpoint EVERY round measured 2-3x slower end-to-end
    #   (round 9).
    #   ROUND-13 re-measure on the same q101 shape (Spark 4.1.2,
    #   local[32]): at 5 iterations the single-job deep plan (~130
    #   pre-AQE exchanges) now loses to the multi-job regime by ~2x
    #   (11.7-20.3 s vs 5.7-6.2 s) — the deep plan's optimizer + AQE
    #   bookkeeping dominates, while ONE mid-loop truncation plus the
    #   persisted edge table costs only two small extra jobs. Callers
    #   running a handful of iterations should pass
    #   checkpoint_interval < iterations to opt into the multi-job
    #   regime (q101 passes 4); checkpoint_interval=1 re-creates the
    #   round-9 every-round barrier and is again slower (10-15 s).
    #
    # - MULTI-JOB (iterations > checkpoint_interval): each checkpoint
    #   is its own job and ReusedExchange cannot reach across jobs, so
    #   the edge table and node set persist up front (one population
    #   count), and the RESULT materializes eagerly before the caches
    #   are released — unpersisting first would drop them before the
    #   lazy plan ever executed (round-9 review catch).
    multi_job = iterations > checkpoint_interval
    sym = _symmetric(edges, src_col, dst_col)
    if multi_job:
        # persisted BEFORE the gate: a failed gate's fetch populates the
        # cache out_edges reads. The single-job regime keeps its
        # uncached lineage, so its failed gate drops no cache.
        sym = sym.persist()
    # adaptive regime: the distributed loop costs a fixed stack of
    # join+agg jobs regardless of data size — measured 7.7 s eager
    # build on the 5k-node/84k-directed-edge q101 graph at sf0.1 vs
    # ~0.5 s on the driver. Gate on BOTH axes (PageRank's state is
    # node-sized: every node carries a rank), edges first; each fetch
    # is also the local regime's input.
    n_nodes = nodes.select(F.col(id_col).alias("id")).distinct()
    edge_rows = _fits_driver(sym, local_graph_threshold)
    node_rows = None if edge_rows is None else _fits_driver(n_nodes, local_graph_threshold)
    if node_rows is not None:
        if multi_job:
            sym.unpersist()
        return _local_pagerank(node_rows, edge_rows, n_nodes.schema["id"].dataType,
                               nodes.sparkSession, iterations, damping_pct)

    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    # repartition("src") either way: in the multi-job regime the cached
    # scan then reports HashPartitioning(src) so each round's
    # ranks-onto-edges join shuffles only the |V|-sized ranks table; in
    # the single-job regime the identical exchange subtree is what
    # ReusedExchange dedups across rounds
    out_edges = sym.join(deg, "src").repartition("src")
    if multi_job:
        # materialize BEFORE releasing sym: out_edges references sym
        # twice (degree + join subtrees); both read its cache
        out_edges = out_edges.persist()
        out_edges.count()
        sym.unpersist()
        n_nodes = n_nodes.persist()
    total = n_nodes.agg(F.count("*").alias("__n"))
    base_expr = (
        f"(CAST({PAGERANK_SCALE} AS BIGINT) * {100 - damping_pct})"
        f" div 100 div __n"
    )

    ranks = n_nodes.crossJoin(F.broadcast(total)).select(
        "id", F.expr(f"CAST({PAGERANK_SCALE} AS BIGINT) div __n").alias("r"),
        F.col("__n"),
    )
    for i in range(iterations):
        contrib = (
            out_edges.join(ranks.select(F.col("id").alias("src"), "r"), "src")
            .select(F.col("dst").alias("id"), F.expr("r div deg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("__in"))
        )
        ranks = (
            n_nodes.crossJoin(F.broadcast(total))
            .join(contrib, "id", "left")
            .select(
                "id",
                F.expr(
                    f"{base_expr} + ({damping_pct} * COALESCE(__in, CAST(0 AS BIGINT)))"
                    " div 100"
                ).alias("r"),
                F.col("__n"),
            )
        )
        # lineage control: the plan grows LINEARLY per round (each
        # round references the edge table, served by the cache in the
        # multi-job regime and by ReusedExchange in the single-job
        # regime), so a handful of rounds runs best as ONE job — AQE
        # coalesces every tiny exchange and nothing materializes
        # mid-loop. An eager localCheckpoint every round (the previous
        # shape) cost a full compute-and-cache barrier per iteration:
        # 5.9s for 5 rounds on a 42k-edge graph, vs one deep plan in
        # ~1s. Truncate only every `checkpoint_interval` rounds so LONG
        # runs (deep plans, optimizer time) stay bounded.
        if (i + 1) % checkpoint_interval == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    out = ranks.select("id", F.col("r").alias("rank_scaled"))
    if multi_job:
        # materialize the RESULT (a |V|-row table) while the caches are
        # still live, THEN release them
        out = out.localCheckpoint(eager=True)
        out_edges.unpersist()
        n_nodes.unpersist()
    return out


def _local_union_find(labels: DataFrame, edges) -> DataFrame:
    """Driver-side union-find over a SMALL fetched edge list (Arrow
    ``src``/``dst``); the label map (only edge-touched nodes, ≤ 2|E|
    entries) broadcast-joins back onto the distributed node set."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges["src"].to_pylist(), edges["dst"].to_pylist()):
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so every root is its component's minimum id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    if not parent:
        return labels
    mapping = [(k, find(k)) for k in parent]
    map_df = local_frame(labels.sparkSession, mapping, labels.schema).select(
        F.col("id"), F.col("component").alias("__mapped")
    )
    return (
        labels.join(F.broadcast(map_df), on="id", how="left")
        .select("id", F.coalesce(F.col("__mapped"), F.col("component")).alias("component"))
    )


def _local_kcore(edges, id_type: T.DataType, spark, k: int) -> DataFrame:
    """Driver-side peel over a SMALL fetched symmetric edge list (the
    ``_local_union_find`` regime): adjacency sets + a removal queue,
    O(E) total since each edge is touched once per endpoint removal.
    The k-core is a unique fixpoint, so peel order cannot change the
    result — identical to the distributed loop (test-asserted)."""
    from collections import deque

    adj: dict = {}
    for s, d in zip(edges["src"].to_pylist(), edges["dst"].to_pylist()):
        adj.setdefault(s, set()).add(d)
    deg = {v: len(ns) for v, ns in adj.items()}
    queue = deque(v for v, d in deg.items() if d < k)
    removed: set = set()
    while queue:
        v = queue.popleft()
        if v in removed:
            continue
        removed.add(v)
        for u in adj[v]:
            if u in removed:
                continue
            deg[u] -= 1
            if deg[u] < k:
                queue.append(u)
    out_schema = T.StructType([T.StructField("id", id_type, True),
                               T.StructField("degree", T.LongType(), True)])
    survivors = [(v, deg[v]) for v in adj if v not in removed]
    return local_frame(spark, survivors, out_schema)


def kcore(
    pairs: DataFrame,
    k: int,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
    local_edge_threshold: int = 100_000,
) -> DataFrame:
    """The k-core of an undirected edge list: iteratively peel every
    vertex whose degree is below ``k`` until none remains, and return
    the surviving vertices as ``(id, degree)`` with degree counted
    INSIDE the core. Empty result when the whole graph peels away.

    On a near-dup candidate graph this separates dense duplicate
    communities (each member corroborated by >= k distinct collision
    partners) from pendant band-collision noise — the standard
    evidence-redundancy cut run before trusting transitive dedup
    merges, complementing triangle_counts' per-node density signal
    with a global fixpoint guarantee.

    Execution is ADAPTIVE on edge count like ``connected_components``:
    one bounded fetch of the deduped symmetric edge list decides the
    regime, and under ``local_edge_threshold`` those fetched rows peel
    on the driver in one O(E) pass (the candidate-graph case — edges ~
    verified-duplicate density, far below node count); both regimes
    produce the identical unique fixpoint (test-asserted). Set
    ``local_edge_threshold=0`` to force the distributed loop.

    Distributed engine shape per peel round: one map-side-combinable
    groupBy for degrees, one scalar count of below-k vertices (the
    round's single action), and two left-semi joins that keep only
    edges whose both endpoints survive — every step keyed on the node id, so a
    co-partitioned layout runs the loop exchange-free; survivor sets
    are bounded by the node count and broadcast when small. Lineage is
    truncated per round via localCheckpoint like connected_components.
    Peeling is a monotone fixpoint (each round strictly shrinks the
    edge set), so the loop terminates in <= rounds-to-fixpoint;
    raises if ``max_iterations`` is hit first (loud, never wrong —
    path-like graphs can peel one layer per round).
    """
    if k < 1:
        raise ValueError("kcore requires k >= 1")
    # the peel loop costs ~3 jobs per round (degree agg + count +
    # semi-join checkpoint) regardless of data size, so a small graph
    # takes connected_components' persist + one-fetch gate
    sym = _symmetric(pairs, src_col, dst_col).persist()
    edge_rows = _fits_driver(sym, local_edge_threshold)
    if edge_rows is not None:
        sym.unpersist()
        return _local_kcore(edge_rows, sym.schema["src"].dataType, pairs.sparkSession, k)
    # truncate the edge lineage once (reads the cache), then drop it
    sym_ck = sym.localCheckpoint(eager=True)
    sym.unpersist()
    sym = sym_ck
    for _ in range(max_iterations):
        deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("degree"))
        deg = deg.persist()
        n_low = deg.filter(F.col("degree") < k).count()
        if n_low == 0:
            out = deg.select(F.col("src").alias("id"), "degree")
            # materialize the result before releasing the cache it reads
            out = out.localCheckpoint(eager=True)
            deg.unpersist()
            return out
        survivors = deg.filter(F.col("degree") >= k).select("src")
        nxt = (
            sym.join(survivors, "src", "left_semi")
            .join(survivors.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        deg.unpersist()
        sym = nxt
    raise RuntimeError(f"kcore did not converge in {max_iterations} peel rounds")


def triangle_counts(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle participation + exact-integer local
    clustering coefficient over an undirected edge list (``src_col <
    dst_col`` distinct pairs, the lsh_candidate_pairs shape). On a
    near-dup candidate graph this is the cluster-density QA signal:
    clustering ~ 1e6 ppm means the candidate neighborhood is a real
    duplicate clique; low clustering flags band-collision noise worth
    re-verifying before transitive dedup merges distinct documents.

    Algorithm: degree-ordered ORIENTATION (Chiba-Nishizeki / the
    standard MapReduce triangle scheme) — orient every edge from the
    (degree, id)-smaller endpoint to the larger, so each triangle
    {a,b,c} materializes exactly once as a->b, a->c, b->c. Out-degrees
    are bounded by O(sqrt(m)) on hubs, so the wedge join E'(u,v) x
    E'(u,w) never explodes the way a naive per-vertex neighbor-pair
    expansion does on Zipf-hot nodes; the closing check is one more
    equi-join on the oriented list. All equi-joins on ids — AQE
    broadcasts the oriented list when small and skew-splits hot
    vertices otherwise. clustering_ppm = 2e6 * triangles div
    (deg * (deg - 1)), exact integers, NULL when deg < 2.

    Returns (id, degree, triangles, clustering_ppm) for every node
    incident to at least one edge.

    The degree table and the oriented edge list PERSIST inside the
    operator: ``deg`` feeds three consumers (both orientation joins +
    the final left join) and ``oriented`` three more (the two wedge
    sides + the closing side), each under a DIFFERENT downstream
    shuffle key, so exchange reuse cannot deduplicate them — without
    the persist the whole upstream pair plan (often an LSH candidate
    join) re-executes once per consumer. Measured on the sf0.1 q137
    shape (round 13): ~8.5 s warm -> ~2.1 s with both persisted,
    bit-identical output. Both tables are O(|E|) narrow id rows — the
    same footprint class as connected_components' persisted edge
    list. The handles ride out on the result as ``staged_deg`` /
    ``staged_oriented`` (the lsh_candidate_pairs convention): callers
    unpersist after their consuming action, or clearCache between
    jobs (bench/oracle/plan tools already do).
    """
    deg = (
        pairs.select(F.col(src_col).alias("id"))
        .unionAll(pairs.select(F.col(dst_col).alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("degree"))
    ).persist()
    with_deg = (
        pairs.join(deg.select(F.col("id").alias(src_col),
                              F.col("degree").alias("__da")), src_col)
        .join(deg.select(F.col("id").alias(dst_col),
                         F.col("degree").alias("__db")), dst_col)
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col(src_col) < F.col(dst_col))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col(src_col)).otherwise(F.col(dst_col)).alias("src"),
        F.when(a_first, F.col(dst_col)).otherwise(F.col(src_col)).alias("dst"),
    ).persist()
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("v"),
            F.col("e2.dst").alias("w"),
        )
    )
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    out = deg.join(per_node, "id", "left").select(
        "id",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                "CAST(2000000 * CAST(COALESCE(triangles, 0) AS DECIMAL(38,0))"
                " div (degree * (degree - 1)) AS BIGINT)"
            ),
        ).alias("clustering_ppm"),
    )
    # cache-release handles (see docstring); CacheManager entries are
    # not GC-reclaimed, so expose them instead of leaking per call
    out.staged_deg = deg
    out.staged_oriented = oriented
    return out
