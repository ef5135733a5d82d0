"""Triangle-count stress on a Zipf-hub graph (VERDICT r6 item 6).

q137 runs triangle_counts on the sf0.1 LSH candidate graph (~small,
benign degree distribution). This soak builds an ADVERSARIAL graph —
endpoints drawn from a Zipf(s=2) distribution so a handful of hubs
collect O(10^4..10^5) neighbors — at ~20x the q137 edge volume, and
checks:

1. the degree-ordered orientation actually bounds the wedge volume:
   max ORIENTED out-degree << max raw degree, and the path-join row
   count stays near the true wedge bound, not near sum(deg^2) (what
   a naive neighbor-pair expansion would pay on the hub);
2. wall-clock stays in seconds on local[32];
3. the count is EXACT at volume: total triangle incidences from the
   Spark plan equal DuckDB's answer on the identical edge list
   (the oracle discipline, applied at stress scale).

Usage: python tools/soak_graph.py [--edges 2000000] [--nodes 200000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=2_000_000)
    ap.add_argument("--nodes", type=int, default=200_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from etl_guiacores_spark import harness
    from etl_guiacores_spark.operators.graph import triangle_counts

    spark = harness.session("graph-soak")

    # Zipf-HUB construction (a pure inverse-CDF Zipf draw collapses to
    # ~13k distinct edges after dedupe — hubs eat every draw): a
    # uniform background graph of ~0.9*m edges, plus 10 hub nodes
    # whose partner counts decay harmonically (hub h touches
    # ~0.02*m/(h+1) distinct uniform partners, so hub 0's degree is
    # ~2% of ALL edges — the Zipf-hot adversary). Deterministic md5
    # endpoint hashing, no Math.random.
    n, m = args.nodes, args.edges
    h_expr = (
        "CAST(conv(substring(md5(CAST({seed} AS STRING)), 1, 12), 16, 10) "
        f"AS BIGINT) % {n}"
    )
    background = spark.range(int(m * 0.9)).select(
        F.expr(h_expr.format(seed="id * 2")).alias("a"),
        F.expr(h_expr.format(seed="id * 2 + 1")).alias("b"),
    )
    hub_quota = int(m * 0.02)
    hub_edges = (
        spark.range(10)
        .select(F.col("id").alias("h"))
        .select(
            "h",
            F.explode(
                F.sequence(
                    F.lit(0), (F.lit(hub_quota) / (F.col("h") + 1)).cast("long")
                )
            ).alias("j"),
        )
        .select(
            (F.lit(n) + F.col("h")).alias("a"),
            F.expr(h_expr.format(seed="h * 100000000 + j * 7 + 3")).alias("b"),
        )
    )
    edges = (
        background.unionAll(hub_edges)
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("id_a"), F.greatest("a", "b").alias("id_b")
        )
        .distinct()
    )
    tmp = tempfile.mkdtemp(prefix="soak_graph_")
    edges.write.mode("overwrite").parquet(f"{tmp}/edges.parquet")
    edges = spark.read.parquet(f"{tmp}/edges.parquet")
    n_edges = edges.count()

    deg = (
        edges.select(F.col("id_a").alias("id"))
        .unionAll(edges.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .count()
    )
    max_deg = deg.agg(F.max("count")).first()[0]
    sum_deg2 = deg.agg(F.sum(F.col("count") * F.col("count"))).first()[0]

    # oriented out-degree bound (recompute the operator's orientation)
    degs = deg.select(F.col("id"), F.col("count").alias("d"))
    wd = (
        edges.join(degs.select(F.col("id").alias("id_a"), F.col("d").alias("da")), "id_a")
        .join(degs.select(F.col("id").alias("id_b"), F.col("d").alias("db")), "id_b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("id_a") < F.col("id_b"))
    )
    oriented = wd.select(
        F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
        F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
    )
    out_deg = oriented.groupBy("src").count()
    max_out = out_deg.agg(F.max("count")).first()[0]
    # wedge volume the path join actually materializes before closing:
    # sum over middle vertex v of indeg(v) * outdeg(v)
    ind = oriented.groupBy("dst").count().withColumnRenamed("count", "ind")
    wedges = (
        out_deg.withColumnRenamed("count", "outd")
        .join(ind, F.col("src") == F.col("dst"))
        .agg(F.sum(F.col("ind") * F.col("outd")))
        .first()[0]
    )

    t0 = time.time()
    res = triangle_counts(edges)
    total_incidences = res.agg(F.sum("triangles")).first()[0]
    t_tri = time.time() - t0

    # DuckDB exactness oracle on the identical staged edges
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW e AS SELECT * FROM read_parquet('{tmp}/edges.parquet/*.parquet')"
    )
    oracle = con.execute(
        """
        WITH deg AS (
            SELECT id, COUNT(*) AS d FROM (
                SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e
            ) GROUP BY id
        ),
        o AS (
            SELECT CASE WHEN (da.d, e.id_a) < (db.d, e.id_b)
                        THEN e.id_a ELSE e.id_b END AS src,
                   CASE WHEN (da.d, e.id_a) < (db.d, e.id_b)
                        THEN e.id_b ELSE e.id_a END AS dst
            FROM e
            JOIN deg da ON da.id = e.id_a
            JOIN deg db ON db.id = e.id_b
        )
        SELECT 3 * COUNT(*) FROM o e1
        JOIN o e2 ON e1.dst = e2.src
        JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
        """
    ).fetchone()[0]
    assert total_incidences == oracle, (
        f"triangle incidences diverge: spark={total_incidences} duckdb={oracle}"
    )

    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    print(
        json.dumps(
            {
                "n_nodes": n,
                "n_edges": n_edges,
                "max_degree": max_deg,
                "max_oriented_outdeg": max_out,
                "wedge_join_rows": wedges,
                "naive_neighbor_pairs": sum_deg2,
                "wedge_vs_naive_pct": round(100.0 * wedges / sum_deg2, 2),
                "triangle_incidences": total_incidences,
                "oracle_match": True,
                "triangles_sec": round(t_tri, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
