"""Throughput soak for the scrape path (S1 -> S3 -> X1-X10).

BASELINE.md derives the reference's end-to-end ceiling at 1-1.6
pages/s: a 4-process pool, one Chrome per worker, random sleeps
(reference: src/extractors/bulk_scraper.py:213-247). The engine's
claim is that the same pipeline — URL worklist, per-partition
transport with retries and quarantine, full X1-X10 parse — is
partition-parallel and Arrow-batched, so single-node throughput is
bounded by the transport, not the framework. This soak measures the
framework bound: N synthetic detail pages (sources/synthetic.py,
outages every 97th id exercising the R1 retry x3 path) fetched and
parsed end-to-end, reporting pages/s overall and the parsed-field
envelope so the run is checkable, not just fast.

The fake-transport number is the FRAMEWORK ceiling (network-free);
a real deployment divides by its HTTP latency / rate limit, which
the token bucket enforces per partition. For scale honesty the soak
also runs a rate-limited arm (--rate) and asserts wall time is
within tolerance of n / (rate * partitions) * ceil(partitions / cores)
— i.e. the limiter bounds each partition independently instead of
serializing the job.

Usage: python tools/soak_fetch.py [--urls N] [--partitions P]
                                  [--rate R] [--repeats K]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--urls", type=int, default=200_000)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--rate", type=float, default=200.0,
                    help="per-partition pages/s for the limited arm")
    ap.add_argument("--rate-urls", type=int, default=12_800,
                    help="worklist size for the rate-limited arm")
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from etl_guiacores_spark import harness
    from etl_guiacores_spark.sources.fetch import fetch_pages
    from etl_guiacores_spark.sources.html_parse import parse_pages
    from etl_guiacores_spark.sources.synthetic import (
        DETAIL_URL_BASE,
        FAIL_MOD,
        synthetic_site_transport,
    )

    spark = harness.session("soak-fetch")
    # warm the Python worker pool so run 1 isn't a fork benchmark
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: (pdf for pdf in it), "id long").count()

    def worklist(n: int):
        return spark.range(1, n + 1).select(
            F.col("id").cast("string").alias("id_negocio"),
            F.concat(F.lit(DETAIL_URL_BASE), F.col("id").cast("string")).alias("url"),
        )

    def run_once(n: int, rate: float) -> tuple[float, dict]:
        fetched = fetch_pages(
            worklist(n),
            synthetic_site_transport,
            max_attempts=3,
            rate_limit_per_sec=rate,
            num_partitions=args.partitions,
        )
        parsed = parse_pages(fetched)
        t0 = time.monotonic()
        row = (
            parsed.agg(
                F.count("*").alias("rows"),
                F.count("nombre").alias("parsed_ok"),
                F.count("whatsapp").alias("with_wa"),
                F.count("sitio_web").alias("with_site"),
            ).collect()[0]
        )
        return time.monotonic() - t0, row.asDict()

    # --- unlimited arm: the framework throughput ceiling -------------
    walls = []
    env = None
    for _ in range(args.repeats):
        w, env = run_once(args.urls, rate=0.0)
        walls.append(round(w, 2))
    best = min(walls)
    n_fail = args.urls // FAIL_MOD
    expect_ok = args.urls - n_fail
    assert env["rows"] == args.urls, env
    assert env["parsed_ok"] == expect_ok, (env, expect_ok)

    # --- rate-limited arm: the limiter must bound per PARTITION ------
    # one partition's share takes n / (rate * partitions) seconds, and
    # the cores run ceil(partitions / cores) waves of partitions, so
    # ideal wall = n / (rate * partitions) * waves; serialization
    # across partitions would show ~partitions x the one-wave figure.
    # Allow generous slack for startup + uneven partition sizes.
    rw, renv = run_once(args.rate_urls, rate=args.rate)
    cores = spark.sparkContext.defaultParallelism
    waves = -(-args.partitions // cores)
    ideal = args.rate_urls / (args.rate * args.partitions) * waves
    assert renv["rows"] == args.rate_urls, renv
    limiter_ok = rw < ideal * 3 + 2.0

    out = {
        "urls": args.urls,
        "partitions": args.partitions,
        "walls_s": walls,
        "best_wall_s": best,
        "pages_per_s": round(args.urls / best),
        "quarantined": n_fail,
        "retry_attempts_paid": n_fail * 3,
        "envelope": env,
        "rate_arm": {
            "urls": args.rate_urls,
            "rate_per_partition": args.rate,
            "cores": cores,
            "wall_s": round(rw, 2),
            "ideal_wall_s": round(ideal, 2),
            "per_partition_bound_held": limiter_ok,
        },
        "reference_ceiling_pages_per_s": 1.6,
    }
    print(json.dumps(out))
    spark.stop()
    return 0 if limiter_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
