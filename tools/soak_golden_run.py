"""Golden corpus run soak: EVERY pipeline stage in ONE invocation, 20x.

Round-5's soak proved filter->dedup->near-dup->shards as separate
invocations; round-7 wired span stages into the pipeline. This soak
runs the COMPLETE composed chain exactly as a training job would —
one ``run_corpus_pipeline`` call with every optional stage enabled:

    ingest -> quality filter -> exact dedup -> doc-level decontam ->
    span-level decontam (excise quoted benchmark spans) -> LSH
    near-dup + exact CC survivors -> repeated-span strip -> Gopher
    gate -> exact mixture quota (source shares) -> chunks/vocab ->
    packed shards + atomic manifest

The pipeline asserts token conservation and quota exactness at every
boundary internally (a violated invariant aborts the run); this soak
then re-verifies the WRITTEN artifacts independently:

- quota: per-source counts of the stored ``sampled`` table equal a
  from-scratch largest-remainder apportionment of the stored
  ``gopher_gated`` table
- decontamination: no sampled document's final text contains any
  benchmark passage verbatim
- shards: manifest == shard files (counts + tokens), global_seq dense
  0..n-1, shards tile the token stream, zero over-budget sequences

Usage: python tools/soak_golden_run.py [--replicas 20] [--sf DIR]
                                       [--skew] [--hot-n 800]
Prints ONE JSON line with per-stage seconds and check results.

``--skew`` (round-8 verdict item 6) stresses the same composed run
with the non-uniform shapes a real 100 TB corpus has, which the
uniform soak never exercised:

- a Zipf-ish document-LENGTH distribution (hash-bucketed 8x/4x/2x/1x
  text multipliers, so a few percent of documents carry most tokens —
  the per-row stages' task-skew driver);
- one HOT near-dup clique (``--hot-n`` clones of one base document,
  all mutually near-duplicate) — every clone lands in the same LSH
  band buckets, so the candidate-pair self-join sees one massively
  skewed key: the AQE skew-join path the LSH verify stage relies on;
- the standard invariants PLUS: the planted clique must collapse to
  at most one survivor, and per-stage task-time skew
  (max/median executorRunTime from the Spark status API) is recorded
  so the skew actually observed is a number in SCALE.md, not a claim.
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
    ap.add_argument("--replicas", type=int, default=20)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mixture-total", type=int, default=3000)
    ap.add_argument("--skew", action="store_true")
    ap.add_argument("--hot-n", type=int, default=800)
    # write the pre-chunked bronze layout (chunks of N tokens) at
    # ingest and feed every heavy text stage from it, so per-task work
    # is bounded by the chunk size instead of the Zipf document-length
    # tail; run --skew with and without it and compare task_skew_top
    # per stage NAME + the metrics envelope (outputs must be
    # identical). With it, the remaining high-ratio stage should be
    # the one-time bronze write itself.
    ap.add_argument("--prechunk-tokens", type=int, default=None)
    # the span stages REWRITE text. With --prechunk-tokens the pipeline
    # re-chunks rewritten survivors (bronze_rechunked after the span
    # strip, bronze_restripped after near-dup), so near-dup AND the
    # gopher gate read chunk rows in EVERY config — no stage
    # tokenizes a whole document in-task after ingest. Disabling the
    # span stages only drops the extra re-chunk writes (filter +
    # shingles + gopher all read the single ingest bronze); the
    # metrics envelope then differs from the span-stage soaks and is
    # only comparable within a same-flag A/B.
    ap.add_argument("--no-span-stages", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from etl_guiacores_spark.plans.corpus_pipeline import (
        CorpusConfig,
        run_corpus_pipeline,
    )
    from etl_guiacores_spark.session import get_spark

    # the skew leg reads per-stage task-time distributions off the
    # status REST API, so it needs the UI server
    spark = get_spark(
        app_name="soak-golden-run",
        extra_conf={"spark.ui.enabled": "true"} if args.skew else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{args.sf}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    # 20x replication with near-dup cliques (rep 0 verbatim, others
    # with a suffix perturbation) — the same corpus shape as the
    # round-5 shards soak so stage timings stay comparable
    reps = base.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(args.replicas - 1))).alias(
            "rep"
        ),
    ).select(
        (F.col("doc_id") * args.replicas + F.col("rep")).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(
            F.concat(
                F.col("text"), F.lit(" rep "), (F.col("rep") % 7).cast(
                    "string"
                )
            )
        )
        .alias("text"),
        "source",
    )

    hot_base = None
    if args.skew:
        # Zipf-ish length multipliers: bucket 0 -> 8x, 1 -> 4x,
        # 2-3 -> 2x, rest 1x (hash-assigned, deterministic)
        bucket = F.pmod(F.xxhash64("doc_id"), F.lit(16))
        mult = (
            F.when(bucket == 0, F.lit(8))
            .when(bucket == 1, F.lit(4))
            .when(bucket <= 3, F.lit(2))
            .otherwise(F.lit(1))
        )
        reps = reps.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), mult), lambda _: F.col("text")
                ),
                " ",
            ),
        )
        # one hot near-dup clique: hot_n clones of a single base doc,
        # each with a distinct tiny suffix (mutual Jaccard ~1, no two
        # exactly equal, so they all REACH the LSH stage). The suffix
        # must be LETTERS: the exact-dedup fingerprint normalization
        # strips non-letter chars, so numeric suffixes would collapse
        # the whole clique at the exact stage and never stress LSH
        # pick the base from the TOP of the id range: the decontam
        # benchmark quotes windows of the 40 LOWEST-id docs, and a
        # clique cloned from one of those is dropped wholesale at the
        # decontam stage — it must survive to the LSH stage instead
        hot_base = (
            base.withColumn("__nt", F.size(F.split("text", r"\s+")))
            .filter(F.col("__nt").between(30, 150))
            .orderBy(F.desc("doc_id"))
            .select("doc_id", "text", "source")
            .first()
        )
        assert hot_base is not None, "no 30-150-token base doc found"
        clones = spark.range(args.hot_n).select(
            (F.lit(2_000_000_000) + F.col("id")).alias("doc_id"),
            F.concat(
                F.lit(hot_base["text"]),
                F.lit(" clone "),
                F.expr("char(97 + id % 26)"),
                F.expr("char(97 + (id div 26) % 26)"),
                F.expr("char(97 + (id div 676) % 26)"),
            ).alias("text"),
            F.lit(hot_base["source"]).alias("source"),
        )
        reps = reps.unionByName(clones)

    out = tempfile.mkdtemp(prefix="soak_golden_")
    # benchmark: 8-token windows from 40 base documents -> both the
    # doc-level drop and the span-excise paths do real work
    bench_rows = [
        (" ".join(r["text"].split()[2:10]),)
        for r in base.orderBy("doc_id").limit(40).collect()
        if len(r["text"].split()) >= 10
    ]
    bench_p = f"{out}/bench"
    spark.createDataFrame(bench_rows, "text string").write.parquet(bench_p)

    cfg = CorpusConfig(
        min_quality=0.0,
        near_dup_jaccard=0.6,
        cluster_exact=True,
        chunk_tokens=64,
        chunk_overlap=8,
        vocab_top_k=1000,
        benchmark_path=bench_p,
        decontam_spans=not args.no_span_stages,
        decontam_span_n=8,
        strip_spans=not args.no_span_stages,
        span_n=10,
        gopher_gate=True,
        gopher_min_tokens=10,
        gopher_max_tokens=200,
        mixture_total=args.mixture_total,
        mixture_strata=("source",),
        write_shards=True,
        budget_tokens=512,
        sequences_per_shard=1000,
        prechunk_tokens=args.prechunk_tokens,
    )
    stage_t: dict[str, float] = {}
    last = time.time()

    def cb(stage, info):
        nonlocal last
        now = time.time()
        stage_t[stage] = round(now - last, 1)
        last = now

    t0 = time.time()
    pdir = f"{out}/run"
    metrics = run_corpus_pipeline(reps, pdir, cfg, progress_callback=cb)
    wall = round(time.time() - t0, 1)
    checks: dict[str, str] = {}

    # --- crash-resume economics: a rerun over the landed artifacts
    # must skip every stage (identical metrics) in a small fraction
    # of the original wall — the restart cost a 100 TB operator pays
    t0 = time.time()
    metrics_r = run_corpus_pipeline(reps, pdir, cfg, resume=True)
    resume_wall = round(time.time() - t0, 1)
    assert metrics_r == metrics, "resume changed the metrics envelope"
    assert resume_wall < wall / 2, (resume_wall, wall)
    checks["resume"] = f"ok ({resume_wall}s vs {wall}s full)"

    # --- quota re-verified from the stored artifacts -----------------
    pop = {
        r["source"]: r["n"]
        for r in spark.read.parquet(f"{pdir}/gopher_gated")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n = sum(pop.values())
    total = min(args.mixture_total, n)
    quota = {s: total * c // n for s, c in pop.items()}
    left = total - sum(quota.values())
    for s in sorted(pop, key=lambda s: (-(total * pop[s] % n), s))[:left]:
        quota[s] += 1
    got = {
        r["source"]: r["n"]
        for r in spark.read.parquet(f"{pdir}/sampled")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {s: q for s, q in quota.items() if q > 0}, (
        "quota apportionment mismatch"
    )
    checks["quota"] = "ok"

    # --- decontamination on the final sampled text -------------------
    sampled = spark.read.parquet(f"{pdir}/sampled")
    bench_lit = [b[0] for b in bench_rows]
    cond = None
    for b in bench_lit:
        c = F.col("text").contains(F.lit(b))
        cond = c if cond is None else (cond | c)
    leaked = sampled.filter(cond).count()
    assert leaked == 0, f"{leaked} sampled docs still quote the benchmark"
    checks["decontam"] = "ok"

    # --- shard artifacts vs manifest ---------------------------------
    budget = cfg.budget_tokens
    chunks = spark.read.parquet(f"{pdir}/chunks")
    shards = spark.read.parquet(f"{pdir}/shards/shards")
    manifest = [
        r.asDict()
        for r in spark.read.parquet(f"{pdir}/shards/manifest")
        .orderBy("shard_id")
        .collect()
    ]
    chunk_tokens = chunks.agg(F.sum("n_chunk_tokens")).first()[0]
    agg = shards.agg(
        F.sum("n_tokens").alias("tok"),
        F.count("*").alias("n"),
        F.min("global_seq").alias("lo"),
        F.max("global_seq").alias("hi"),
        F.count_distinct("global_seq").alias("nd"),
        F.max((F.col("n_tokens") > budget).cast("int")).alias("over"),
    ).first()
    assert agg["tok"] == chunk_tokens == metrics["shards"]["total_tokens"]
    assert (agg["lo"], agg["hi"], agg["nd"]) == (0, agg["n"] - 1, agg["n"])
    assert agg["over"] == 0
    run_tok = 0
    for m in manifest:
        assert m["first_token"] == run_tok
        run_tok += m["n_tokens"]
    assert run_tok == chunk_tokens
    checks["shards"] = f"ok ({int(agg['n'])} sequences)"

    skew_top = None
    if args.skew:
        # --- planted hot clique must collapse on the stored survivors
        n_hot_clean = (
            spark.read.parquet(f"{pdir}/clean")
            .filter(F.col("doc_id") >= 2_000_000_000)
            .count()
        )
        assert n_hot_clean <= 1, f"hot clique left {n_hot_clean} survivors"
        hot_pairs = (
            spark.read.parquet(f"{pdir}/dup_pairs")
            .filter(
                (F.col("id_a") >= 2_000_000_000)
                & (F.col("id_b") >= 2_000_000_000)
            )
            .count()
        )
        assert hot_pairs >= args.hot_n - 1, (
            f"clique under-connected: {hot_pairs} internal verified pairs"
        )
        checks["hot_clique"] = (
            f"ok (survivors={n_hot_clean}, internal_pairs={hot_pairs})"
        )

        # --- observed per-stage task skew off the status REST API ----
        import urllib.request

        url = (
            f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}/stages?status=complete"
            f"&withSummaries=true&quantiles=0.0,0.5,1.0"
        )
        stages = json.load(urllib.request.urlopen(url))
        ratios = []
        for s in stages:
            d = (s.get("taskMetricsDistributions") or {}).get(
                "executorRunTime"
            )
            # sub-200ms-median stages are pure task-launch noise
            if not d or d[1] <= 200:
                continue
            ratios.append(
                {
                    "ratio": round(d[2] / max(d[1], 1.0), 1),
                    "stage": int(s["stageId"]),
                    "n_tasks": int(s["numCompleteTasks"]),
                    "median_ms": int(d[1]),
                    "max_ms": int(d[2]),
                    # attribution: which pipeline phase owns the skew
                    # (the --prechunk-tokens A/B reads this to tell the
                    # one-time bronze write from consuming scans)
                    "name": (s.get("name") or "")[:48],
                }
            )
        ratios.sort(key=lambda r: -r["ratio"])
        skew_top = ratios[:5]
        checks["task_skew"] = "recorded"

    print(
        json.dumps(
            {
                "soak": "golden_run_skew" if args.skew else "golden_run",
                "prechunk_tokens": args.prechunk_tokens,
                "span_stages": not args.no_span_stages,
                "replicas": args.replicas,
                "hot_n": args.hot_n if args.skew else None,
                "task_skew_top": skew_top,
                "wall_s": wall,
                "resume_wall_s": resume_wall,
                "stage_s": stage_t,
                "metrics": {
                    k: v for k, v in metrics.items() if k != "shards"
                },
                "shards": metrics["shards"],
                "checks": checks,
            }
        )
    )
    shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
