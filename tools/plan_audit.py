"""Plan audit: scan every registered query's physical plan for
anti-patterns that would hurt at 100 TB.

Checks per query:
- CartesianProduct / BroadcastNestedLoopJoin (unless the query is an
  intentional cross product)
- row-at-a-time PythonUDF (BatchEvalPython) — the engine policy is
  zero row-UDFs in the query suite
- missing WholeStageCodegen entirely (plan never enters codegen)

Report only (no effect on the clean count): the queries whose final
plan reads a ``Scan ExistingRDD`` leaf — a driver-built
``createDataFrame(list)`` that unpickles its rows in Python workers on
every evaluation, where an Arrow-backed ``LocalTableScan`` would not.

Usage: python tools/plan_audit.py [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INTENTIONAL_CROSS = {"q06_filter_cross_product", "q28_cosine_topk",
                     # query set x broadcast nlist-row centroid table —
                     # bounded by construction (ann.py probe stage)
                     "q63_ivf_ann_fullprobe",
                     # corpus x broadcast bounded anchor set (the knn
                     # shape; retrieval.hard_negatives)
                     "q133_hard_negatives",
                     # both retriever legs are the q28 knn shape:
                     # corpus x broadcast 5-row query set (cosine via
                     # knn_brute_force, L2 inline) feeding rrf_fuse
                     "q156_rrf_fusion",
                     # negative-sampling candidate space: users x the
                     # broadcast DISTINCT item vocabulary (bounded by
                     # |items|, 5 here) minus seen pairs — enumerating
                     # the complement REQUIRES the product
                     "q180_negative_sampling"}
# Scalar-join pattern: a cross join whose build side is a broadcast
# 1-row ungrouped aggregate (e.g. q46's in-plan n_docs). The resulting
# BroadcastNestedLoopJoin is n x 1 — bounded by construction, and the
# price of keeping the scalar inside the plan instead of a driver
# count() + literal (one Spark job instead of two). q28/q84's variant
# is n x |broadcast query set| (knn_brute_force's documented design);
# q82's build side is the 1-row mixture-totals aggregate.
# Partition-less windows move EVERY row of their input through one
# reducer — fatal on a data-sized relation, fine on a bounded one.
# Round-9 triage of all 16 occurrences (each verified bounded by
# construction); a NEW query that introduces one fails the audit until
# it is triaged and listed here with its bounded relation named.
UNPARTITIONED_WINDOW_OK = {
    # one row PER RANGE PARTITION: the broadcast-offset window inside
    # ordering.global_prefix_sum / dense_ids (#partitions rows)
    "q80_dense_ids": "global_prefix_sum offsets (#partitions rows)",
    "q89_token_offsets": "global_prefix_sum offsets (#partitions rows)",
    "q113_session_concurrency": "sweep via global_prefix_sum offsets",
    "q193_lorenz_concentration": "dense_ids + prefix-sum offsets",
    "q194_quantile_sketch_audit": "dense_ids offsets (exact leg)",
    # vocabulary-sized relations (distinct tokens)
    "q45_vocabulary": "|distinct tokens| rows",
    "q98_zipf_slope": "|distinct tokens| rows",
    # small-by-construction relations
    "q95_shard_manifest": "|shards| rows",
    "q138_exact_quota_sample": "|strata| leftover-seat rows",
    "q169_quantile_normalize": "|distinct ranks| rows",
    "q172_mixture_waterfill": "|strata| rows x water-fill steps",
    "q173_padding_waste": "|bins| rows",
    "q178_kaplan_meier": "|distinct durations| risk table",
    "q186_daily_acquisition": "|days| rows",
    "q161_top_paths": "bounded top-k paths",
    "q192_wow_growth": "|weeks| rows",
}

# Driver-local regime results (operators/graph.py): the whole final
# plan is ONE LocalTableScan of an Arrow table the driver built, at most
# the operator's threshold rows, so no operator exists to compile.
# Exempt from the codegen check only while the plan stays that lone
# scan; a new query with such a plan is triaged here first.
LOCAL_RESULT_OK = {
    "q101_pagerank_neardup": "pagerank_int ranks (<= 100k nodes)",
    "q162_kcore_dedup": "kcore survivors (<= 100k symmetric edges)",
}

SCALAR_CROSS = {
    "q46_tfidf",
    "q74_bigram_lm_score",
    "q28_cosine_topk",
    "q82_temperature_mixture",
    "q84_knn_label_vote",
    # 1-row corpus-total aggregate (share_ppm denominator)
    "q58_source_mixture",
    # 1-row (N, avgdl_micro) corpus stats joined onto the bounded
    # (doc, query-term) posting aggregate (retrieval.bm25_scores)
    "q119_bm25_topk",
    # same 1-row stats scalar join, batch form (retrieval.bm25_batch_topk)
    "q131_bm25_batch",
    # 1-row (n, total) scalar joined onto the dense-ids-ranked customer
    # relation for the decile-boundary filter (Lorenz curve)
    "q193_lorenz_concentration",
    # 1-row (__n) node-count scalar crossJoined onto the node set once
    # per power iteration (pagerank_int's base-rank term). Surfaced in
    # round 9 when the per-round localCheckpoint barrier was removed:
    # the final plan now SHOWS all 5 rounds (previously truncated),
    # each with the same bounded scalar join.
    "q101_pagerank_neardup",
    # bounded |queries|-row broadcast fan-out: batch MMR relevance is
    # inherently |docs| x |queries|; the BNLJ's broadcast side IS the
    # bounded query table (the q28/q84 anchor-set shape). Catalyst
    # folds the constant equi-key, which is fine — a nested loop over
    # a handful of broadcast rows per probe row is the right plan.
    "q195_mmr_batch",
    # same shape with a 1-row broadcast query table: mmr_rerank is a
    # thin wrapper over mmr_rerank_batch since round 10 (the verdict's
    # one-greedy-implementation item)
    "q125_mmr_rerank",
    # q131's plan plus a 1-row per-query relevant-count aggregate
    "q132_retrieval_metrics",
    # 1-row N-total + 1-row leftover-seats aggregates joined onto the
    # bounded strata table (sampling.exact_quota_stratified)
    "q138_exact_quota_sample",
    # 1-row token-total + 1-row pair-total aggregates joined onto the
    # bounded (>= min_count) pair table (textstats.pmi_collocations)
    "q136_pmi_collocations",
    # 1-row distinct-doc-count aggregate joined onto 1-row stats
    "q66b_packing_invariants",
    # 1-row corpus-total aggregate feeding the per-source keep rates
    "q94_mixture_rebalance",
    # k-row union-of-1-row step-count aggregates x broadcast 1-row
    # step-1 total (funnel.funnel_steps conversion denominator):
    # k x 1 with k = len(steps), bounded by construction
    "q140_funnel",
    # 1-row basket-count aggregate joined onto the bounded
    # |types|^2 rule table (evalmetrics.assoc_rules)
    "q160_assoc_rules",
    # 1-row total-count-mass aggregate x the bounded top-k estimate
    # table (sketches.countmin_audit bound denominator)
    "q168_countmin_audit",
    # 1-row N aggregate (max global rank) joined onto every row for
    # the rank mapping (rankstats.quantile_normalize) — the scalar
    # stays in-plan instead of a driver count() + literal
    "q169_quantile_normalize",
    # 1-row (capped_a, open_w) totals aggregate joined onto the
    # BOUNDED per-source relation (mixing.waterfill_allocation)
    "q172_mixture_waterfill",
    # 3-row broadcast threshold spine left-joined on an inequality
    # (j >= threshold) — the sweep's whole point is one verify pass
    # fanned across a CONSTANT threshold list, never a data-sized
    # non-equi join
    "q182_threshold_sweep",
}


def iter_window_specs(plan: str):
    """Yield the full top-level argument list of every
    ``windowspecdefinition(...)`` in a plan string, paren-balanced.

    The old regex ``windowspecdefinition\\(([^)]*)\\)`` truncated at the
    FIRST ``)`` of any nested expression, so a sort key like
    ``coalesce(a, b) ASC`` was cut to ``coalesce(a, b`` — which then
    split on ``,`` into ``coalesce(a`` and escaped the `` ASC`` probe:
    a false NEGATIVE for single-reducer windows (round-9 advice item).
    """
    needle = "windowspecdefinition("
    pos = 0
    while True:
        start = plan.find(needle, pos)
        if start < 0:
            return
        i = start + len(needle)
        depth = 1
        begin = i
        while i < len(plan) and depth:
            c = plan[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        yield plan[begin : i - 1]
        pos = i


def first_top_level_arg(args: str) -> str:
    """First comma-separated argument at paren depth 0 (a nested call's
    internal commas — ``coalesce(a, b)`` — must not split the arg)."""
    depth = 0
    for idx, c in enumerate(args):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            return args[:idx].strip()
    return args.strip()


def unpartitioned_window_in(plan: str) -> bool:
    """True when any window spec in the plan has no PARTITION BY: its
    first top-level argument is already a sort order (ends with
    `` ASC/DESC NULLS FIRST/LAST`` — Spark always prints the NULLS
    suffix, so matching the full tail can't false-positive on a
    partition expression that merely CONTAINS `` ASC`` somewhere,
    e.g. a CASE/sort_array sub-expression; round-10 advice item) or,
    with no ORDER BY either, directly the frame — the whole-relation
    single-reducer shape."""
    tails = (
        " ASC NULLS FIRST",
        " ASC NULLS LAST",
        " DESC NULLS FIRST",
        " DESC NULLS LAST",
    )
    for args in iter_window_specs(plan):
        first = first_top_level_arg(args)
        if first.endswith(tails) or first.startswith("specifiedwindowframe"):
            return True
    return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from etl_guiacores_spark import harness

    registry = harness.load_registry()
    spark = harness.session("plan-audit")

    problems = []
    rdd_scans = []
    for name, spec in registry.items():
        df = spec.fn(spark, args.sf)
        # execute THIS DataFrame's own QueryExecution: AQE only
        # finalizes (and codegen-annotates) the plan after an action,
        # and df.write would spawn a fresh QueryExecution instead
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # reclaim interior persists (q74/q200/q201/...) per query,
        # same as bench.py:92 / check_oracle.py
        spark.catalog.clearCache()
        if "Scan ExistingRDD" in plan:
            rdd_scans.append(name)
        issues = []
        if name not in INTENTIONAL_CROSS:
            if "CartesianProduct" in plan:
                issues.append("CartesianProduct")
            if "BroadcastNestedLoopJoin" in plan and name not in SCALAR_CROSS:
                issues.append("BroadcastNestedLoopJoin")
        if "BatchEvalPython" in plan:
            issues.append("row-at-a-time PythonUDF")
        if name not in UNPARTITIONED_WINDOW_OK and unpartitioned_window_in(
            plan
        ):
            # a partitioned spec leads with partition columns; an
            # unpartitioned one leads directly with a sort order — or,
            # worse, directly with the frame (no ORDER BY at all: the
            # whole-table single-reducer shape)
            issues.append("unpartitioned window (single reducer)")
        # codegen stages print as "*(n) Operator" in executedPlan toString
        lone_local = plan.strip().startswith("LocalTableScan") and "\n" not in plan.strip()
        if "*(" not in plan and not (name in LOCAL_RESULT_OK and lone_local):
            issues.append("no codegen span")
        status = "WARN" if issues else "ok  "
        print(f"{status} {name}" + (f": {', '.join(issues)}" if issues else ""))
        if issues:
            problems.append((name, issues))

    print(f"\n{len(registry) - len(problems)}/{len(registry)} clean plans")
    print(f"{len(rdd_scans)} plans with a Scan ExistingRDD leaf: "
          + (", ".join(rdd_scans) or "none"))
    return 0  # informational — warnings reviewed by hand


if __name__ == "__main__":
    raise SystemExit(main())
