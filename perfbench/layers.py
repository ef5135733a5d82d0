"""The reduction of ops and spans into metrics.

The metric names and units are those of ``BENCHMARK.json`` at the
repository root. Every workload reports every metric of a kind. A
per-layer metric of a layer the workload never calls reads 0;
README.md says which metric each layer should move, and on which
workload.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from perfbench.spans import COUNTERS, seconds
from perfbench.workloads import CORPUS_STAGES, GRAPH, LINKAGE

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

SHARD_STEPS = ("chunk", "pack", "offset_and_shard_write", "manifest")
#: span-name prefixes whose Spark counters are also reported on their own
COUNTER_LAYERS = ("queries", "sources", "plans.pipeline", "plans.corpus")


def _tag(values: dict, units: dict) -> dict:
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"metrics not listed in BENCHMARK.json: {sorted(unknown)}")
    return {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()}


def end_to_end(ops, session: dict) -> dict:
    return _tag({
        "setup_s": session["start_s"] + session["warmup_s"],
        "wall_s": statistics.median(op.wall_s for op in ops),
    }, END_TO_END)


def per_layer(tracer, ops, session: dict) -> dict:
    """Per-op averages of the traced loop's spans and counters."""
    spans, n = tracer.spans, len(ops)

    def secs(name):
        return sum(seconds(s) for s in spans if s["name"] == name) / n

    def count(key, pred):
        return sum(s[key] for s in spans if pred(s)) / n

    def extra(key):
        return sum(op.extra.get(key, 0) for op in ops) / n

    def rate(items, busy):
        return extra(items) / extra(busy) if extra(busy) else 0.0

    v = {f"session.{k}": x for k, x in session.items()}
    v["trace.wall_s"] = statistics.median(op.wall_s for op in ops)
    v["trace.read_s"] = tracer.read_s / n

    build = lambda s: s["name"] == "queries.build"  # noqa: E731
    write = lambda s: s["name"] == "queries.write"  # noqa: E731
    v["queries.build_s"] = secs("queries.build")
    v["queries.build_driver_s"] = max(v["queries.build_s"] - count("job_s", build), 0.0)
    v["queries.build_jobs"] = count("jobs", build)
    v["queries.plan_s"] = count("plan_s", write)
    v["queries.exec_s"] = secs("queries.write") - v["queries.plan_s"]
    v["queries.exchanges"] = count("exchanges", write)
    v["queries.scans"] = count("scans", write)
    if any(map(write, spans)):
        v["queries.p50_s"] = statistics.median(x for op in ops for x in op.latencies)
    v["operators.linkage.qgram_s"] = sum(extra(q) for q in LINKAGE)
    v["operators.graph_s"] = sum(extra(q) for q in GRAPH)

    v["sources.pages_per_s"] = rate("pages", "bulk_scrape_s")
    v["sources.fetch_s"] = secs("sources.fetch")
    v["sources.parse_s"] = secs("sources.parse")
    v["sources.fetch_attempts"] = extra("fetch_attempts")
    v["sources.fetch_failed"] = extra("fetch_failed")
    if v["sources.fetch_attempts"]:
        v["sources.fetch_useful_ratio"] = extra("fetch_ok") / v["sources.fetch_attempts"]
    v["plans.pipeline.silver_s"] = secs("plans.pipeline.silver")
    v["plans.pipeline.gold_s"] = secs("plans.pipeline.gold")
    roots = [s for s in spans if s["name"] == "plans.pipeline"]
    children = [s for s in spans if s["parent"] in {r["id"] for r in roots}]
    v["plans.pipeline.driver_s"] = (
        sum(map(seconds, roots)) - sum(map(seconds, children))
    ) / n
    v["io.bytes_written"] = extra("bytes_written")
    v["io.files_written"] = extra("files_written")

    v["plans.corpus.docs_per_s"] = rate("docs", "corpus_golden_s")
    for stage in CORPUS_STAGES:
        v[f"plans.corpus.{stage}_s"] = secs(f"plans.corpus.{stage}")
    for step in SHARD_STEPS:
        v[f"plans.shard_writer.{step}_s"] = sum(
            op.extra.get("shard_timings", {}).get(f"{step}_s", 0.0) for op in ops
        ) / n

    for c in COUNTERS:
        v[f"spark.{c}"] = count(c, lambda s: True)
        for layer in COUNTER_LAYERS:
            v[f"{layer}.spark.{c}"] = count(
                c, lambda s, p=layer: s["name"] == p or s["name"].startswith(p + ".")
            )
    return _tag(v, PER_LAYER)
