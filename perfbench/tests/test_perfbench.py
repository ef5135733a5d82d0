"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/tests -q

The closed-form bulk counts are checked against a brute-force walk of
the synthetic site; the workloads then run end to end at tiny sizes
(a bulk scrape over 300 ids plus the golden corpus at sf0.001; three
queries at sf0.001) and must emit every named metric with its unit,
untraced and traced.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run as bench  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    QUERIES,
    WORKLOADS,
    BulkScrape,
    CorpusGolden,
    Pipelines,
    QueryMix,
    bulk_expected,
)

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def brute_force_bulk(lo: int, hi: int) -> dict:
    from etl_guiacores_spark.sources.html_parse import DETAIL_URL_BASE
    from etl_guiacores_spark.sources.synthetic import synthetic_site_transport

    fetch = synthetic_site_transport()
    failed = with_email = 0
    for n in range(lo, hi + 1):
        try:
            page = fetch(f"{DETAIL_URL_BASE}{n}")
        except IOError:
            failed += 1
            continue
        with_email += "@example.com" in page
    return {
        "records": hi - lo + 1 - failed,
        "with_email": with_email,
        "quarantined": 0,
        "fetch_failed": failed,
    }


@pytest.mark.parametrize("seed", [0, 1, 7, 12345])
def test_bulk_closed_form_matches_brute_force(seed):
    wl = BulkScrape(n_ids=2_000)
    wl.prepare("unused", seed)
    assert wl.expected == brute_force_bulk(wl.lo, wl.hi)


def test_reference_window_counts():
    assert bulk_expected(1, 99_999) == {
        "records": 98_969, "with_email": 24_742, "quarantined": 0, "fetch_failed": 1_030,
    }


def test_spec_workloads_are_the_code_workloads():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def _assert_metrics(result: dict, kind: str) -> None:
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


TINY = {
    "pipelines": lambda: Pipelines(BulkScrape(n_ids=300), CorpusGolden(sf=0.001)),
    "query_mix": lambda: QueryMix(sf=0.001, names=QUERIES[:3]),
}


@pytest.mark.parametrize("name", sorted(TINY))
def test_workload_emits_every_metric(name, tmp_path):
    untraced = bench.run(TINY[name](), 3, 0.1, False, tmp_path / "plain")
    _assert_metrics(untraced, "end_to_end")
    for metric in ("setup_s", "wall_s"):
        assert untraced["metrics"][metric]["value"] > 0

    traced = bench.run(TINY[name](), 3, 0.1, True, tmp_path / "traced")
    _assert_metrics(traced, "per_layer")
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["trace.wall_s"] > 0
    layers = {
        "pipelines": ("sources.fetch_s", "sources.pages_per_s", "plans.pipeline.silver_s",
                      "plans.corpus.near_dup_s", "plans.corpus.docs_per_s"),
        "query_mix": ("queries.build_s", "queries.plan_s", "queries.exec_s", "queries.p50_s"),
    }[name]
    for layer in layers:
        assert m[layer] > 0, layer
