"""The shared query harness behind bench.py, the driver entry and the
measurement tools."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from etl_guiacores_spark import harness

REPO = Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"


def test_load_registry_is_whole_whatever_module_came_first():
    names = set(harness.load_registry())
    assert len(names) == 203
    # a fresh process that imports one query module before the rest
    script = (
        "import etl_guiacores_spark.queries_corpus\n"
        "from etl_guiacores_spark.harness import load_registry\n"
        "print('\\n'.join(load_registry()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    ).stdout
    assert set(out.split()) == names


def test_run_noop_times_build_within_total(spark):
    registry = harness.load_registry()
    for name in ("q01_pricing_summary", "q07_keep_first_dedupe", "q45_vocabulary"):
        build_s, total_s = harness.run_noop(spark, registry[name].fn, SF_DIR)
        assert 0 <= build_s <= total_s, name


def test_bench_payload_key_order():
    import bench

    out = bench.payload({"q01": 0.5, "q02": 1.25}, {"q01": 0.5, "q02": 1.0}, 0.001)
    assert list(out) == [
        "queries_cold",
        "queries",
        "n_queries",
        "timing_mode",
        "cold_total",
        "metric",
        "value",
        "unit",
        "sf",
    ]
    assert (out["n_queries"], out["cold_total"], out["value"]) == (2, 1.75, 1.5)
