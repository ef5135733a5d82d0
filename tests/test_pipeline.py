"""End-to-end staged pipeline: bronze/silver/gold + quarantine + metrics."""

from __future__ import annotations

from datetime import datetime, timezone

from etl_guiacores_spark import io as gio
from etl_guiacores_spark.plans import run_batch_pipeline

RAW_ROWS = [
    # canonical-style bulk rows (dirt: spaces, bad phone, guiacores social, dup id)
    ("1", "  Panadería   Sol  ", "Av. Roca 742 - (8300) Neuquen",
     "2991234567, 123", "29912345678", "laespiga.com.ar",
     "info@sol.com.ar", "https://guiacores.com.ar/fb", "https://instagram.com/sol"),
    ("1", "Panadería Sol", "Av. Roca 742 - (8300) Neuquen",
     "2991234567", "N/A", "N/A", "broken@", "N/A", "N/A"),
    ("2", "Ferretería Norte", "Calle 10", "N/A", "N/A", "N/A", "N/A", "N/A", "N/A"),
    (None, "Sin Id", "x", "N/A", "N/A", "N/A", "N/A", "N/A", "N/A"),  # -> quarantine
]
COLS = ["id_negocio", "nombre", "direccion", "telefonos", "whatsapp",
        "sitio_web", "email", "facebook", "instagram"]


def test_pipeline_end_to_end(spark, tmp_path):
    from etl_guiacores_spark.functions.text import from_na
    from pyspark.sql import functions as F

    raw = spark.createDataFrame(RAW_ROWS, COLS)
    raw = raw.select([from_na(F.col(c)).alias(c) for c in COLS])
    out = str(tmp_path / "pipeline")

    result = run_batch_pipeline(raw, out, clock=datetime(2025, 1, 1, tzinfo=timezone.utc))

    assert result["status"] == "success"
    assert result["records_processed"] == 2  # dup id deduped, null id quarantined
    assert result["metrics"]["quarantined"] == 1

    silver = spark.read.parquet(f"{out}/silver")
    rows = {r["id_negocio"]: r for r in silver.collect()}
    assert rows["1"]["nombre"] == "Panadería Sol"
    assert rows["1"]["localidad"] == "(8300) Neuquen"
    assert rows["1"]["direccion"] == "Av. Roca 742"
    # invalid phone dropped from the list, valid one normalized (T2/T4)
    assert rows["1"]["telefonos"] == ["299-1234-567"]
    assert rows["1"]["whatsapp"] == "29-912-345-678"
    # guiacores social scrubbed (T10), schemeless website normalized (T7)
    assert rows["1"]["facebook"] is None
    assert rows["1"]["sitio_web"] == "https://laespiga.com.ar"

    gold_dirs = list((tmp_path / "pipeline" / "gold").glob("guiaCores_leads_*"))
    assert len(gold_dirs) == 1 and "20250101" in gold_dirs[0].name


def test_versioned_and_snapshot_io(spark, tmp_path):
    # every path as a plain path and as its file:// URI: the sinks list
    # and delete through the Hadoop FileSystem, which takes both
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    for form, as_path in (("plain", str), ("uri", lambda p: p.as_uri())):
        vpath = as_path(tmp_path / form / "versions")
        for i in range(1, 8):
            gio.write_version(df, vpath, clock=datetime(2025, 1, i, tzinfo=timezone.utc), keep_last=5)
        assert len(gio.list_versions(vpath)) == 5  # retention pruned to last-N
        latest = gio.read_latest_version(spark, vpath)
        assert latest.count() == 1

        spath = as_path(tmp_path / form / "cache")
        gio.write_snapshot(df, spath, clock=datetime(2025, 1, 1, tzinfo=timezone.utc))
        # fresh within TTL
        hit = gio.read_snapshot(spark, spath, ttl_seconds=3600,
                                clock=datetime(2025, 1, 1, 0, 30, tzinfo=timezone.utc))
        assert hit is not None and hit.count() == 1
        # expired -> miss, expire_snapshots prunes it
        miss = gio.read_snapshot(spark, spath, ttl_seconds=3600,
                                 clock=datetime(2025, 1, 2, tzinfo=timezone.utc))
        assert miss is None
        doomed = gio.expire_snapshots(spath, 3600, clock=datetime(2025, 1, 2, tzinfo=timezone.utc))
        assert len(doomed) == 1
