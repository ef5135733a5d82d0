"""Staged E→T→L pipeline runner (SURVEY §3.4, §7 phase 3).

The reference chains Extract→Transform→Load imperatively per mode
(reference: src/main.py:80-133) with JSON files between stages
(reference: src/extractors/run_extraction.py:130-134); here each
stage is a lazy DataFrame transform and the stage boundaries are
bronze/silver/gold Parquet tables:

- bronze: raw canonicalized records (tolerant schema, T14 rename)
- silver: cleaned + validated + deduped (the Transform surface)
- gold:   export projection (CSV with 'N/A' rendering)

Per-row failures route to a quarantine table (R2 —
reference: src/transformers/business_transformer.py:82,110-112 logs
and drops); record counts are collected via ``observe`` (A1 —
reference: src/main.py:103-130) so metrics cost no extra pass.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_guiacores_spark import io as gio
from etl_guiacores_spark.functions import (
    clean_text,
    normalize_phone,
    normalize_phone_list,
    scrub_social,
    split_address,
    validate_email,
    validate_url,
)
from etl_guiacores_spark.functions.url import normalize_url
from etl_guiacores_spark.operators.dedupe import dedupe_keyed
from etl_guiacores_spark.schema import canonicalize, to_export


@dataclass
class PipelineConfig:
    """The Transform knobs of the reference's config surface
    (reference: src/common/config.py:63-95). Its scrape knobs live where
    they are used: the CLI's ``--start-id``/``--end-id``, ``--retries``
    and ``--partitions``, and ``html_parse.DETAIL_URL_BASE``."""

    blocked_domains: tuple[str, ...] = ("guiacores",)
    url_max_length: int = 255
    dedupe_key: str = "id_negocio"


def clean_leads(df: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """The Transform stage as one declarative projection — the engine
    twin of BusinessTransformer.transform
    (reference: src/transformers/business_transformer.py:70-115) plus
    the offline clean tool (reference: src/tools/clean_data.py:59-150).

    Input/output: canonical schema (arrays already split). All column
    expressions — Catalyst sees one Project, whole-stage codegen runs
    the lot in a single pass over the data.
    """
    config = config or PipelineConfig()
    telefonos_str = F.array_join(F.col("telefonos"), ", ")
    direccion_clean = clean_text(F.col("direccion"))
    direccion, localidad = split_address(direccion_clean)
    social = lambda c: validate_url(
        scrub_social(normalize_url(c, max_length=config.url_max_length))
    )
    return df.withColumns(
        {
            "nombre": clean_text(F.col("nombre")),
            "descripcion": clean_text(F.col("descripcion")),
            "direccion": direccion,
            "localidad": F.coalesce(F.col("localidad"), localidad),
            "telefonos": F.split(normalize_phone_list(telefonos_str), r",\s*"),
            "whatsapp": normalize_phone(F.col("whatsapp")),
            "email": validate_email(F.col("email")),
            # config.blocked_domains is the T7 blocklist (self-links
            # back to the directory are not a real website)
            "sitio_web": validate_url(
                normalize_url(
                    F.col("sitio_web"),
                    blocked_domains=config.blocked_domains,
                    max_length=config.url_max_length,
                )
            ),
            "facebook": social(F.col("facebook")),
            "instagram": social(F.col("instagram")),
            "rubros": F.transform(F.col("rubros"), lambda r: clean_text(r)),
        }
    )


def split_quarantine(df: DataFrame, key: str = "id_negocio") -> tuple[DataFrame, DataFrame]:
    """R2 — rows without a usable key go to quarantine instead of
    being dropped silently (the reference logs-and-drops)."""
    bad = F.col(key).isNull() | (F.length(F.trim(F.col(key))) == 0)
    return df.filter(~bad), df.filter(bad)


def run_batch_pipeline(
    raw: DataFrame,
    out_dir: str,
    config: PipelineConfig | None = None,
    clock: datetime | None = None,
    progress_callback=None,
) -> dict:
    """bronze → silver (+quarantine) → gold, returning the reference's
    result envelope {status, message, records_processed}
    (reference: src/main.py:130) extended with per-stage metrics.

    ``progress_callback(stage, info)`` fires after each stage lands
    (bronze/silver/gold/done) with the counts the run already computes
    via ``observe`` — the engine twin of the reference's UI hook
    (reference: streamlit_app.py:66-81); no extra Spark job."""
    config = config or PipelineConfig()
    emit = progress_callback or (lambda stage, info: None)

    # every stage lands through io.land, so the raw lineage (which may
    # hold the FETCH stage) runs once, in the bronze write
    bronze, seen = gio.land(canonicalize(raw), f"{out_dir}/bronze")
    if seen["records"] == 0:  # R4 — reference: src/main.py:105-107,116-118
        emit("done", {"records": 0})
        return {
            "status": "warning",
            "message": "No records extracted",
            "records_processed": 0,
            "metrics": {"records": 0, "with_email": 0, "quarantined": 0},
        }
    emit("bronze", {"out": f"{out_dir}/bronze"})

    # trim the key BEFORE both the quarantine judgment and the dedupe:
    # split_quarantine already judged on the trimmed value, but the
    # dedupe keyed on the raw value, so ' 5' and '5' both survived
    keyed = clean_leads(bronze, config).withColumn(
        config.dedupe_key, F.trim(F.col(config.dedupe_key))
    )
    cleaned, quarantined = split_quarantine(keyed, config.dedupe_key)
    silver, metrics = gio.land(
        dedupe_keyed(cleaned, [config.dedupe_key]),
        f"{out_dir}/silver",
        with_email=F.count("email"),
    )
    _, quarantine = gio.land(quarantined, f"{out_dir}/quarantine")
    emit("silver", dict(metrics))

    # gold is a projection of the STORED silver, not the lazy plan:
    # dropDuplicates picks an arbitrary winner per key, so recomputing
    # it could export a different row than the silver table
    gio.write_run_csv(to_export(silver), f"{out_dir}/gold", clock=clock)
    emit("gold", {"out": f"{out_dir}/gold"})

    n = metrics["records"]
    result = {
        "status": "success" if n > 0 else "warning",
        "message": f"Processed {n} records",
        "records_processed": n,
        "metrics": {**metrics, "quarantined": quarantine["records"]},
    }
    # A3 — one audit row per run (reference: manual_scraper.py:297-313)
    gio.append_audit_log(raw.sparkSession, f"{out_dir}/audit_log", **result["metrics"],
                         status=result["status"])
    emit("done", result["metrics"])
    return result
