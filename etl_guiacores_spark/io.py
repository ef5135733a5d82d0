"""Sinks / loaders (SURVEY §2.8 L1-L7).

The reference materializes rows into pandas and writes one CSV per
run (reference: src/loaders/file_loader.py:18-37), appends per-chunk
(reference: src/extractors/sequential_scraper.py:310-327), versions
files by copying (reference: src/common/versioning.py:22-67), and
TTL-caches JSON snapshots (reference: src/common/cache_loader.py:17-94).
Engine equivalents are all partitioned writes — no driver-side
materialization, safe at any scale:

- run-stamped directory   <- timestamped filename        (L1)
- ``mode=append``         <- incremental CSV append      (L2)
- Parquet between stages  <- JSON handoff files          (L3)
- ``version=<ts>`` partition + retention prune <- versions/ dir (L6)
- ``snapshot_ts=<ts>`` partition + TTL filter  <- cache files   (L5)
"""

from __future__ import annotations

import shutil
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_guiacores_spark.session import local_frame


def run_timestamp(clock: datetime | None = None) -> str:
    """Injectable clock (SURVEY §7 hard part (d)) in the reference's
    filename format (reference: src/loaders/file_loader.py:24)."""
    dt = clock or datetime.now(timezone.utc)
    return dt.strftime("%Y%m%d_%H%M%S")


def write_run_csv(
    df: DataFrame, base_dir: str, prefix: str = "guiaCores_leads", clock: datetime | None = None
) -> str:
    """L1 — header CSV into a run-stamped directory."""
    path = f"{base_dir}/{prefix}_{run_timestamp(clock)}"
    df.write.mode("overwrite").option("header", True).csv(path)
    return path


def write_handoff(df: DataFrame, path: str) -> None:
    """L3 — inter-stage handoff; Parquet instead of the reference's
    JSON arrays (reference: src/extractors/run_extraction.py:130-134)."""
    df.write.mode("overwrite").parquet(path)


def land(df: DataFrame, path: str, **observed: Column) -> tuple[DataFrame, dict]:
    """Land a stage handoff: execute ``df`` once through
    :func:`write_handoff`, then read the STORED table back, so every
    downstream stage scans parquet instead of replaying ``df``'s
    lineage (a fetch, a scoring pass, an LSH verify) once per action.

    Returns ``(stored, counts)``. ``counts`` holds ``records`` plus each
    named aggregate in ``observed``, all observed on the write job
    itself, so no count needs a job of its own. The re-read carries
    ``df``'s schema: an empty stage writes no row groups, and schema
    inference over it would crash the next stage."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("records")]
    metrics += [c.alias(name) for name, c in observed.items()]
    # positional, through the module global: a tracer that wraps
    # write_handoff sees every landing
    write_handoff(df.observe(obs, *metrics), path)
    return df.sparkSession.read.schema(df.schema).parquet(path), obs.get


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style partitioned Parquet layout — the 100 TB storage
    shape: a filter on a partition column prunes whole directories at
    planning time (shows as ``PartitionFilters`` in the scan, asserted
    in tests) instead of reading and discarding rows.
    ``max_records_per_file`` bounds file size inside hot partitions so
    a skewed partition doesn't become one giant file (the small-files
    dual is AQE coalescing upstream)."""
    w = df.write.mode("overwrite").partitionBy(*partition_cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_records_per_file: int,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    of roughly ``target_records_per_file`` rows, returning the row
    count (observed on the same job, not a second scan).

    Streaming ingest and fine-grained appends leave thousands of tiny
    files per day; at 100 TB that tax is paid on EVERY downstream scan
    (footer reads, task scheduling) until someone compacts. With
    ``sort_cols`` the rewrite range-partitions on those columns first
    (repartitionByRange + local sort), so compaction doubles as
    clustering — min/max footer stats then prune file ranges for
    predicates on the sort key, the poor man's z-order for a single
    dimension (multi-dimension clustering is operators/ordering.py's
    zorder_layout). The rewrite is staged through a sibling temp dir
    then swapped in, so no reader can observe a half-written FILE —
    but the swap is two renames, and a reader that lists the path in
    the instant between them sees it missing. The guarantee is
    single-writer, no-concurrent-readers (the same assumption every
    sink in this engine makes); deployments needing concurrent
    readers should publish through a versioned directory + pointer
    (write_version) or a table format with a metadata commit.

    The output file count is computed EXPLICITLY (ceil(rows/target))
    rather than inherited from the scan: Spark spreads even tiny
    files across ``minPartitionNum`` read partitions for parallelism,
    so a naive read->write preserves the fragmentation it was meant to
    fix. The row count comes from parquet footer statistics (a
    metadata-only job, no data scan); ``maxRecordsPerFile`` stays on
    as the skew backstop for uneven range partitions.
    """
    n = spark.read.parquet(path).count()  # footer-stats count
    n_out = max(1, -(-n // target_records_per_file))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_out, *[F.col(c) for c in sort_cols]).sortWithinPartitions(
            *sort_cols
        )
    else:
        # coalesce, not repartition: merges scan partitions without a
        # shuffle — compaction is IO-bound, don't add a network pass
        out = df.coalesce(n_out)
    tmp = path.rstrip("/") + ".__compact_tmp__"
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", target_records_per_file)
        .parquet(tmp)
    )
    old = path.rstrip("/") + ".__compact_old__"
    shutil.rmtree(old, ignore_errors=True)
    Path(path).rename(old)
    Path(tmp).rename(path)
    shutil.rmtree(old, ignore_errors=True)
    return n


def delete_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys: DataFrame,
) -> dict:
    """Surgical hard-delete (GDPR/right-to-be-forgotten shape): remove
    every row whose ``key_col`` appears in ``keys`` by rewriting ONLY
    the files that contain an affected key.

    Phase 1 finds affected files with a scan that pushes the key
    predicate into parquet (footer min/max + dictionary filters skip
    clean files without reading their data) and collects just the
    distinct file names — bounded by the affected-file count, not the
    table. Phase 2 reads ONLY those files, anti-joins the keys, and
    writes replacements into the directory (new part names); the old
    affected files are then removed. On a 100 TB table where deletions
    touch a handful of keys, this rewrites megabytes, not the table —
    the same file-level delete strategy Delta/Iceberg implement, here
    over plain parquet directories (acceptable when there is ONE
    writer, the same assumption every other sink in this engine makes).

    The file moves use the local filesystem API; an object-store
    deployment swaps them for the Hadoop FileSystem equivalents (or
    uses a table format whose DELETE does exactly this plan). The
    Spark-side plan — pushdown-pruned affected-file discovery,
    anti-join rewrite of only those files — is the part that matters
    at 100 TB and is storage-agnostic.

    Returns {"files_rewritten", "rows_deleted"}.
    """
    import os
    import uuid

    key_rows = keys.select(F.col(key_col)).distinct()
    df = spark.read.parquet(path)
    # small key sets (the GDPR norm) become a literal isin() filter —
    # that ACTUALLY pushes into the parquet scan (footer min/max +
    # dictionary pages skip clean files without reading data), where a
    # semi-join against a DataFrame evaluates after the scan and reads
    # everything. Large key sets fall back to the broadcast semi-join.
    PUSHDOWN_KEY_LIMIT = 10_000
    key_list = [r[0] for r in key_rows.limit(PUSHDOWN_KEY_LIMIT + 1).collect()]
    if len(key_list) <= PUSHDOWN_KEY_LIMIT:
        hit = df.filter(F.col(key_col).isin(key_list))
    else:
        hit = df.join(F.broadcast(key_rows), key_col, "left_semi")
    affected = [
        r["f"]
        for r in hit.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    if not affected:
        return {"files_rewritten": 0, "rows_deleted": 0}
    # flat directories only: in a hive-partitioned layout the
    # partition VALUES live in the directory name, not the file, so
    # moving a rewritten file to the root would silently corrupt them
    # — partitioned tables delete per-partition (the affected
    # partition dirs are themselves small rewrite units)
    root = str(Path(path).resolve())
    for f in affected:
        parent = str(Path(f.replace("file://", "")).resolve().parent)
        if parent != root:
            raise ValueError(
                f"delete_keys requires a flat parquet directory; {f} is nested "
                f"(partitioned layout) — run per partition directory instead"
            )
    kept = spark.read.parquet(*affected).join(
        F.broadcast(key_rows), key_col, "left_anti"
    )
    n_before = spark.read.parquet(*affected).count()
    # land replacements in a staging dir, then move them in and drop
    # the old files — no reader can observe a partially-written FILE,
    # though one scanning between the move-in and the old-file removal
    # would double-count surviving rows: the contract is single
    # writer, no concurrent readers (see compact_parquet's docstring;
    # concurrent-reader deployments belong on a versioned pointer or
    # a table format)
    staging = path.rstrip("/") + f".__delete_{uuid.uuid4().hex[:8]}__"
    kept.write.mode("overwrite").parquet(staging)
    n_after = spark.read.parquet(staging).count()
    moved = []
    for name in os.listdir(staging):
        if name.endswith(".parquet"):
            os.rename(os.path.join(staging, name), os.path.join(path, name))
            moved.append(name)
    for f in affected:
        local = f.replace("file://", "")
        os.remove(local)
    shutil.rmtree(staging, ignore_errors=True)
    return {"files_rewritten": len(affected), "rows_deleted": n_before - n_after}


def write_version(
    df: DataFrame, path: str, clock: datetime | None = None, keep_last: int | None = None
) -> str:
    """L6 — write into a ``version=<ts>`` partition; optionally prune
    to the newest ``keep_last`` versions
    (reference: src/common/versioning.py:96-108)."""
    ts = run_timestamp(clock)
    # a version is ONE run's output: with second-granularity stamps a
    # retry (or two runs inside a second) would APPEND into the same
    # partition and every reader would silently see doubled rows —
    # replace the colliding partition instead of merging into it
    existing = Path(path) / f"version={ts}"
    if existing.exists():
        shutil.rmtree(existing, ignore_errors=True)
    df.withColumn("version", F.lit(ts)).write.mode("append").partitionBy("version").parquet(path)
    if keep_last is not None:
        prune_versions(path, keep_last)
    return ts


def list_versions(path: str) -> list[str]:
    root = Path(path)
    if not root.exists():
        return []
    return sorted(p.name.split("=", 1)[1] for p in root.glob("version=*"))


def prune_versions(path: str, keep_last: int) -> list[str]:
    """Retention: drop all but the newest N version partitions."""
    versions = list_versions(path)
    doomed = versions[:-keep_last] if keep_last > 0 else versions
    for v in doomed:
        shutil.rmtree(Path(path) / f"version={v}", ignore_errors=True)
    return doomed


def read_latest_version(spark: SparkSession, path: str) -> DataFrame:
    """max-by-name version selection (reference: src/common/versioning.py:75-94)."""
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no versions under {path}")
    return spark.read.parquet(f"{path}/version={versions[-1]}")


def write_snapshot(df: DataFrame, path: str, clock: datetime | None = None) -> str:
    """L5 — TTL-cache write: snapshot partition stamped with epoch secs."""
    dt = clock or datetime.now(timezone.utc)
    ts = str(int(dt.timestamp()))
    # same-second retry guard as write_version: a snapshot is ONE
    # write's rows — appending into an existing partition would double
    # every reader's rows silently
    existing = Path(path) / f"snapshot_ts={ts}"
    if existing.exists():
        shutil.rmtree(existing, ignore_errors=True)
    df.withColumn("snapshot_ts", F.lit(ts)).write.mode("append").partitionBy(
        "snapshot_ts"
    ).parquet(path)
    return ts


def read_snapshot(
    spark: SparkSession, path: str, ttl_seconds: int, clock: datetime | None = None
) -> DataFrame | None:
    """L5 — newest non-expired snapshot, else None (cache miss)
    (reference: src/common/cache_loader.py:64-94)."""
    now = int((clock or datetime.now(timezone.utc)).timestamp())
    snaps = sorted(
        int(p.name.split("=", 1)[1]) for p in Path(path).glob("snapshot_ts=*")
    ) if Path(path).exists() else []
    live = [s for s in snaps if now - s <= ttl_seconds]
    if not live:
        return None
    return spark.read.parquet(f"{path}/snapshot_ts={live[-1]}")


def expire_snapshots(path: str, ttl_seconds: int, clock: datetime | None = None) -> list[str]:
    """L5 retention — delete snapshot partitions older than the TTL
    (reference: src/common/cache_loader.py:40-62)."""
    now = int((clock or datetime.now(timezone.utc)).timestamp())
    doomed = [
        p.name.split("=", 1)[1]
        for p in Path(path).glob("snapshot_ts=*")
        if now - int(p.name.split("=", 1)[1]) > ttl_seconds
    ]
    for ts in doomed:
        shutil.rmtree(Path(path) / f"snapshot_ts={ts}", ignore_errors=True)
    return doomed


def read_processed_csvs(spark: SparkSession, glob_path: str) -> DataFrame:
    """S9 — consolidate many run CSVs in one multi-file union scan
    (reference: src/tools/clean_data.py:69-90 reads data/processed/*.csv
    into pandas and concats; here it's a single distributed scan)."""
    return spark.read.option("header", True).csv(glob_path)


def write_json(df: DataFrame, path: str) -> None:
    """S10/L3 — JSON-lines write (reference: src/common/utils.py:28-41
    dumps whole arrays; JSONL is the scalable form)."""
    df.write.mode("overwrite").json(path)


def read_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Columnar sink alternative to parquet (native Spark ORC writer —
    same predicate-pushdown / column-pruning story at scale)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """XML sink via Spark 4's built-in xml source (the interchange
    format B2B feed consumers still ask for). Distributed writer —
    one XML document per partition file."""
    df.write.mode("overwrite").option("rowTag", row_tag).format("xml").save(
        path
    )


def read_xml(spark: SparkSession, path: str, row_tag: str = "row") -> DataFrame:
    """XML scan with schema inference; pass a row tag matching the
    feed. Scales like json: per-file split parsing, schema inferred
    from a sample pass."""
    return spark.read.option("rowTag", row_tag).format("xml").load(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Multimodal raw-asset ingest via Spark's binaryFile source:
    (path, modificationTime, length, content) with content as an
    opaque binary column — the entry point for the multimodal
    decode/feature operators (operators/multimodal.py), which treat
    media as binary + typed metadata. Directory listing and reads are
    distributed; pair with spark.sql.files.maxPartitionBytes to
    control task granularity when assets are small files.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_stats_json(stats: dict, path: str) -> None:
    """L7 — run-statistics JSON
    (reference: src/extractors/sequential_scraper.py:421-439)."""
    import json

    with open(path, "w", encoding="utf-8") as f:
        json.dump(stats, f, indent=2, ensure_ascii=False, default=str)


def append_audit_log(spark: SparkSession, path: str, **fields) -> None:
    """A3 — one audit row per run into an append-only log table
    (reference: src/extractors/manual_scraper.py:297-313 writes a
    scraping_log row per session)."""
    import json as _json

    row = {"logged_at": datetime.now(timezone.utc).isoformat(), **fields}
    # Arrow-backed one-row frame: the append runs no Python-worker task
    schema = T.StructType([T.StructField("entry", T.StringType(), True)])
    df = local_frame(spark, [(_json.dumps(row, default=str),)], schema)
    df.write.mode("append").json(path)


# Small-file helpers over the Hadoop FileSystem API, not os/pathlib: a
# stage or snapshot root is a Spark path, so on HDFS/S3 a driver-local
# probe would silently see nothing. Shared by the corpus pipeline's
# resume fencing and sidecars and by the streaming snapshot protocol.


def _hadoop_path(spark: SparkSession, path: str):
    hp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hp, hp.getFileSystem(spark._jsc.hadoopConfiguration())


def _is_fenced(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is a committed Spark write: its job committer
    lands ``_SUCCESS`` last, so a crashed write is never fenced."""
    hp, fs = _hadoop_path(spark, f"{path}/_SUCCESS")
    return bool(fs.exists(hp))


def _read_sidecar(spark: SparkSession, path: str) -> str | None:
    """The UTF-8 text of a small file, or None when it does not exist."""
    hp, fs = _hadoop_path(spark, path)
    if not fs.exists(hp):
        return None
    stream = fs.open(hp)
    try:
        return str(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def _write_sidecar(spark: SparkSession, path: str, text: str) -> None:
    """Overwrite-write a small UTF-8 file (parent dirs created)."""
    hp, fs = _hadoop_path(spark, path)
    out = fs.create(hp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _list_children(spark: SparkSession, path: str) -> list[tuple[str, bool]]:
    """(name, is_directory) of each entry under ``path``; [] when the
    path does not exist."""
    hp, fs = _hadoop_path(spark, path)
    if not fs.exists(hp):
        return []
    return [
        (st.getPath().getName(), bool(st.isDirectory()))
        for st in fs.listStatus(hp)
    ]


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is a no-op."""
    hp, fs = _hadoop_path(spark, path)
    fs.delete(hp, True)
