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

Storage seam: every listing, rename, delete and small-file write under
an output path goes through the Hadoop-FileSystem helpers below, never
``os``/``pathlib``/``shutil``. An output root is a Spark path, so a
driver-local probe would silently see nothing on HDFS/S3 or under a
``file://`` URI. Two mechanisms sit on the helpers: one rename-swap
publish with rollback-on-next-touch recovery (``_swap_publish``, used
by ``compact_parquet`` and the shard manifest) and one stamped-partition
core (``_write_stamped``/``_stamps``/``_drop_stamps``) under both the
L6 versions and the L5 snapshots.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_guiacores_spark.session import local_frame


# Small-file helpers over the Hadoop FileSystem API: the only code in the
# package that lists, renames, deletes or writes small files under an
# output path. Shared by the sinks below, the shard writer, the corpus
# pipeline's resume fencing and the streaming snapshot protocol.


def _hadoop_path(spark: SparkSession, path: str):
    hp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hp, hp.getFileSystem(spark._jsc.hadoopConfiguration())


def _exists(spark: SparkSession, path: str) -> bool:
    hp, fs = _hadoop_path(spark, path)
    return bool(fs.exists(hp))


def _is_fenced(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is a committed Spark write: its job committer
    lands ``_SUCCESS`` last, so a crashed write is never fenced."""
    return _exists(spark, f"{path}/_SUCCESS")


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


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, which must not exist. Hadoop's
    ``FileSystem.rename`` reports failure by returning False, not by
    raising, and moves ``src`` INTO an existing directory ``dst``; both
    raise here instead."""
    hsrc, fs = _hadoop_path(spark, src)
    hdst = _hadoop_path(spark, dst)[0]
    if fs.exists(hdst) or not fs.rename(hsrc, hdst):
        raise OSError(f"rename {src} -> {dst} failed")


def _staging(path: str) -> tuple[str, str]:
    base = path.rstrip("/")
    return f"{base}.__commit_tmp__", f"{base}.__commit_old__"


def _swap_publish(df: DataFrame, path: str, **options) -> None:
    """Publish ``df`` as the parquet directory ``path`` by a rename swap
    instead of Spark's mode('overwrite'), which deletes the old
    directory BEFORE the new files land. The write lands in
    ``<path>.__commit_tmp__`` (a ``_SUCCESS`` marker is touched in case
    the committer was configured not to write one), then ``path`` moves
    to ``<path>.__commit_old__`` and the staged copy to ``path``. So
    ``path`` is the fully-committed old or new table at every instant
    except the gap between the two renames; a crash there leaves the old
    copy behind, which :func:`_recover_swap` rolls back on the next
    touch. Single writer, no concurrent readers; on an object store a
    rename copies then deletes, so the swap is for ``file``/HDFS-like
    schemes."""
    spark = df.sparkSession
    tmp, old = _staging(path)
    _delete_path(spark, tmp)
    df.write.mode("overwrite").options(**options).parquet(tmp)
    if not _is_fenced(spark, tmp):
        _write_sidecar(spark, f"{tmp}/_SUCCESS", "")
    _delete_path(spark, old)
    if _exists(spark, path):
        _rename(spark, path, old)
    _rename(spark, tmp, path)
    _delete_path(spark, old)


def _recover_swap(spark: SparkSession, path: str) -> None:
    """Repair ``path`` after a crash inside :func:`_swap_publish`.

    - ``path`` present: the crash was before or after the swap; ``path``
      is authoritative and the staging dirs are debris.
    - ``path`` missing, old copy present: the crash hit the gap between
      the two renames. Roll BACK, since the old copy is fully valid. For
      the shard manifest, rolling FORWARD would mark a crashed append
      committed without its batch marker, so a replay would append the
      batch a second time.
    - neither: a staged copy alone is a pre-swap crash's debris.
    """
    tmp, old = _staging(path)
    if not _exists(spark, path) and _exists(spark, old):
        _rename(spark, old, path)
    _delete_path(spark, tmp)
    _delete_path(spark, old)


def _write_stamped(df: DataFrame, path: str, col: str, ts: str) -> str:
    """Write ``df`` as the ``col=<ts>`` partition of ``path``. A stamp is
    ONE write's rows: with second-granularity stamps a retry (or two
    writes inside a second) would APPEND into the same partition and
    every reader would silently see doubled rows, so a same-stamp
    partition is replaced instead of merged into."""
    _delete_path(df.sparkSession, f"{path}/{col}={ts}")
    df.withColumn(col, F.lit(ts)).write.mode("append").partitionBy(col).parquet(path)
    return ts


def _stamps(spark: SparkSession, path: str, col: str) -> list[str]:
    """The stamps of ``path``'s ``col=<ts>`` partitions, sorted."""
    prefix = f"{col}="
    return sorted(
        name[len(prefix):]
        for name, is_dir in _list_children(spark, path)
        if is_dir and name.startswith(prefix)
    )


def _drop_stamps(
    spark: SparkSession, path: str, col: str, stamps: list[str]
) -> list[str]:
    for ts in stamps:
        _delete_path(spark, f"{path}/{col}={ts}")
    return stamps


def _epoch_s(clock: datetime | None) -> int:
    return int((clock or datetime.now(timezone.utc)).timestamp())


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
    zorder_layout). The rewrite is published by :func:`_swap_publish`,
    so no reader can observe a half-written FILE, and a crash between
    its two renames is rolled back by the next call
    (:func:`_recover_swap`) with no row lost. A reader that lists the
    path in the instant between the renames sees it missing: the
    guarantee is single-writer, no-concurrent-readers (the same
    assumption every sink in this engine makes); deployments needing
    concurrent readers should publish through a versioned directory +
    pointer (write_version) or a table format with a metadata commit.

    The output file count is computed EXPLICITLY (ceil(rows/target))
    rather than inherited from the scan: Spark spreads even tiny
    files across ``minPartitionNum`` read partitions for parallelism,
    so a naive read->write preserves the fragmentation it was meant to
    fix. The row count comes from parquet footer statistics (a
    metadata-only job, no data scan); ``maxRecordsPerFile`` stays on
    as the skew backstop for uneven range partitions.
    """
    _recover_swap(spark, path)
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
    _swap_publish(out, path, maxRecordsPerFile=target_records_per_file)
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

    The file moves and the flat-directory check go through the Hadoop
    FileSystem helpers, so ``path`` may be any Spark path; on an object
    store each move is a copy then a delete.

    Returns {"files_rewritten", "rows_deleted"}.
    """
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
    root, fs = _hadoop_path(spark, path)
    root = fs.makeQualified(root)
    jvm = spark._jvm
    # input_file_name is a URL-encoded URI; compare qualified paths
    files = [
        fs.makeQualified(jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f)))
        for f in affected
    ]
    for f, hf in zip(affected, files):
        if not hf.getParent().equals(root):
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
    for name, is_dir in _list_children(spark, staging):
        if not is_dir and name.endswith(".parquet"):
            _rename(spark, f"{staging}/{name}", f"{path.rstrip('/')}/{name}")
    for hf in files:
        _delete_path(spark, hf.toString())
    _delete_path(spark, staging)
    return {"files_rewritten": len(affected), "rows_deleted": n_before - n_after}


def write_version(
    df: DataFrame, path: str, clock: datetime | None = None, keep_last: int | None = None
) -> str:
    """L6 — write into a ``version=<ts>`` partition (a same-stamp
    partition is replaced); optionally prune to the newest
    ``keep_last`` versions
    (reference: src/common/versioning.py:96-108)."""
    ts = _write_stamped(df, path, "version", run_timestamp(clock))
    if keep_last is not None:
        prune_versions(path, keep_last)
    return ts


def list_versions(path: str) -> list[str]:
    return _stamps(SparkSession.active(), path, "version")


def prune_versions(path: str, keep_last: int) -> list[str]:
    """Retention: drop all but the newest N version partitions."""
    versions = list_versions(path)
    doomed = versions[:-keep_last] if keep_last > 0 else versions
    return _drop_stamps(SparkSession.active(), path, "version", doomed)


def read_latest_version(spark: SparkSession, path: str) -> DataFrame:
    """max-by-name version selection (reference: src/common/versioning.py:75-94)."""
    versions = _stamps(spark, path, "version")
    if not versions:
        raise FileNotFoundError(f"no versions under {path}")
    return spark.read.parquet(f"{path}/version={versions[-1]}")


def write_snapshot(df: DataFrame, path: str, clock: datetime | None = None) -> str:
    """L5 — TTL-cache write: snapshot partition stamped with epoch secs
    (a same-second partition is replaced)."""
    return _write_stamped(df, path, "snapshot_ts", str(_epoch_s(clock)))


def read_snapshot(
    spark: SparkSession, path: str, ttl_seconds: int, clock: datetime | None = None
) -> DataFrame | None:
    """L5 — newest non-expired snapshot, else None (cache miss)
    (reference: src/common/cache_loader.py:64-94)."""
    now = _epoch_s(clock)
    live = [
        int(ts) for ts in _stamps(spark, path, "snapshot_ts")
        if now - int(ts) <= ttl_seconds
    ]
    if not live:
        return None
    return spark.read.parquet(f"{path}/snapshot_ts={max(live)}")


def expire_snapshots(path: str, ttl_seconds: int, clock: datetime | None = None) -> list[str]:
    """L5 retention — delete snapshot partitions older than the TTL
    (reference: src/common/cache_loader.py:40-62)."""
    spark = SparkSession.active()
    now = _epoch_s(clock)
    doomed = [
        ts for ts in _stamps(spark, path, "snapshot_ts")
        if now - int(ts) > ttl_seconds
    ]
    return _drop_stamps(spark, path, "snapshot_ts", doomed)


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

    _write_sidecar(
        SparkSession.active(),
        path,
        json.dumps(stats, indent=2, ensure_ascii=False, default=str),
    )


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
