"""The snapshot protocol every foreachBatch streaming twin folds on
(CUSUM, Holt, drawdown, dwell, daily acquisition). A twin supplies its
state schema and a fold; ``_fold_stream`` owns everything else.

Layout: each micro-batch ``<id>`` lands its output in
``out_dir/out/batch=<id>`` and the state it leaves behind in
``out_dir/state/batch=<id>``, both written with mode=overwrite.

Fencing: a snapshot counts only once its write job's committer has
landed ``_SUCCESS``; a crashed snapshot write is invisible. Listing
and pruning go through the Hadoop FileSystem API, so ``out_dir`` may
be any Spark path (HDFS/S3/local alike).

Write order and replay: batch N folds from the latest fenced snapshot
with id < N, then writes its output and only then its snapshot.
foreachBatch may redeliver a batch; the replay reads the same input
snapshot, recomputes the same fold and overwrites its own output and
snapshot, so results are exactly-once with no duplicated rows.

Replay fence: if snapshots at or past batch N exist (N already ran)
but none below N survives, N's input snapshot was pruned, and a
recompute would silently refold from empty state, so it is refused.
After each batch only the newest ``keep_snapshots`` fenced snapshots
are kept; exactly-once holds only within that window, which must
cover the sink's maximum redelivery depth.

Order: a twin folds each key's rows in (time, tiebreak) order. A row
at or before its key's last processed event would need history
rewrite, so the keyed twins refuse it through one shared guard
(``_check_key_order``). Order within a batch is free. Acquisition is
day-granular and keeps its own guards.

Compaction: a twin carries one state row per key forever (whole-
history semantics). ``compact_snapshots`` drops retired keys from the
latest snapshot between runs, fenced against crashes by a
``_COMPACTING_<id>`` marker that every stream resume refuses to list
past. ``read_latest_upsert`` is the read-side merge of the upsert
twins' outputs.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_guiacores_spark.io import (
    _delete_path,
    _is_fenced,
    _list_children,
    _read_sidecar,
    _write_sidecar,
)
from etl_guiacores_spark.session import local_frame


def _snapshot_ids(
    spark: SparkSession, root: str, allow_compacting: bool = False
) -> list[int]:
    """Sorted ids of the fenced ``batch=<id>`` snapshot dirs under
    ``root``."""
    ids = []
    for name, is_dir in _list_children(spark, root):
        if name.startswith("_COMPACTING_") and not allow_compacting:
            # an interrupted compact_snapshots swap: the snapshot it
            # was rewriting may be missing, and folding the next
            # batch from the one BEFORE it would silently drop a
            # batch's contributions — refuse until recovered (re-run
            # compact_snapshots; it completes or rolls back the swap)
            raise RuntimeError(
                f"interrupted snapshot compaction under {root} "
                f"(marker {name}) — re-run compact_snapshots on this "
                "state root to complete or roll back the swap before "
                "resuming the stream"
            )
        if not (is_dir and name.startswith("batch=")):
            continue
        suffix = name.split("=", 1)[1]
        if suffix.isdigit() and _is_fenced(spark, f"{root}/{name}"):
            ids.append(int(suffix))
    return sorted(ids)


def _resolve_prev_snapshot(
    spark: SparkSession, state_root: str, batch_id: int, op: str
) -> str | None:
    """Path of the state snapshot batch ``batch_id`` must read (the
    latest fenced id strictly below it), or None for genuinely-fresh
    state. Raises on a replay deeper than the retained window."""
    ids = _snapshot_ids(spark, state_root)
    before = [i for i in ids if i < batch_id]
    if not before and batch_id > 0 and any(i >= batch_id for i in ids):
        raise RuntimeError(
            f"{op}: replay of batch {batch_id} is deeper than the "
            f"retained state window (fenced snapshots: {ids}) — its "
            f"input snapshot was pruned. Raise keep_snapshots or "
            f"restart from a fresh out_dir."
        )
    return f"{state_root}/batch={before[-1]}" if before else None


def _keyed_state_schema(
    keys: Sequence[str],
    fields: Sequence[str],
    time_col: str,
    tiebreak_col: str,
) -> Callable[[T.StructType], T.StructType]:
    """State schema, as a function of the batch schema, of a twin that
    carries one row per key: the key columns, its BIGINT ``fields`` and
    the key's last (time, tiebreak) as ``ts_last``/``tb_last``. Key,
    time and tiebreak fields take the stream's own types; a hard-coded
    type would write snapshots the next batch reads back with an
    incompatible schema."""
    return lambda batch: T.StructType(
        [batch[k] for k in keys]
        + [T.StructField(f, T.LongType()) for f in fields]
        + [
            T.StructField("ts_last", batch[time_col].dataType),
            T.StructField("tb_last", batch[tiebreak_col].dataType),
        ]
    )


def _check_key_order(
    batch_df: DataFrame,
    held: DataFrame,
    keys: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    batch_id: int,
    op: str,
) -> None:
    """Refuse a batch whose first row for some key is at or before the
    key's held last event (``held``: keys + ``ts_last``/``tb_last``).
    The comparison is on the (time, tiebreak) order the twins fold
    in, so a later batch may carry the same time with a larger
    tiebreak. A NULL held tiebreak (a snapshot written before the
    state carried one) falls back to the stricter time-only rule
    instead of comparing against NULL."""
    firsts = batch_df.groupBy(*keys).agg(
        F.min(
            F.struct(
                F.col(time_col).alias("ts"), F.col(tiebreak_col).alias("tb")
            )
        ).alias("__first")
    )
    last = held.select(
        *keys,
        F.struct(
            F.col("ts_last").alias("ts"), F.col("tb_last").alias("tb")
        ).alias("__held"),
    )
    late = F.when(
        F.col("__held.tb").isNull(),
        F.col("__first.ts") <= F.col("__held.ts"),
    ).otherwise(F.col("__first") <= F.col("__held"))
    n_late = firsts.join(last, keys).filter(late).count()
    if n_late:
        raise RuntimeError(
            f"{op}: batch {batch_id} carries rows at or before "
            f"already-processed event time for {n_late} key(s) — "
            f"per-key event-time order across batches is the "
            f"operator's delivery contract"
        )


def _fold_stream(
    events: DataFrame,
    out_dir: str,
    op: str,
    state_schema: Callable[[T.StructType], T.StructType],
    fold: Callable,
    checkpoint_dir: str | None,
    keep_snapshots: int,
    batch_conf: dict[str, str] | None = None,
):
    """Start ``events`` through ``fold`` on the snapshot protocol and
    return the StreamingQuery. ``state_schema`` maps the batch schema
    to the state's. ``fold(batch_df, batch_id, state, fresh)`` returns
    ``(out, snapshot, *handles)``, or None for an empty batch, which
    writes nothing. ``fresh`` is True when no snapshot precedes the
    batch; ``handles`` are frames the fold persisted, released once
    both writes are done. ``batch_conf`` holds session settings
    applied around each micro-batch and restored after it."""
    state_root = f"{out_dir}/state"

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = _resolve_prev_snapshot(spark, state_root, batch_id, op)
        schema = state_schema(batch_df.schema)
        if prev is not None:
            state = spark.read.schema(schema).parquet(prev)
        else:
            state = local_frame(spark, [], schema)
        folded = fold(batch_df, batch_id, state, prev is None)
        if folded is None:
            return
        out, snap, *handles = folded
        try:
            out.write.mode("overwrite").parquet(
                f"{out_dir}/out/batch={batch_id}"
            )
            snap.write.mode("overwrite").parquet(
                f"{state_root}/batch={batch_id}"
            )
        finally:
            # the stream holds no cache between micro-batches: its
            # state lives in the fenced snapshots
            for handle in handles:
                handle.unpersist()
        # prune old fenced snapshots, never the one just written
        for old in _snapshot_ids(spark, state_root)[:-keep_snapshots]:
            _delete_path(spark, f"{state_root}/batch={old}")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        conf = batch_df.sparkSession.conf
        settings = batch_conf or {}
        saved = {k: conf.get(k) for k in settings}
        for k, v in settings.items():
            conf.set(k, v)
        try:
            fold_batch(batch_df, batch_id)
        finally:
            for k, v in saved.items():
                conf.set(k, v)

    writer = events.writeStream.foreachBatch(process_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_snapshots(
    spark: SparkSession,
    state_root: str,
    retired_keys: DataFrame,
    key_cols: Sequence[str],
    removable: Column | None = None,
) -> int:
    """Drop RETIRED keys' state rows from the latest fenced snapshot —
    the offline key-churn compaction step for every twin on this
    protocol. Run it BETWEEN runs (no active query on ``out_dir``):
    the latest ``batch=<id>`` snapshot is rewritten in place with the
    retired keys' rows removed; a resumed stream folds the next batch
    from the compacted state exactly as it would have minus those
    keys — resume-equivalence is pinned in tests/test_streaming.py.

    ``removable`` restricts which of a retired key's rows may drop
    (the dwell twin passes ``kind == 'open'``: a retired key's open
    hold is dropped but the shared per-state aggregate rows survive;
    a NULL predicate value counts as "may not drop" — the filter
    only removes rows it affirms). None means every row of a retired
    key drops. Retire a key only when upstream will not send it
    again — if it does reappear, the twin folds it as brand new (and
    a replay DEEPER than the compacted snapshot resurrects it,
    consistent with the same assumption). Returns the number of rows
    removed. The join is a keyed anti-join — retired_keys may be
    data-sized; nothing here is collected to the driver.

    Crash safety: the in-place swap is fenced by a
    ``_COMPACTING_<id>`` marker whose CONTENT is the expected
    compacted row count. While the marker exists, ``_snapshot_ids``
    (and therefore every stream resume on this root) REFUSES to list
    snapshots — a crash mid-swap would otherwise let the next batch
    silently fold from one-batch-stale state (the replay fence in
    _resolve_prev_snapshot doesn't fire while an older snapshot
    exists). Both installs are Spark WRITE JOBS, never a
    FileSystem.rename: on object stores rename is copy-then-delete
    and an interrupted copy/delete can leave a dir that carries
    ``_SUCCESS`` while missing data files, so during recovery a
    fenced dir is only trusted if its ROW COUNT matches the marker —
    whichever of (batch dir, temp dir) verifies wins, the swap is
    completed or rolled back from it, and the marker is removed.
    Re-running compact_snapshots performs that recovery
    automatically before compacting."""

    def _marker_path(bid: int) -> str:
        return f"{state_root}/_COMPACTING_{bid}"

    def _verified(p: str, want: int | None) -> bool:
        """Fenced AND (when the marker carries a count) the row count
        matches. A bare ``_SUCCESS`` is NOT proof of completeness
        during recovery: object-store rename/delete are per-object
        operations, so an interrupted one can leave a dir carrying
        the fence while missing data files."""
        if not _is_fenced(spark, p):
            return False
        if want is None:  # legacy count-less marker
            return True
        try:
            return spark.read.parquet(p).count() == want
        except Exception:
            return False  # torn files -> not trustworthy

    # --- recovery: finish or roll back an interrupted swap ----------
    listing = [name for name, _ in _list_children(spark, state_root)]

    def _suffix_id(name: str, prefix: str) -> int | None:
        """Batch id from ``<prefix><int>``, None for foreign names (a
        suffix this protocol never writes — skip it rather than crash
        on or delete someone else's dir). Canonical form only: a
        digit-but-zero-padded suffix (``007``) is ALSO foreign —
        int()ing it would make recovery look for batch=7 and clean up
        marker _COMPACTING_7, neither of which is the on-disk name,
        wedging recovery forever."""
        tail = name.split(prefix, 1)[1]
        if tail.isdigit() and str(int(tail)) == tail:
            return int(tail)
        return None

    marker_bids = {
        bid
        for name in listing
        if name.startswith("_COMPACTING_")
        and (bid := _suffix_id(name, "_COMPACTING_")) is not None
    }
    # a .compact-tmp-<id> with NO marker is pre-marker garbage: the
    # temp-write job failed or was interrupted before the marker was
    # created, so the original snapshot is untouched and the marker
    # recovery loop below will never see the dir — sweep it here or
    # it lives forever (round-11 advice item)
    for name in listing:
        if name.startswith(".compact-tmp-"):
            bid = _suffix_id(name, ".compact-tmp-")
            if bid is not None and bid not in marker_bids:
                _delete_path(spark, f"{state_root}/{name}")
    for name in listing:
        if not name.startswith("_COMPACTING_"):
            continue
        bid = _suffix_id(name, "_COMPACTING_")
        if bid is None:
            # foreign non-integer marker name — same skip-foreign
            # tolerance as the tmp-dir sweep above
            continue
        pdir = f"{state_root}/batch={bid}"
        tdir = f"{state_root}/.compact-tmp-{bid}"
        want: int | None = None
        try:
            # a marker that vanished since the listing reads None and
            # fails here too
            raw = _read_sidecar(spark, _marker_path(bid)).strip()
        except Exception as e:
            # 'marker exists but unreadable' is NOT the same as
            # 'marker legitimately empty' (pre-write crash window):
            # after the original snapshot was partially deleted, a
            # transient IO error here must not downgrade _verified
            # to trusting a bare _SUCCESS on a torn batch dir —
            # fail loud and let the caller retry the recovery
            raise RuntimeError(
                f"compact_snapshots: could not read marker "
                f"{_marker_path(bid)} — refusing count-less "
                "recovery; retry once the marker is readable"
            ) from e
        if raw:
            try:
                want = int(raw)
            except ValueError as e:
                raise RuntimeError(
                    f"compact_snapshots: corrupt marker "
                    f"{_marker_path(bid)} (contents {raw!r}) — "
                    "refusing count-less recovery"
                ) from e
        # else: marker created but count never written (crash in the
        # pre-destructive-op window) — the original snapshot is still
        # intact, so a count-less check is safe
        if _verified(pdir, want):
            # either the install job completed, or (count-equal
            # rollback window) the original already equals the
            # compacted content — trust it, clear the temp
            _delete_path(spark, tdir)
        elif _verified(tdir, want):
            # temp is the only complete copy: redo the install as a
            # WRITE JOB (committer lands _SUCCESS last)
            _delete_path(spark, pdir)
            spark.read.parquet(tdir).write.parquet(pdir)
            _delete_path(spark, tdir)
        else:
            raise RuntimeError(
                f"compact_snapshots: interrupted swap for batch "
                f"{bid} under {state_root} left neither a "
                "verifiable snapshot nor a verifiable temp — "
                "unrecoverable; restore from an earlier snapshot"
            )
        _delete_path(spark, _marker_path(bid))

    ids = _snapshot_ids(spark, state_root, allow_compacting=True)
    if not ids:
        raise ValueError(
            f"compact_snapshots: no fenced snapshot under {state_root}"
        )
    path = f"{state_root}/batch={ids[-1]}"
    snap = spark.read.parquet(path)
    cols = list(key_cols)
    marked = snap.join(
        retired_keys.select(*cols).distinct().withColumn(
            "__retired", F.lit(True)
        ),
        cols,
        "left",
    )
    drop = F.col("__retired").isNotNull()
    if removable is not None:
        # NULL predicate = not affirmed = keep (TRUE & NULL is NULL,
        # and filter(~NULL) would silently DELETE the row otherwise)
        drop = drop & F.coalesce(removable, F.lit(False))
    # both counts observed on the ONE temp-write job — no separate
    # pre-scan of the snapshot and no post-install re-read (the
    # second review pass flagged the 3x read volume on a state table
    # that can be key-churn-sized)
    from pyspark.sql import Observation

    obs_all = Observation("compact_all")
    obs_kept = Observation("compact_kept")
    kept = (
        marked.observe(obs_all, F.count(F.lit(1)).alias("n"))
        .filter(~drop)
        .drop("__retired")
        .select(*snap.columns)
        .observe(obs_kept, F.count(F.lit(1)).alias("n"))
    )
    tmp = f"{state_root}/.compact-tmp-{ids[-1]}"
    kept.write.mode("overwrite").parquet(tmp)
    n_all, n_kept = obs_all.get["n"], obs_kept.get["n"]
    _write_sidecar(spark, _marker_path(ids[-1]), str(n_kept))
    _delete_path(spark, path)
    # install as a write job, not a rename: a fenced job output is
    # complete everywhere, including object stores
    spark.read.parquet(tmp).write.parquet(path)
    _delete_path(spark, tmp)
    _delete_path(spark, _marker_path(ids[-1]))
    return n_all - n_kept


def read_latest_upsert(
    spark: SparkSession, out_dir: str, key_cols: Sequence[str]
) -> DataFrame:
    """Merge ``out_dir/out/batch=<id>`` upsert outputs into the current
    report: for each key, the row from the LATEST batch that emitted it
    — a window over the bounded key axis, never event volume. The one
    read-side merge of the acquisition/drawdown/dwell twins."""
    rows = spark.read.parquet(f"{out_dir}/out")
    w = Window.partitionBy(*key_cols).orderBy(F.col("batch_id").desc())
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        # 'batch' is the partition-discovery column from batch=<id>
        # dirs; batch_id is the explicit copy the merge ordered by
        .drop("__rn", "batch_id", "batch")
    )
