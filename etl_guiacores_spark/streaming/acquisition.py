"""Streaming daily acquisition — the stream twin of q186's
new-vs-returning report, completing the telemetry streaming family
(OHLC / CUSUM / Holt twins landed round 7).

The batch form linearizes the expanding COUNT DISTINCT: first-seen is
one MIN per user, so the running distinct is a running sum of per-day
"new" counts. The stream version carries exactly that linearization's
state between micro-batches:

- ``first``-seen table: one row per user ever seen (user_id,
  first_day). Under the delivery contract below a user's first
  occurrence arrives before any later one, so a landed first_day is
  immutable — no retroactive rewrites.
- the OPEN day (the max day seen so far): its event counter and its
  distinct-user set. Only the open day can still receive rows, so
  closed days carry NO per-user state — at 100 TB the carried state
  is |users| + |one day's actives| rows, keyed-shuffled like any
  join, never event history.

Each micro-batch emits the report rows (day, n_events, n_active,
n_new, n_returning, cum_users) for every day it touches, with UPSERT
semantics: a later batch that extends the then-open day re-emits that
day's row, and the read-side merge (``read_daily_acquisition``)
takes each day's row from the latest batch. The concatenated result
equals running the batch q186 logic over the full history —
equivalence-tested in tests/test_streaming.py.

Delivery contract (the day-granular version of the CUSUM twin's
per-key order): batches must arrive in event-DAY order — a batch
containing any day EARLIER than the current open day would need
closed-day rewrite and raises instead. Rows within a batch and
within the open day across batches may arrive in any order.

A NULL event time has no day and fails loud too. Snapshots, replay
and pruning follow the protocol in ``streaming/snapshots.py``: a
foreachBatch redelivery recomputes from its original inputs and
overwrites its own output, so the upserts are exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_guiacores_spark.streaming.snapshots import (
    _fold_stream,
    read_latest_upsert,
)


def _state_schema(user_type: str) -> T.StructType:
    """Union-schema state table: one fenced parquet per snapshot.
    kind='first' -> (user_id, first_day); kind='open' -> (day,
    n_events) single row; kind='openuser' -> (user_id) per open-day
    active user. The user_id field's type is DERIVED from the stream's
    own ``user_col`` (round-8 advice: a hard-coded ``long`` wrote
    string-typed snapshots the next batch read back with an
    incompatible schema)."""
    return T.DataType.fromDDL(
        f"kind string, user_id {user_type}, first_day date, "
        "day date, n_events long"
    )


def daily_acquisition_stream(
    events: DataFrame,
    out_dir: str,
    time_col: str = "ts",
    user_col: str = "user_id",
    checkpoint_dir: str | None = None,
    keep_snapshots: int = 3,
    fold_shuffle_partitions: int | None = None,
):
    """Start the streaming acquisition report over ``events`` (a
    streaming DataFrame). Per-batch report rows land in
    ``out_dir/out/batch=<id>`` (plus a ``batch_id`` column for the
    read-side upsert merge); state snapshots in
    ``out_dir/state/batch=<id>``. Returns the StreamingQuery.

    ``fold_shuffle_partitions``: when set, the fold's state-join jobs
    run under this ``spark.sql.shuffle.partitions`` value (saved and
    restored around each micro-batch). The fold shuffles bounded
    axes — days, and one batch's users — many small jobs deep, so
    its fixed cost is task-launch overhead times the session default;
    a micro-batch-sized value trims that without touching semantics.
    The setting is session-scoped while a batch folds: don't share
    the session with an unrelated concurrent query when using it."""

    def fold(batch_df, batch_id, state, fresh):
        user_type = batch_df.schema[user_col].dataType.simpleString()

        # rows feeds FIVE consumers (span guard, new-firsts, per-day
        # events, per-day users, touched days) across the two write
        # jobs — persist the narrow (user_id, day) projection so each
        # consumer reads the cached batch instead of re-scanning the
        # micro-batch source; footprint is one batch's rows, released
        # with the other handles once both writes land
        rows = batch_df.select(
            F.col(user_col).alias("user_id"),
            F.to_date(time_col).alias("day"),
        ).persist()
        # ONE up-front agg gives the batch emptiness check (count), the
        # new open day (needed for the snapshot below) and the
        # day-order guard: the happy path pays one job instead of an
        # isEmpty probe plus a guard count plus a trailing max() — the
        # per-batch fixed cost is job count, not data volume (the
        # early-row COUNT for the error message runs only on the
        # violation path)
        span = rows.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("day").alias("lo"),
            F.max("day").alias("hi"),
            F.sum(
                F.col("day").isNull().cast("long")
            ).alias("n_null"),
        ).first()
        if not span["n"]:
            rows.unpersist()
            return None
        new_open_day = span["hi"]

        firsts0 = state.filter(F.col("kind") == "first").select(
            "user_id", "first_day"
        )
        open0 = state.filter(F.col("kind") == "open").select(
            "day", "n_events"
        )
        openusers0 = state.filter(F.col("kind") == "openuser").select(
            "user_id"
        )
        if not fresh:
            open_row = open0.first()
            open_day = open_row["day"] if open_row else None
        else:
            # genuinely-fresh state: there is nothing to probe — the
            # open-row lookup was one more per-batch job spent
            # scanning a provably empty relation
            open_day = None
        if span["n_null"]:
            # a NULL event time has no day: it can neither satisfy the
            # event-day-order contract nor land in any day's report —
            # fail loud like the closed-day guard (grouping under a
            # NULL day would silently corrupt the open-day state; the
            # pre-round-12 code crashed on this input with a bare
            # TypeError)
            rows.unpersist()
            raise RuntimeError(
                f"daily_acquisition_stream: batch {batch_id} carries "
                f"{span['n_null']} row(s) with NULL {time_col} — "
                "event times must be non-null; filter or repair them "
                "upstream"
            )
        if open_day is not None and span["lo"] < open_day:
            n_early = rows.filter(F.col("day") < F.lit(open_day)).count()
            rows.unpersist()
            raise RuntimeError(
                f"daily_acquisition_stream: batch {batch_id} carries "
                f"{n_early} row(s) on days before the open day "
                f"{open_day} — closed days are immutable; batches "
                f"must arrive in event-day order"
            )

        # first-seen: landed rows are immutable (day-order contract);
        # only genuinely-new users append, at their batch-min day
        new_firsts = (
            rows.groupBy("user_id")
            .agg(F.min("day").alias("first_day"))
            .join(firsts0.select("user_id"), "user_id", "left_anti")
        )
        # firsts / day_events / day_users each feed BOTH write jobs
        # below (the report and the state snapshot) — without the
        # persists the second job re-reads the state parquet and
        # re-aggregates the batch per relation (measured: the two
        # per-batch folds were ~4.8 s of q199's 5.5 s, half of it this
        # recompute). The footprint is exactly the operator's stated
        # state envelope (|users| + one batch's day axis), and every
        # handle goes back to the snapshot driver, which releases it
        # once both writes land.
        firsts = firsts0.unionByName(new_firsts).persist()

        # per-day batch facts, folding in the carried open-day state
        day_events = rows.groupBy("day").agg(
            F.count("*").cast("long").alias("n_events")
        )
        if open_day is not None:
            carried = open0.select(
                "day", F.col("n_events").cast("long").alias("n_events")
            )
            day_events = (
                day_events.unionByName(carried)
                .groupBy("day")
                .agg(F.sum("n_events").cast("long").alias("n_events"))
            )
        day_events = day_events.persist()
        day_users = rows.select("day", "user_id").distinct()
        if open_day is not None:
            day_users = day_users.unionByName(
                openusers0.select(
                    F.lit(open_day).alias("day"), "user_id"
                )
            ).distinct()
        day_users = day_users.persist()
        # restrict to days this batch touches (the carried open day is
        # re-emitted only if extended; otherwise its row already
        # landed in a previous batch and is final)
        # the touched-day axis is bounded (a micro-batch spans few
        # days) — broadcast it so the semi-joins never shuffle their
        # big probe sides, at any scale
        touched = F.broadcast(rows.select("day").distinct())
        day_active = (
            day_users.join(touched, "day", "left_semi")
            .groupBy("day")
            .agg(F.count("*").cast("long").alias("n_active"))
        )

        # exact n_new / cum_users from the full first-seen relation:
        # per-day new counts are bounded (|days|), and the running sum
        # over them IS the expanding count distinct. The running sum
        # must range over the UNION of news days and touched days — a
        # touched day where every active user is returning has no news
        # row, but its cum_users is still the running value from prior
        # days (first caught by the redelivery test: day 3 with only
        # returning users landed cum_users NULL).
        news = firsts.groupBy(F.col("first_day").alias("day")).agg(
            F.count("*").cast("long").alias("n_new")
        )
        w = Window.orderBy("day").rowsBetween(
            Window.unboundedPreceding, 0
        )
        news_cum = (
            news.join(touched, "day", "full_outer")
            .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
            .withColumn(
                "cum_users", F.sum("n_new").over(w).cast("long")
            )
        )
        report = (
            day_events.join(touched, "day", "left_semi")
            .join(day_active, "day")
            .join(news_cum, "day", "left")
            .select(
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "n_events",
                "n_active",
                F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
                (
                    F.col("n_active") - F.coalesce("n_new", F.lit(0))
                ).cast("long").alias("n_returning"),
                "cum_users",
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
        )

        # new state: firsts + the NEW open day (global max, computed
        # in the up-front span agg) and its distinct actives
        if open_day is not None and open_day > new_open_day:
            new_open_day = open_day  # defensive; contract rules this out
        snap = (
            firsts.select(
                F.lit("first").alias("kind"),
                "user_id",
                "first_day",
                F.lit(None).cast("date").alias("day"),
                F.lit(None).cast("long").alias("n_events"),
            )
            .unionByName(
                day_events.filter(
                    F.col("day") == F.lit(new_open_day)
                ).select(
                    F.lit("open").alias("kind"),
                    F.lit(None).cast(user_type).alias("user_id"),
                    F.lit(None).cast("date").alias("first_day"),
                    "day",
                    "n_events",
                )
            )
            .unionByName(
                day_users.filter(
                    F.col("day") == F.lit(new_open_day)
                ).select(
                    F.lit("openuser").alias("kind"),
                    "user_id",
                    F.lit(None).cast("date").alias("first_day"),
                    F.lit(None).cast("date").alias("day"),
                    F.lit(None).cast("long").alias("n_events"),
                )
            )
        )
        return report, snap, day_users, day_events, firsts, rows

    return _fold_stream(
        events, out_dir, "daily_acquisition_stream",
        lambda batch: _state_schema(batch[user_col].dataType.simpleString()),
        fold,
        checkpoint_dir, keep_snapshots,
        batch_conf=(
            None
            if fold_shuffle_partitions is None
            else {"spark.sql.shuffle.partitions": str(fold_shuffle_partitions)}
        ),
    )


def read_daily_acquisition(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge the per-batch upsert outputs into the current report: for
    each day, the row from the LATEST batch that emitted it (the shared
    read_latest_upsert merge, |days|-bounded)."""
    return read_latest_upsert(spark, out_dir, ["day"])
