"""Streaming surface: watermarked windows, stateful dedupe,
checkpointed exactly-once append, incremental discovery."""

from __future__ import annotations

import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_guiacores_spark.streaming import (
    cusum_drift_stream,
    daily_acquisition_stream,
    discover_until_idle,
    holt_smooth_stream,
    max_drawdown_stream,
    read_daily_acquisition,
    read_max_drawdown,
    read_state_dwell,
    session_agg,
    state_dwell_stream,
    stream_dedupe,
    tumbling_counts,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def ev(eid, minute, user=1, etype="click", value=1.0):
    return (eid, datetime(2024, 1, 1, minute // 60, minute % 60), user, etype, value)


def run_stream(spark, src_dir, transform, out_name, checkpoint, mode="append"):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    return q


class TestWindowedStreams:
    def test_tumbling_counts_with_watermark(self, spark, tmp_path):
        src = str(tmp_path / "src")
        batch1 = [ev(1, 5), ev(2, 15), ev(3, 65)]
        spark.createDataFrame(batch1, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)

        q = run_stream(spark, src, tumbling_counts, "tumbling_out",
                       str(tmp_path / "ckpt"), mode="append")
        try:
            # append mode emits only watermark-closed windows; push the
            # watermark forward with a late-hour batch
            spark.createDataFrame([ev(4, 300)], EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            rows = {
                (r["window_start"].minute, r["window_start"].hour): r["n_events"]
                for r in spark.sql("select * from tumbling_out").collect()
            }
            assert rows.get((0, 0)) == 2  # hour 0: events at :05 and :15
            assert rows.get((0, 1)) == 1  # hour 1: event at 1:05
        finally:
            q.stop()

    def test_session_agg_batch_twin(self, spark):
        # gap > 30min splits sessions
        df = spark.createDataFrame([ev(1, 0), ev(2, 10), ev(3, 50)], EVENTS_SCHEMA)
        got = session_agg(df).collect()
        assert sorted(r["n_events"] for r in got) == [1, 2]


class TestStreamDedupe:
    def test_dedupe_across_batches(self, spark, tmp_path):
        src = str(tmp_path / "src")
        spark.createDataFrame([ev(1, 0), ev(2, 1)], EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
        q = run_stream(spark, src, stream_dedupe, "dedupe_out", str(tmp_path / "ckpt"))
        try:
            # same (user, type) again in a later batch -> suppressed by state
            spark.createDataFrame([ev(3, 2)], EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            assert spark.sql("select count(*) n from dedupe_out").collect()[0]["n"] == 1
        finally:
            q.stop()


class TestExactlyOnceAppend:
    def test_checkpoint_prevents_reprocessing(self, spark, tmp_path):
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        spark.createDataFrame([ev(1, 0)], EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)

        def start():
            return (
                spark.readStream.schema(EVENTS_SCHEMA)
                .parquet(src)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )

        q = start()
        q.processAllAvailable()
        q.stop()
        # restart over the same checkpoint: batch 0 must not re-append (L2)
        q = start()
        q.processAllAvailable()
        q.stop()
        assert spark.read.parquet(out).count() == 1


class TestDiscovery:
    def test_stops_after_idle_rounds(self, spark):
        calls = []

        def batch(i):
            calls.append(i)
            if i == 0:
                return spark.createDataFrame([("1", "u1"), ("2", "u2")], ["id_negocio", "url"])
            if i == 1:  # only dups -> idle
                return spark.createDataFrame([("1", "u1dup")], ["id_negocio", "url"])
            if i == 4:  # never reached: 3 idle rounds (1,2,3) stop the loop
                return spark.createDataFrame([("9", "u9")], ["id_negocio", "url"])
            return spark.createDataFrame([], "id_negocio string, url string")

        got = discover_until_idle(batch, idle_rounds=3)
        assert sorted(r["id_negocio"] for r in got.collect()) == ["1", "2"]
        assert calls == [0, 1, 2, 3]

    def test_source_exhaustion(self, spark):
        batches = iter([spark.createDataFrame([("1", "u")], ["id_negocio", "url"])])
        got = discover_until_idle(lambda i, it=batches: next(it, None))
        assert got.count() == 1


class TestStreamStreamJoin:
    def test_interval_join_within_delay(self, spark, tmp_path):
        lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
        # left: purchases at minute 30; right: views at minutes 0 (inside
        # 1h window) and a view 2h earlier (outside)
        spark.createDataFrame([ev(1, 150, user=1, etype="purchase")], EVENTS_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(lsrc)
        spark.createDataFrame(
            [ev(2, 120, user=1, etype="view"), ev(3, 10, user=1, etype="view")],
            EVENTS_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(rsrc)

        left = spark.readStream.schema(EVENTS_SCHEMA).parquet(lsrc).select(
            "user_id", F.col("ts").alias("lts"), F.col("event_id").alias("l_id")
        ).withColumnRenamed("lts", "ts")
        right = spark.readStream.schema(EVENTS_SCHEMA).parquet(rsrc).select(
            "user_id", F.col("ts").alias("rts"), F.col("event_id").alias("r_id")
        )
        l = left.withWatermark("ts", "2 hours").alias("l")
        r = right.withWatermark("rts", "2 hours").alias("r")
        joined = l.join(
            r,
            F.expr("l.user_id = r.user_id AND "
                   "r.rts > l.ts - INTERVAL 1 HOUR AND r.rts <= l.ts"),
        )
        q = (
            joined.writeStream.format("memory").queryName("ssj_out")
            .option("checkpointLocation", str(tmp_path / "ckpt")).start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("select l_id, r_id from ssj_out").collect()
            assert {(r["l_id"], r["r_id"]) for r in rows} == {(1, 2)}
        finally:
            q.stop()


class TestTelemetryTwins:
    def test_ohlc_bars_equals_batch_twin(self, spark, tmp_path):
        from etl_guiacores_spark.operators.rollup_time import ohlc_resample
        from etl_guiacores_spark.streaming import ohlc_bars

        src = str(tmp_path / "ohlc_src")
        data = [
            ev(1, 5, value=10.0), ev(2, 20, value=30.0),
            ev(3, 40, value=5.0), ev(4, 55, value=20.0),
            ev(5, 70, value=7.0), ev(6, 80, value=9.0),
        ]
        spark.createDataFrame(data, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
        q = run_stream(spark, src, ohlc_bars, "ohlc_out",
                       str(tmp_path / "ohlc_ckpt"), mode="append")
        try:
            # push the watermark past hour 1 so both bars close
            spark.createDataFrame([ev(9, 400)], EVENTS_SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
            got = {
                (r["event_type"], r["bucket_start"]):
                    (r["open"], r["high"], r["low"], r["close"], r["n_events"])
                for r in spark.sql("select * from ohlc_out").collect()
            }
            batch = spark.createDataFrame(data, EVENTS_SCHEMA)
            want = {
                (r["event_type"], r["bucket_start"]):
                    (r["open"], r["high"], r["low"], r["close"], r["n_events"])
                for r in ohlc_resample(batch).collect()
            }
            # every batch bar whose window the watermark closed must be
            # bit-identical in the stream output
            for k, v in want.items():
                assert got[k] == v, (k, got.get(k), v)
            assert got[("click", data[0][1].replace(minute=0))][0] == 10.0
        finally:
            q.stop()

    def test_cusum_stream_equals_batch_twin(self, spark, tmp_path):
        from etl_guiacores_spark.operators.funnel import cusum_drift
        from etl_guiacores_spark.streaming import cusum_drift_stream

        kw = dict(key_cols=["user_id"],
                  value_micro=(F.col("value") * 1_000_000).cast("long"),
                  target_micro=1_000_000, slack_micro=0,
                  threshold_micro=2_000_000)
        # two users, values drifting upward for user 1 — split into 3
        # event-time-ordered micro-batches
        batches = [
            [ev(1, 1, user=1, value=1.0), ev(2, 2, user=1, value=2.0),
             ev(3, 1, user=2, value=0.5)],
            [ev(4, 10, user=1, value=3.0), ev(5, 11, user=2, value=0.5)],
            [ev(6, 20, user=1, value=4.0), ev(7, 21, user=2, value=6.0)],
        ]
        src = str(tmp_path / "cusum_src")
        out = str(tmp_path / "cusum_out")
        # coalesce(1): one file per logical batch. With
        # maxFilesPerTrigger=1 a multi-file write splits one batch
        # into several micro-batches in file order, which can deliver
        # a key's rows out of event-time order — and the operator
        # (correctly) fails loud on that. The contract is ordered
        # DELIVERY, which a one-file-per-append source guarantees.
        spark.createDataFrame(batches[0], EVENTS_SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = cusum_drift_stream(stream, out,
                               checkpoint_dir=str(tmp_path / "cusum_ckpt"),
                               **kw)
        try:
            q.processAllAvailable()
            for b in batches[1:]:
                spark.createDataFrame(b, EVENTS_SCHEMA).coalesce(1).write.mode(
                    "append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()

        got = {
            r["event_id"]: (r["cusum_micro"], r["drift_flag"])
            for r in spark.read.parquet(f"{out}/out").collect()
        }
        all_events = spark.createDataFrame(
            [e for b in batches for e in b], EVENTS_SCHEMA)
        want = {
            r["event_id"]: (r["cusum_micro"], r["drift_flag"])
            for r in cusum_drift(all_events, **kw).collect()
        }
        assert got == want
        assert any(f for _, f in got.values())  # user 1 drifted

    def test_cusum_stream_rejects_out_of_order_batch(self, spark, tmp_path):
        from etl_guiacores_spark.streaming import cusum_drift_stream

        kw = dict(key_cols=["user_id"],
                  value_micro=(F.col("value") * 1_000_000).cast("long"),
                  target_micro=0, slack_micro=0, threshold_micro=10)
        src = str(tmp_path / "late_src")
        out = str(tmp_path / "late_out")
        spark.createDataFrame([ev(1, 30, user=1)], EVENTS_SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = cusum_drift_stream(stream, out,
                               checkpoint_dir=str(tmp_path / "late_ckpt"),
                               **kw)
        try:
            q.processAllAvailable()
            # a row EARLIER than user 1's last processed event time
            spark.createDataFrame([ev(2, 10, user=1)], EVENTS_SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            try:
                q.processAllAvailable()
                raised = False
            except Exception:
                raised = True
            assert raised, "out-of-order batch must fail loud"
        finally:
            q.stop()


class TestAcquisitionStream:
    """Streaming twin of q186: first-seen carry-state across
    micro-batches, upsert day rows, equality with the batch logic."""

    def _batch_report(self, spark, all_events):
        from pyspark.sql import Window

        ev = spark.createDataFrame(all_events, EVENTS_SCHEMA)
        firsts = ev.groupBy("user_id").agg(
            F.min(F.to_date("ts")).alias("first_day"))
        daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_active"))
        news = firsts.groupBy(F.col("first_day").alias("day")).agg(
            F.count("*").cast("long").alias("n_new"))
        w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        joined = daily.join(news, "day", "left").withColumn(
            "n_new", F.coalesce("n_new", F.lit(0)).cast("long"))
        return joined.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events", "n_active", "n_new",
            (F.col("n_active") - F.col("n_new")).cast("long").alias(
                "n_returning"),
            F.sum("n_new").over(w).cast("long").alias("cum_users"))

    def test_stream_equals_batch_twin_with_split_day(self, spark, tmp_path):
        from datetime import datetime as dt

        from etl_guiacores_spark.streaming import (
            daily_acquisition_stream,
            read_daily_acquisition,
        )

        def e(eid, day, hour, user):
            return (eid, dt(2024, 1, day, hour), user, "click", 1.0)

        # day 1 split across batches 0 and 1 (open-day carry must
        # accumulate its events AND distinct users); day 2+3 in batch
        # 1; day 3 extended by batch 2 (another open-day carry); user
        # 1 returns on every day, users 2-5 stagger in
        batches = [
            [e(1, 1, 8, user=1), e(2, 1, 9, user=2)],
            [e(3, 1, 12, user=1), e(4, 1, 13, user=3),
             e(5, 2, 8, user=1), e(6, 2, 9, user=4),
             e(7, 3, 8, user=2)],
            [e(8, 3, 12, user=1), e(9, 3, 13, user=5),
             e(10, 3, 14, user=2)],
        ]
        src = str(tmp_path / "acq_src")
        out = str(tmp_path / "acq_out")
        spark.createDataFrame(batches[0], EVENTS_SCHEMA).coalesce(
            1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        # fold under a scoped shuffle-partitions value (the q199
        # fixed-cost trim): results must be identical and the session
        # default must be restored after every micro-batch
        default_sp = spark.conf.get("spark.sql.shuffle.partitions")
        q = daily_acquisition_stream(
            stream, out, checkpoint_dir=str(tmp_path / "acq_ckpt"),
            fold_shuffle_partitions=3)
        try:
            q.processAllAvailable()
            for b in batches[1:]:
                spark.createDataFrame(b, EVENTS_SCHEMA).coalesce(
                    1).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()
        assert (
            spark.conf.get("spark.sql.shuffle.partitions") == default_sp
        )

        got = {r["day"]: r.asDict() for r in
               read_daily_acquisition(spark, out).collect()}
        want = {r["day"]: r.asDict() for r in self._batch_report(
            spark, [x for b in batches for x in b]).collect()}
        assert got == want
        # sanity on the semantics themselves
        assert want["2024-01-01"]["n_new"] == 3
        assert want["2024-01-03"]["n_new"] == 1          # only user 5
        assert want["2024-01-03"]["n_returning"] == 2    # users 1, 2
        assert want["2024-01-03"]["cum_users"] == 5

    def test_rejects_closed_day_rows(self, spark, tmp_path):
        from datetime import datetime as dt

        from etl_guiacores_spark.streaming import daily_acquisition_stream

        src = str(tmp_path / "acqlate_src")
        out = str(tmp_path / "acqlate_out")
        spark.createDataFrame(
            [(1, dt(2024, 1, 5, 8), 1, "click", 1.0)], EVENTS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = daily_acquisition_stream(
            stream, out, checkpoint_dir=str(tmp_path / "acqlate_ckpt"))
        try:
            q.processAllAvailable()
            spark.createDataFrame(
                [(2, dt(2024, 1, 3, 8), 2, "click", 1.0)], EVENTS_SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
            raised = False
            try:
                q.processAllAvailable()
            except Exception:
                raised = True
            assert raised, "closed-day row must fail loud"
        finally:
            q.stop()

    def test_null_ts_rows_fail_loud(self, spark, tmp_path):
        """A NULL event time has no day: it can't satisfy the
        event-day-order contract, and grouping it under a NULL day
        would corrupt the open-day state. The guard must raise a
        CLEAR error (writing this test found the pre-round-12 code
        crashed on such input with a bare TypeError)."""
        from datetime import datetime as dt

        from etl_guiacores_spark.streaming import daily_acquisition_stream

        src = str(tmp_path / "nullts_src")
        out = str(tmp_path / "nullts_out")
        spark.createDataFrame(
            [(1, dt(2024, 1, 5, 8), 1, "click", 1.0)], EVENTS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = daily_acquisition_stream(
            stream, out, checkpoint_dir=str(tmp_path / "nullts_ckpt"))
        try:
            q.processAllAvailable()
            spark.createDataFrame(
                [(2, None, 2, "click", 1.0)], EVENTS_SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
            raised = None
            try:
                q.processAllAvailable()
            except Exception as e:
                raised = str(e)
            assert raised and "NULL ts" in raised, raised
        finally:
            q.stop()

    def test_string_user_ids_round_trip_state(self, spark, tmp_path):
        """The state schema derives user_id's type from the stream
        (round-8 advice): with string ids, batch 0's snapshot must
        read back cleanly in batch 1 instead of failing on a
        hard-coded long schema."""
        from datetime import datetime as dt

        from etl_guiacores_spark.streaming import (
            daily_acquisition_stream,
            read_daily_acquisition,
        )

        schema = "event_id long, ts timestamp, user_id string"
        batches = [
            [(1, dt(2024, 1, 1, 8), "alice"), (2, dt(2024, 1, 1, 9), "bob")],
            [(3, dt(2024, 1, 2, 8), "alice"), (4, dt(2024, 1, 2, 9), "carol")],
        ]
        src = str(tmp_path / "acqstr_src")
        out = str(tmp_path / "acqstr_out")
        spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = daily_acquisition_stream(
            stream, out, checkpoint_dir=str(tmp_path / "acqstr_ckpt"))
        try:
            q.processAllAvailable()
            spark.createDataFrame(batches[1], schema).coalesce(
                1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["day"]: r.asDict() for r in
               read_daily_acquisition(spark, out).collect()}
        assert got["2024-01-01"]["n_new"] == 2
        assert got["2024-01-02"]["n_new"] == 1           # carol
        assert got["2024-01-02"]["n_returning"] == 1     # alice
        assert got["2024-01-02"]["cum_users"] == 3


class TestSnapshotFencing:
    """The snapshot-resolution contract every foreachBatch twin folds
    on (streaming/snapshots.py): Hadoop-FS listing (works on any Spark
    path scheme) and the replay fence (a redelivery deeper than the
    retained window must refuse, not silently refold from empty
    state)."""

    def _mk_snap(self, tmp_path, bid, fenced=True):
        d = tmp_path / "state" / f"batch={bid}"
        d.mkdir(parents=True)
        if fenced:
            (d / "_SUCCESS").touch()

    def test_listing_ignores_unfenced_and_noise(self, spark, tmp_path):
        from etl_guiacores_spark.streaming.snapshots import _snapshot_ids

        root = str(tmp_path / "state")
        assert _snapshot_ids(spark, root) == []  # missing dir
        self._mk_snap(tmp_path, 0)
        self._mk_snap(tmp_path, 2)
        self._mk_snap(tmp_path, 1, fenced=False)  # crashed write
        (tmp_path / "state" / "batch=junk").mkdir()
        assert _snapshot_ids(spark, root) == [0, 2]

    def test_replay_fence(self, spark, tmp_path):
        import pytest

        from etl_guiacores_spark.streaming.snapshots import (
            _resolve_prev_snapshot,
        )

        root = str(tmp_path / "state")
        # fresh state: nothing on disk
        assert _resolve_prev_snapshot(spark, root, 0, "op") is None
        assert _resolve_prev_snapshot(spark, root, 3, "op") is None
        self._mk_snap(tmp_path, 4)
        self._mk_snap(tmp_path, 5)
        # normal forward progress / shallow replay: read latest < N
        assert _resolve_prev_snapshot(spark, root, 6, "op").endswith(
            "batch=5")
        assert _resolve_prev_snapshot(spark, root, 5, "op").endswith(
            "batch=4")
        # replay deeper than the retained window: batch 3 already ran
        # (snapshots 4,5 exist) but its input snapshot is pruned
        with pytest.raises(RuntimeError, match="deeper than the retained"):
            _resolve_prev_snapshot(spark, root, 3, "op")
        # batch 0 with no earlier history is genuinely fresh only when
        # nothing at-or-past it exists; with snapshots present it is
        # ambiguous-but-safe: id 0 can never have had a prior snapshot
        assert _resolve_prev_snapshot(spark, root, 0, "op") is None


def dd_flow():
    # purchase adds micro-value, error subtracts (the q187 shape)
    return F.when(
        F.col("event_type") == "purchase",
        F.floor(F.col("value") * 1_000_000).cast("long"),
    ).otherwise(-F.floor(F.col("value") * 1_000_000).cast("long"))


def dd_batch_report(spark, events):
    from etl_guiacores_spark.operators.rollup_time import max_drawdown

    df = spark.createDataFrame(events, EVENTS_SCHEMA)
    flows = df.select("user_id", "ts", "event_id", dd_flow().alias("flow"))
    return max_drawdown(flows, ["user_id"], ["ts", "event_id"], "flow")


class TestDrawdownStream:
    def _flow(self):
        return dd_flow()

    def _batch_report(self, spark, events):
        return dd_batch_report(spark, events)

    def test_stream_equals_batch_twin(self, spark, tmp_path):
        from etl_guiacores_spark.streaming import (
            max_drawdown_stream,
            read_max_drawdown,
        )

        # user 1: rise, crash, partial recover (drawdown spans
        # batches); user 2 appears in batch 1; user 3 only in batch 2
        def e(eid, minute, user, etype, value):
            return ev(eid, minute, user=user, etype=etype, value=value)

        batches = [
            [e(1, 1, 1, "purchase", 5.0), e(2, 2, 1, "error", 1.0),
             e(3, 3, 2, "purchase", 2.0)],
            [e(4, 10, 1, "error", 6.0), e(5, 11, 2, "error", 3.0),
             e(6, 12, 2, "purchase", 1.0)],
            [e(7, 20, 1, "purchase", 2.0), e(8, 21, 3, "error", 4.0)],
        ]
        src = str(tmp_path / "dd_src")
        out = str(tmp_path / "dd_out")
        spark.createDataFrame(batches[0], EVENTS_SCHEMA).coalesce(
            1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = max_drawdown_stream(
            stream, out, key_cols=["user_id"], flow_col=self._flow(),
            checkpoint_dir=str(tmp_path / "dd_ckpt"),
        )
        try:
            q.processAllAvailable()
            for b in batches[1:]:
                spark.createDataFrame(b, EVENTS_SCHEMA).coalesce(
                    1).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()

        got = {r["user_id"]: r.asDict() for r in read_max_drawdown(
            spark, out, ["user_id"]).collect()}
        want = {r["user_id"]: r.asDict() for r in self._batch_report(
            spark, [x for b in batches for x in b]).collect()}
        assert got == want
        # semantics sanity: user 1's path is +5, +4, -2, 0 (micro 1e6)
        u1 = want[1]
        assert u1["peak"] == 5_000_000
        assert u1["final"] == 0
        assert u1["max_drawdown"] == 7_000_000   # peak 5M -> trough -2M

    def test_rejects_out_of_order_batch(self, spark, tmp_path):
        from etl_guiacores_spark.streaming import max_drawdown_stream

        src = str(tmp_path / "ddl_src")
        out = str(tmp_path / "ddl_out")
        spark.createDataFrame(
            [ev(1, 10, user=1, etype="purchase", value=1.0)], EVENTS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = max_drawdown_stream(
            stream, out, key_cols=["user_id"], flow_col=self._flow(),
            checkpoint_dir=str(tmp_path / "ddl_ckpt"))
        try:
            q.processAllAvailable()
            spark.createDataFrame(
                [ev(2, 5, user=1, etype="error", value=1.0)], EVENTS_SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
            raised = False
            try:
                q.processAllAvailable()
            except Exception:
                raised = True
            assert raised, "out-of-order row must fail loud"
        finally:
            q.stop()


class TestDwellStream:
    def _batch_report(self, spark, events):
        from etl_guiacores_spark.operators.temporal import state_dwell

        df = spark.createDataFrame(events, EVENTS_SCHEMA)
        return state_dwell(
            df, ["user_id"], "event_type", "ts", "event_id"
        )

    def test_stream_equals_batch_twin(self, spark, tmp_path):
        from etl_guiacores_spark.streaming import (
            read_state_dwell,
            state_dwell_stream,
        )

        # holds span batch boundaries: user 1's batch-0 'view' hold is
        # closed by its batch-1 'click'; user 2 appears mid-stream;
        # each key's final event stays open (right-censored)
        batches = [
            [ev(1, 1, user=1, etype="view"), ev(2, 5, user=1, etype="click"),
             ev(3, 2, user=2, etype="view")],
            [ev(4, 11, user=1, etype="view"), ev(5, 13, user=2, etype="buy"),
             ev(6, 30, user=2, etype="view")],
            [ev(7, 40, user=1, etype="click"), ev(8, 45, user=3, etype="view"),
             ev(9, 50, user=3, etype="click")],
        ]
        src = str(tmp_path / "dw_src")
        out = str(tmp_path / "dw_out")
        spark.createDataFrame(batches[0], EVENTS_SCHEMA).coalesce(
            1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = state_dwell_stream(
            stream, out, key_cols=["user_id"], state_col="event_type",
            checkpoint_dir=str(tmp_path / "dw_ckpt"),
        )
        try:
            q.processAllAvailable()
            for b in batches[1:]:
                spark.createDataFrame(b, EVENTS_SCHEMA).coalesce(
                    1).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()

        got = {r["event_type"]: r.asDict() for r in read_state_dwell(
            spark, out, "event_type").collect()}
        want = {r["event_type"]: r.asDict() for r in self._batch_report(
            spark, [x for b in batches for x in b]).collect()}
        assert got == want
        # sanity on semantics: user 1 view@1 -> click@5 is a 4-minute
        # view hold; every state has at least one closed hold here
        assert want["view"]["n_holds"] >= 3

    def test_reserved_key_names_fail_loud(self, spark, tmp_path):
        import pytest

        from etl_guiacores_spark.streaming import (
            max_drawdown_stream,
            state_dwell_stream,
        )

        src = str(tmp_path / "rk_src")
        spark.createDataFrame(
            [ev(1, 1)], EVENTS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        with pytest.raises(ValueError, match="collide"):
            max_drawdown_stream(
                stream, str(tmp_path / "o1"), key_cols=["peak"],
                flow_col="value")
        with pytest.raises(ValueError, match="collide"):
            state_dwell_stream(
                stream, str(tmp_path / "o2"), key_cols=["event_type"],
                state_col="event_type")

    def test_rejects_out_of_order_batch(self, spark, tmp_path):
        from etl_guiacores_spark.streaming import state_dwell_stream

        src = str(tmp_path / "dwl_src")
        out = str(tmp_path / "dwl_out")
        spark.createDataFrame(
            [ev(1, 10, user=1, etype="view")], EVENTS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = state_dwell_stream(
            stream, out, key_cols=["user_id"], state_col="event_type",
            checkpoint_dir=str(tmp_path / "dwl_ckpt"))
        try:
            q.processAllAvailable()
            spark.createDataFrame(
                [ev(2, 5, user=1, etype="click")], EVENTS_SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
            raised = False
            try:
                q.processAllAvailable()
            except Exception:
                raised = True
            assert raised, "out-of-order row must fail loud"
        finally:
            q.stop()


class TestTwinStateBounds:
    """Round-9 verdict item 6: the twins carry one state row per key
    FOREVER (correct for whole-history semantics), but nothing
    asserted the snapshot stays O(|keys|) across many batches. These
    run ~20 micro-batches with key churn (new keys keep appearing)
    and pin the snapshot size to the key/state cardinality — growth
    with BATCH COUNT would show up ~20x over the bound — plus the
    keep_snapshots disk retention."""

    def _run_batches(self, spark, tmp_path, tag, start_stream, n_batches=20):
        src = str(tmp_path / f"{tag}_src")
        out = str(tmp_path / f"{tag}_out")
        users_seen = set()
        etypes = ["view", "click", "buy"]

        def batch_rows(b):
            # 3 keys per batch from a 12-key pool, one brand-new key
            # every 4th batch via the pool index walk; times strictly
            # increase so the in-order contract holds
            rows = []
            for i in range(3):
                user = (b * 3 + i) % 12 + 1
                users_seen.add(user)
                rows.append(
                    ev(
                        b * 10 + i,
                        b * 10 + i,
                        user=user,
                        etype=etypes[(b + i) % 3],
                        value=float(i + 1),
                    )
                )
            return rows

        spark.createDataFrame(batch_rows(0), EVENTS_SCHEMA).coalesce(
            1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = start_stream(stream, out)
        try:
            q.processAllAvailable()
            for b in range(1, n_batches):
                spark.createDataFrame(
                    batch_rows(b), EVENTS_SCHEMA
                ).coalesce(1).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()
        return out, users_seen

    def test_drawdown_state_is_one_row_per_key(self, spark, tmp_path):
        from etl_guiacores_spark.streaming import max_drawdown_stream
        from etl_guiacores_spark.streaming.snapshots import _snapshot_ids

        def start(stream, out):
            return max_drawdown_stream(
                stream, out, key_cols=["user_id"],
                flow_col=F.floor(F.col("value") * 1_000_000).cast("long"),
                checkpoint_dir=str(tmp_path / "ddb_ckpt"),
            )

        out, users = self._run_batches(spark, tmp_path, "ddb", start)
        ids = _snapshot_ids(spark, f"{out}/state")
        # disk retention: only keep_snapshots (default 3) fenced dirs
        assert len(ids) == 3
        snap = spark.read.parquet(f"{out}/state/batch={ids[-1]}")
        # O(|keys|): EXACTLY one state row per key ever seen — 20
        # batches over 12 keys would be ~60 rows if state accreted
        # per batch
        assert snap.count() == len(users) == 12
        assert snap.select("user_id").distinct().count() == 12

    def test_compact_snapshots_resume_equivalence(self, spark, tmp_path):
        """Round-10 advice item: the offline key-compaction path,
        automated. Two identical drawdown streams process the same
        phase-1 batches; one then has keys {5, 6} compacted out of
        its latest snapshot (drift.compact_snapshots); both resume
        over identical phase-2 batches that never mention those keys.
        The compacted run must produce IDENTICAL phase-2 outputs and
        a final state equal to the control's minus the retired keys."""
        from etl_guiacores_spark.streaming import (
            compact_snapshots,
            max_drawdown_stream,
        )
        from etl_guiacores_spark.streaming.snapshots import _snapshot_ids

        def batch_rows(b, users):
            return [
                ev(b * 10 + i, b * 10 + i, user=u,
                   value=float((b + i) % 5 + 1))
                for i, u in enumerate(users)
            ]

        def run(tag, compact_after_phase1):
            src = str(tmp_path / f"{tag}_src")
            out = str(tmp_path / f"{tag}_out")
            ckpt = str(tmp_path / f"{tag}_ckpt")

            def start():
                stream = spark.readStream.schema(EVENTS_SCHEMA).option(
                    "maxFilesPerTrigger", 1).parquet(src)
                return max_drawdown_stream(
                    stream, out, key_cols=["user_id"],
                    flow_col=F.floor(F.col("value") * 1_000_000).cast(
                        "long"),
                    checkpoint_dir=ckpt,
                )

            # phase 1: keys 1..6
            spark.createDataFrame(
                batch_rows(0, [1, 2, 3]), EVENTS_SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
            q = start()
            try:
                q.processAllAvailable()
                for b in range(1, 8):
                    users = [1, 2, 3] if b % 2 else [4, 5, 6]
                    spark.createDataFrame(
                        batch_rows(b, users), EVENTS_SCHEMA
                    ).coalesce(1).write.mode("append").parquet(src)
                    q.processAllAvailable()
            finally:
                q.stop()
            if compact_after_phase1:
                retired = spark.createDataFrame(
                    [(5,), (6,)], "user_id int"
                )
                removed = compact_snapshots(
                    spark, f"{out}/state", retired, ["user_id"]
                )
                assert removed == 2
            # phase 2: keys 1..4 only — the retired keys never return
            q = start()
            try:
                for b in range(8, 12):
                    spark.createDataFrame(
                        batch_rows(b, [1, 2, (b % 4) + 1]),
                        EVENTS_SCHEMA,
                    ).coalesce(1).write.mode("append").parquet(src)
                    q.processAllAvailable()
            finally:
                q.stop()
            ids = _snapshot_ids(spark, f"{out}/state")
            state = sorted(
                tuple(r)
                for r in spark.read.parquet(
                    f"{out}/state/batch={ids[-1]}"
                ).collect()
            )
            phase2 = sorted(
                tuple(r)
                for b in range(8, 12)
                for r in spark.read.parquet(
                    f"{out}/out/batch={b}"
                ).collect()
            )
            return state, phase2

        state_a, out_a = run("cmp_ctl", compact_after_phase1=False)
        state_b, out_b = run("cmp_cpt", compact_after_phase1=True)
        assert out_b == out_a  # surviving keys fold identically
        retired_rows = [t for t in state_a if t[0] in (5, 6)]
        assert len(retired_rows) == 2
        assert state_b == [t for t in state_a if t[0] not in (5, 6)]

    def test_compact_marker_fences_snapshot_listing(self, spark, tmp_path):
        """A crash mid-swap leaves a _COMPACTING_<id> marker; every
        stream resume on that root must refuse to list snapshots
        (folding from the batch BEFORE the missing one would silently
        drop a batch's contributions), and compact_snapshots itself
        must recover — completing the swap when the temp is fenced,
        rolling back when the original survived."""
        import pytest

        from etl_guiacores_spark.streaming.snapshots import (
            _snapshot_ids,
            compact_snapshots,
        )

        root = str(tmp_path / "state")
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "user_id int, v long"
        ).write.parquet(f"{root}/batch=0")
        # simulate a crash AFTER the temp write, BEFORE the delete:
        # original fenced, temp fenced, marker present
        spark.createDataFrame(
            [(1, 10)], "user_id int, v long"
        ).write.parquet(f"{root}/.compact-tmp-0")
        (tmp_path / "state" / "_COMPACTING_0").touch()
        with pytest.raises(RuntimeError, match="interrupted"):
            _snapshot_ids(spark, root)
        # recovery rolls back (original survived) and the requested
        # compaction then applies to the intact snapshot
        removed = compact_snapshots(
            spark, root, spark.createDataFrame([(3,)], "user_id int"),
            ["user_id"],
        )
        assert removed == 1
        assert not (tmp_path / "state" / "_COMPACTING_0").exists()
        snap = spark.read.parquet(f"{root}/batch=0")
        assert sorted(r["user_id"] for r in snap.collect()) == [1, 2]

        # simulate a crash AFTER the delete, BEFORE the rename:
        # original gone, temp fenced, marker present
        import shutil

        spark.createDataFrame(
            [(1, 10), (2, 20)], "user_id int, v long"
        ).write.mode("overwrite").parquet(f"{root}/.compact-tmp-0")
        shutil.rmtree(tmp_path / "state" / "batch=0")
        (tmp_path / "state" / "_COMPACTING_0").touch()
        with pytest.raises(RuntimeError, match="interrupted"):
            _snapshot_ids(spark, root)
        removed = compact_snapshots(
            spark, root, spark.createDataFrame([], "user_id int"),
            ["user_id"],
        )
        assert removed == 0
        snap = spark.read.parquet(f"{root}/batch=0")
        assert sorted(r["user_id"] for r in snap.collect()) == [1, 2]
        assert _snapshot_ids(spark, root) == [0]

        # object-store torn install: batch dir carries _SUCCESS but
        # the WRONG row count vs the marker's recorded count — a bare
        # fence must not be trusted; the count-verified temp wins
        spark.createDataFrame(
            [(9, 90)], "user_id int, v long"
        ).write.mode("overwrite").parquet(f"{root}/batch=0")  # torn (1 row)
        spark.createDataFrame(
            [(1, 10), (2, 20)], "user_id int, v long"
        ).write.mode("overwrite").parquet(f"{root}/.compact-tmp-0")
        (tmp_path / "state" / "_COMPACTING_0").write_text("2")
        removed = compact_snapshots(
            spark, root, spark.createDataFrame([], "user_id int"),
            ["user_id"],
        )
        assert removed == 0
        snap = spark.read.parquet(f"{root}/batch=0")
        assert sorted(r["user_id"] for r in snap.collect()) == [1, 2]

    def test_compact_orphan_tmp_swept(self, spark, tmp_path):
        """Round-11 advice item: a temp-write failure BEFORE the
        _COMPACTING_ marker exists leaves a marker-less
        .compact-tmp-<id> that the marker-driven recovery loop never
        sees — the next compact_snapshots on the root must sweep it
        (the original snapshot is untouched, so deletion is safe)."""
        from etl_guiacores_spark.streaming.snapshots import (
            compact_snapshots,
        )

        root = str(tmp_path / "ostate")
        spark.createDataFrame(
            [(1, 10), (2, 20)], "user_id int, v long"
        ).write.parquet(f"{root}/batch=0")
        # pre-marker garbage: tmp dir, NO _COMPACTING_0 marker
        spark.createDataFrame(
            [(9, 90)], "user_id int, v long"
        ).write.parquet(f"{root}/.compact-tmp-0")
        removed = compact_snapshots(
            spark, root, spark.createDataFrame([(2,)], "user_id int"),
            ["user_id"],
        )
        assert removed == 1
        assert not (tmp_path / "ostate" / ".compact-tmp-0").exists()
        got = sorted(
            r["user_id"]
            for r in spark.read.parquet(f"{root}/batch=0").collect()
        )
        assert got == [1]

    def test_compact_foreign_marker_skipped(self, spark, tmp_path):
        """Round-12 advice item: the marker recovery loop must skip a
        foreign non-integer _COMPACTING_ name (not crash with
        ValueError) — the same skip-foreign tolerance the tmp-dir
        sweep already has — and must leave both foreign entries on
        disk (they weren't written by this protocol)."""
        from etl_guiacores_spark.streaming.snapshots import (
            compact_snapshots,
        )

        root = str(tmp_path / "fstate")
        spark.createDataFrame(
            [(1, 10), (2, 20)], "user_id int, v long"
        ).write.parquet(f"{root}/batch=0")
        (tmp_path / "fstate" / "_COMPACTING_final").touch()
        # zero-padded digits are NOT the canonical name this protocol
        # writes — int()ing '007' would chase batch=7 and delete the
        # wrong marker name, so it must be treated as foreign too
        (tmp_path / "fstate" / "_COMPACTING_007").touch()
        (tmp_path / "fstate" / ".compact-tmp-backup").mkdir()
        removed = compact_snapshots(
            spark, root, spark.createDataFrame([(2,)], "user_id int"),
            ["user_id"],
        )
        assert removed == 1
        assert (tmp_path / "fstate" / "_COMPACTING_final").exists()
        assert (tmp_path / "fstate" / "_COMPACTING_007").exists()
        assert (tmp_path / "fstate" / ".compact-tmp-backup").exists()
        got = sorted(
            r["user_id"]
            for r in spark.read.parquet(f"{root}/batch=0").collect()
        )
        assert got == [1]

    def test_compact_corrupt_marker_fails_loud(self, spark, tmp_path):
        """Round-11 advice item: 'marker exists but unreadable' must
        NOT downgrade recovery to a count-less bare-_SUCCESS check
        (which could accept a torn batch dir on an object store) —
        corrupt marker contents fail loud instead of want=None."""
        import pytest

        from etl_guiacores_spark.streaming.snapshots import (
            compact_snapshots,
        )

        root = str(tmp_path / "cstate")
        spark.createDataFrame(
            [(1, 10), (2, 20)], "user_id int, v long"
        ).write.parquet(f"{root}/batch=0")
        spark.createDataFrame(
            [(1, 10)], "user_id int, v long"
        ).write.parquet(f"{root}/.compact-tmp-0")
        (tmp_path / "cstate" / "_COMPACTING_0").write_text("not-a-count")
        with pytest.raises(RuntimeError, match="corrupt marker"):
            compact_snapshots(
                spark, root,
                spark.createDataFrame([], "user_id int"), ["user_id"],
            )
        # snapshot untouched; a repaired (empty = pre-write crash
        # window) marker lets recovery proceed count-less as before
        (tmp_path / "cstate" / "_COMPACTING_0").write_text("")
        removed = compact_snapshots(
            spark, root,
            spark.createDataFrame([], "user_id int"), ["user_id"],
        )
        assert removed == 0
        got = sorted(
            r["user_id"]
            for r in spark.read.parquet(f"{root}/batch=0").collect()
        )
        assert got == [1, 2]

    def test_compact_null_removable_keeps_row(self, spark, tmp_path):
        """A NULL removable-predicate value means 'not affirmed' —
        the row must be KEPT (TRUE & NULL fed to filter(~drop) would
        silently delete it)."""
        from etl_guiacores_spark.streaming.snapshots import (
            compact_snapshots,
        )

        root = str(tmp_path / "nstate")
        spark.createDataFrame(
            [(1, None), (1, 7), (2, 3)], "user_id int, x int"
        ).write.parquet(f"{root}/batch=0")
        removed = compact_snapshots(
            spark, root, spark.createDataFrame([(1,)], "user_id int"),
            ["user_id"], removable=F.col("x") > 5,
        )
        assert removed == 1  # only (1, 7); the NULL-x row survives
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{root}/batch=0").collect()
        )
        assert got == [(1, None), (2, 3)]

    def test_compact_snapshots_dwell_removable_filter(
        self, spark, tmp_path
    ):
        """The dwell twin's documented compaction: only a retired
        key's kind='open' hold drops; the shared per-state aggregate
        rows survive (their closed dwells are history, not key
        state)."""
        from etl_guiacores_spark.streaming import (
            compact_snapshots,
            state_dwell_stream,
        )
        from etl_guiacores_spark.streaming.snapshots import _snapshot_ids

        def start(stream, out):
            return state_dwell_stream(
                stream, out, key_cols=["user_id"],
                state_col="event_type",
                checkpoint_dir=str(tmp_path / "cmpd_ckpt"),
            )

        out, users = self._run_batches(
            spark, tmp_path, "cmpd", start, n_batches=8
        )
        root = f"{out}/state"
        retired = spark.createDataFrame([(1,), (2,)], "user_id int")
        removed = compact_snapshots(
            spark, root, retired, ["user_id"],
            removable=F.col("kind") == "open",
        )
        assert removed == 2
        snap = spark.read.parquet(
            f"{root}/batch={_snapshot_ids(spark, root)[-1]}"
        )
        got = {
            r["kind"]: r["n"]
            for r in snap.groupBy("kind").agg(
                F.count("*").alias("n")).collect()
        }
        # open holds shrink by the two retired keys; agg rows intact
        assert got["agg"] == 3
        assert (
            snap.filter(
                (F.col("kind") == "open")
                & F.col("user_id").isin(1, 2)
            ).count()
            == 0
        )

    def test_dwell_state_is_keys_plus_states(self, spark, tmp_path):
        from etl_guiacores_spark.streaming import state_dwell_stream
        from etl_guiacores_spark.streaming.snapshots import _snapshot_ids

        def start(stream, out):
            return state_dwell_stream(
                stream, out, key_cols=["user_id"], state_col="event_type",
                checkpoint_dir=str(tmp_path / "dwb_ckpt"),
            )

        out, users = self._run_batches(spark, tmp_path, "dwb", start)
        ids = _snapshot_ids(spark, f"{out}/state")
        assert len(ids) == 3
        snap = spark.read.parquet(f"{out}/state/batch={ids[-1]}")
        got = {
            r["kind"]: r["n"]
            for r in snap.groupBy("kind").agg(
                F.count("*").alias("n")).collect()
        }
        # one OPEN hold per key + one AGG row per distinct state value
        assert got == {"open": len(users), "agg": 3}


class TestHoltStream:
    def test_holt_stream_equals_batch_twin(self, spark, tmp_path):
        from etl_guiacores_spark.operators.rollup_time import holt_smooth
        from etl_guiacores_spark.streaming import holt_smooth_stream

        # two users, 3 event-time-ordered micro-batches; values vary so
        # level AND trend both move (incl. a downswing -> negative trend)
        batches = [
            [ev(1, 1, user=1, value=1.0), ev(2, 2, user=1, value=3.0),
             ev(3, 1, user=2, value=5.0)],
            [ev(4, 10, user=1, value=6.0), ev(5, 11, user=2, value=4.0),
             ev(6, 12, user=2, value=2.0)],
            [ev(7, 20, user=1, value=2.0), ev(8, 21, user=2, value=1.0)],
        ]
        src = str(tmp_path / "holt_src")
        out = str(tmp_path / "holt_out")
        spark.createDataFrame(batches[0], EVENTS_SCHEMA).coalesce(1).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = holt_smooth_stream(
            stream, out, key_cols=["user_id"],
            value_micro=(F.col("value") * 1_000_000).cast("long"),
            checkpoint_dir=str(tmp_path / "holt_ckpt"),
        )
        try:
            q.processAllAvailable()
            for b in batches[1:]:
                spark.createDataFrame(b, EVENTS_SCHEMA).coalesce(1).write.mode(
                    "append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()

        got = {
            r["event_id"]: (r["level_micro"], r["trend_micro"])
            for r in spark.read.parquet(f"{out}/out").collect()
        }
        all_events = spark.createDataFrame(
            [e for b in batches for e in b], EVENTS_SCHEMA
        ).withColumn("v_micro", (F.col("value") * 1_000_000).cast("long"))
        want = {
            r["event_id"]: (r["level_micro"], r["trend_micro"])
            for r in holt_smooth(
                all_events, "user_id", "ts", "v_micro",
                tiebreak_col="event_id",
            ).collect()
        }
        assert got == want
        assert any(t < 0 for _, t in got.values())  # downswing seen

    def test_holt_stream_rejects_out_of_order_batch(self, spark, tmp_path):
        from etl_guiacores_spark.streaming import holt_smooth_stream

        src = str(tmp_path / "hlate_src")
        out = str(tmp_path / "hlate_out")
        spark.createDataFrame([ev(1, 30, user=1)], EVENTS_SCHEMA).coalesce(
            1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = holt_smooth_stream(
            stream, out, key_cols=["user_id"],
            value_micro=(F.col("value") * 1_000_000).cast("long"),
            checkpoint_dir=str(tmp_path / "hlate_ckpt"),
        )
        try:
            q.processAllAvailable()
            spark.createDataFrame([ev(2, 10, user=1)], EVENTS_SCHEMA).coalesce(
                1).write.mode("append").parquet(src)
            raised = False
            try:
                q.processAllAvailable()
            except Exception:
                raised = True
            assert raised, "out-of-order batch must fail loud"
        finally:
            q.stop()


def _stream_src(spark, src):
    return spark.readStream.schema(EVENTS_SCHEMA).option(
        "maxFilesPerTrigger", 1).parquet(src)


def _run_batches(spark, tmp_path, batches, start):
    """Land ``batches`` one file each and run them through the twin
    ``start(stream, out, ckpt)`` one micro-batch at a time."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(batches[0], EVENTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    q = start(_stream_src(spark, src), out, ckpt)
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            spark.createDataFrame(b, EVENTS_SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    return src, out, ckpt


def cusum_kw():
    return dict(key_cols=["user_id"],
                value_micro=(F.col("value") * 1_000_000).cast("long"),
                target_micro=1_000_000, slack_micro=0,
                threshold_micro=2_000_000)


def _start_cusum(stream, out, ckpt):
    return cusum_drift_stream(stream, out, checkpoint_dir=ckpt, **cusum_kw())


def _start_holt(stream, out, ckpt):
    return holt_smooth_stream(
        stream, out, key_cols=["user_id"],
        value_micro=(F.col("value") * 1_000_000).cast("long"),
        checkpoint_dir=ckpt)


def _start_drawdown(stream, out, ckpt):
    return max_drawdown_stream(stream, out, key_cols=["user_id"],
                               flow_col=dd_flow(), checkpoint_dir=ckpt)


def _read_out(spark, out):
    return spark.read.parquet(f"{out}/out")


def _acq_ev(eid, day, hour, user):
    return (eid, datetime(2024, 1, day, hour), user, "click", 1.0)


_KEYED_BATCHES = [
    [ev(1, 1, user=1, etype="purchase", value=3.0)],
    [ev(2, 10, user=1, etype="error", value=2.0),
     ev(3, 11, user=2, etype="purchase", value=1.0)],
    [ev(4, 20, user=1, etype="purchase", value=4.0)],
]

# twin -> (three micro-batches, start, read of the merged report)
REPLAY_TWINS = {
    "acquisition": (
        [
            [_acq_ev(1, 1, 8, user=1), _acq_ev(2, 1, 9, user=2)],
            [_acq_ev(3, 2, 8, user=1), _acq_ev(4, 2, 9, user=3)],
            [_acq_ev(5, 2, 12, user=4), _acq_ev(6, 3, 8, user=1)],
        ],
        lambda stream, out, ckpt: daily_acquisition_stream(
            stream, out, checkpoint_dir=ckpt),
        read_daily_acquisition,
    ),
    "cusum": (_KEYED_BATCHES, _start_cusum, _read_out),
    "drawdown": (
        _KEYED_BATCHES,
        _start_drawdown,
        lambda spark, out: read_max_drawdown(spark, out, ["user_id"]),
    ),
    "dwell": (
        [
            [ev(1, 1, user=1, etype="view")],
            [ev(2, 10, user=1, etype="click"),
             ev(3, 12, user=2, etype="view")],
            [ev(4, 20, user=1, etype="view"),
             ev(5, 25, user=2, etype="click")],
        ],
        lambda stream, out, ckpt: state_dwell_stream(
            stream, out, key_cols=["user_id"], state_col="event_type",
            checkpoint_dir=ckpt),
        lambda spark, out: read_state_dwell(spark, out, "event_type"),
    ),
    "holt": (_KEYED_BATCHES, _start_holt, _read_out),
}


@pytest.mark.parametrize("twin", sorted(REPLAY_TWINS))
def test_replayed_batch_is_exactly_once(spark, tmp_path, twin):
    """Real redelivery: delete the checkpoint's last commit marker
    and restart — structured streaming re-runs the final batch. It
    must recompute from its ORIGINAL input snapshot and overwrite its
    own output: the merged report is unchanged."""
    batches, start, read = REPLAY_TWINS[twin]
    src, out, ckpt = _run_batches(spark, tmp_path, batches, start)
    before = sorted(
        tuple(sorted(r.asDict().items())) for r in read(spark, out).collect()
    )

    # force redelivery of batch 2
    (tmp_path / "ckpt" / "commits" / "2").unlink()
    crc = tmp_path / "ckpt" / "commits" / ".2.crc"
    if crc.exists():
        crc.unlink()
    q2 = start(_stream_src(spark, src), out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    after = sorted(
        tuple(sorted(r.asDict().items())) for r in read(spark, out).collect()
    )
    assert after == before


def _per_event(spark, out, *cols):
    return {r["event_id"]: tuple(r[c] for c in cols)
            for r in _read_out(spark, out).collect()}


def _cusum_got_want(spark, out, events):
    from etl_guiacores_spark.operators.funnel import cusum_drift

    want = {
        r["event_id"]: (r["cusum_micro"], r["drift_flag"])
        for r in cusum_drift(
            spark.createDataFrame(events, EVENTS_SCHEMA), **cusum_kw()
        ).collect()
    }
    return _per_event(spark, out, "cusum_micro", "drift_flag"), want


def _holt_got_want(spark, out, events):
    from etl_guiacores_spark.operators.rollup_time import holt_smooth

    df = spark.createDataFrame(events, EVENTS_SCHEMA).withColumn(
        "v_micro", (F.col("value") * 1_000_000).cast("long"))
    want = {
        r["event_id"]: (r["level_micro"], r["trend_micro"])
        for r in holt_smooth(
            df, "user_id", "ts", "v_micro", tiebreak_col="event_id"
        ).collect()
    }
    return _per_event(spark, out, "level_micro", "trend_micro"), want


def _drawdown_got_want(spark, out, events):
    got = {r["user_id"]: r.asDict()
           for r in read_max_drawdown(spark, out, ["user_id"]).collect()}
    want = {r["user_id"]: r.asDict()
            for r in dd_batch_report(spark, events).collect()}
    return got, want


@pytest.mark.parametrize(
    "start,got_want",
    [
        (_start_cusum, _cusum_got_want),
        (_start_drawdown, _drawdown_got_want),
        (_start_holt, _holt_got_want),
    ],
    ids=["cusum", "drawdown", "holt"],
)
def test_same_timestamp_later_tiebreak_is_legal(
    spark, tmp_path, start, got_want
):
    """The cross-batch late check compares the SAME (ts, tiebreak)
    total order the twins fold in: a later batch carrying the same
    timestamp with a larger tiebreak must be accepted, and the stream
    must still equal its batch twin."""
    t = datetime(2024, 1, 1, 0, 10)
    batches = [
        [(1, t, 1, "purchase", 2.0)],
        [(2, t, 1, "error", 1.0)],     # same ts, larger event_id
    ]
    _, out, _ = _run_batches(spark, tmp_path, batches, start)
    got, want = got_want(spark, out, [x for b in batches for x in b])
    assert got == want


def test_order_guard_null_held_tiebreak_is_ts_only(spark):
    """A snapshot without a held tiebreak (written before the state
    carried one) falls back to the stricter time-only rule: a same-ts
    row is refused instead of being compared against NULL."""
    from etl_guiacores_spark.streaming.snapshots import _check_key_order

    t = datetime(2024, 1, 1, 0, 10)
    rows = spark.createDataFrame([(1, t, 2)], "k int, ts timestamp, id long")

    def check(held_tb):
        held = spark.createDataFrame(
            [(1, t, held_tb)], "k int, ts_last timestamp, tb_last long")
        _check_key_order(rows, held, ["k"], "ts", "id", 7, "op")

    check(1)  # same ts, larger tiebreak: legal
    with pytest.raises(RuntimeError, match="op: batch 7 .*delivery contract"):
        check(None)
