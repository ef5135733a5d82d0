"""Spans around calls into the program's layers, with Spark counters.

A span is a named interval of the calling thread. While it is open the
thread runs under its own Spark job group, so every job the layer
starts (and the broadcast/subquery jobs Spark runs for it on other
threads) is tagged with the span. When the span closes the counters
are read for that group only: ``statusTracker().getJobIdsForGroup``
then ``statusStore().lastStageAttempt`` per stage — a lookup, never a
scan of every job in the store. Nested spans restore the parent's
group on exit, so a job counts toward the innermost open span only,
while a span's seconds include its children's.

A span's ``plan_s`` is the analysis, optimization and planning time of
the SQL executions that finished inside it, read from each execution's
own ``QueryExecution`` by a ``QueryExecutionListener``; so a span
around a write splits into planning and execution without planning
anything twice.

Spans are kept in memory and written out once, by ``dump``.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class PlanningListener:
    """A JVM ``QueryExecutionListener``: appends the seconds each
    finished SQL execution spent in analysis, optimization and planning
    (its ``QueryPlanningTracker`` phases) to ``sink``."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
        phases = qe.tracker().phases().valuesIterator()
        ms = 0
        while phases.hasNext():
            ms += phases.next().durationMs()
        self.sink.append(ms / 1000.0)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — JVM interface
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.read_s = 0.0  # time spent reading counters
        self._stack: list[dict] = []
        # job groups must be unique for the life of the SparkContext
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self._planning: list[float] = []  # filled by the listener, drained per span
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.sc._gateway)
            spark._jsparkSession.listenerManager().register(PlanningListener(self._planning))

    def begin(self, name: str) -> dict | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self._prefix}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["sql0"] = self._sql_store().executionsCount()
        rec["start"] = time.perf_counter()
        return rec

    def end(self, rec: dict | None, name: str | None = None) -> None:
        """Close ``rec`` (the innermost open span), renaming it if the
        caller only learns what it covered when it ends."""
        if rec is None:
            return
        rec["end"] = time.perf_counter()
        if name is not None:
            rec["name"] = name
        self._stack.remove(rec)
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self.sc.setJobGroup(parent["group"], parent["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        t0 = time.perf_counter()
        self._read(rec)
        self.read_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        rec = self.begin(name)
        try:
            yield rec
        finally:
            self.end(rec)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _read(self, rec: dict) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(COUNTERS, 0)
        job_ms = 0
        for jid in tracker.getJobIdsForGroup(rec["group"]):
            c["jobs"] += 1
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                job_ms += done.get().getTime() - sub.get().getTime()
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — a stage that never ran has no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_ms"] += st.executorRunTime()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
        rec.update(c)
        rec["job_s"] = job_ms / 1000.0
        # the bus is drained, so every execution that finished in the
        # span (and not in an inner span, already drained) is here
        rec["plan_s"] = sum(self._planning)
        self._planning.clear()
        rec.update(self._plan_counts(rec.pop("sql0")))

    def _plan_counts(self, sql0: int) -> dict:
        """Exchanges and parquet scans in the final (adaptive) plans of
        the SQL executions started inside the span, nested spans' included."""
        store = self._sql_store()
        n = store.executionsCount() - sql0
        execs = store.executionsList(sql0, n) if n > 0 else None
        exchanges = scans = 0
        for i in range(execs.size() if execs is not None else 0):
            plan = execs.apply(i).physicalPlanDescription()
            # keep the operator tree of the final plan: the formatted
            # description follows the tree with per-node details after
            # a blank line, and AQE appends the initial plan's tree
            tree = plan.split("== Physical Plan ==")[-1].strip().split("\n\n")[0]
            for line in tree.split("== Initial Plan ==")[0].splitlines():
                if "Exchange" in line and "ReusedExchange" not in line:
                    exchanges += 1
                if "Scan parquet" in line:
                    scans += 1
        return {"exchanges": exchanges, "scans": scans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def seconds(span: dict) -> float:
    return span["end"] - span["start"]
