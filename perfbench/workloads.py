"""The benchmark workloads.

Each workload drives the program only through its public calls —
``cli.main``, ``REGISTRY[name].fn`` and ``run_corpus_pipeline`` — and
follows one protocol:

- ``prepare(work, seed)`` makes the inputs from the seed (untimed);
- ``warmup(spark)`` is the first pass over the workload, paid in set-up;
  it checks its outputs and returns (checks made, checks failed);
- ``run(spark, tracer, k)`` is one timed operation, returning an ``Op``.

Every output check that fails counts toward ``Op.failed``.
"""

from __future__ import annotations

import contextlib
import io as _io
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import datagen

clock = time.perf_counter


@dataclass
class Op:
    wall_s: float
    attempted: int  # requests plus output checks
    failed: int
    latencies: list[float] = field(default_factory=list)  # one per request
    extra: dict = field(default_factory=dict)  # per-layer inputs, summed per op


def _tree_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


# ---------------------------------------------------------------------------
# bulk_scrape
# ---------------------------------------------------------------------------


def multiples(m: int, lo: int, hi: int) -> int:
    """How many multiples of ``m`` lie in ``[lo, hi]``."""
    return hi // m - (lo - 1) // m


def bulk_expected(lo: int, hi: int) -> dict:
    """Closed-form result counts of a synthetic-site bulk scrape over ids
    ``lo..hi``: every id divisible by 97 fails to fetch, and the pages of
    ids divisible by 4 carry a valid email."""
    failed = multiples(97, lo, hi)
    return {
        "records": hi - lo + 1 - failed,
        "with_email": multiples(4, lo, hi) - multiples(4 * 97, lo, hi),
        "quarantined": 0,
        "fetch_failed": failed,
    }


#: handoff directory name -> layer span it is attributed to
HANDOFF_LAYER = {
    "fetched": "sources.fetch",
    "fetch_quarantine": "sources.fetch",
    "bronze": "sources.parse",
    "silver": "plans.pipeline.silver",
    "quarantine": "plans.pipeline.silver",
    "gold": "plans.pipeline.gold",
    "audit_log": "io.audit",
}


@contextlib.contextmanager
def traced_io(tracer):
    """Wrap the public ``io`` writers so each call runs in a span named
    after the layer that owns the handoff."""
    from etl_guiacores_spark import io as gio

    names = ("write_handoff", "write_run_csv", "append_audit_log")
    saved = {n: getattr(gio, n) for n in names}

    def wrap(fn, path_arg):
        def traced(*args, **kwargs):
            path = args[path_arg].rstrip("/")
            layer = HANDOFF_LAYER.get(os.path.basename(path), "io.other")
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return traced

    gio.write_handoff = wrap(saved["write_handoff"], 1)
    gio.write_run_csv = wrap(saved["write_run_csv"], 1)
    gio.append_audit_log = wrap(saved["append_audit_log"], 1)
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(gio, n, fn)


class BulkScrape:
    name = "bulk_scrape"

    def __init__(self, n_ids: int = 20_000):
        self.n_ids = n_ids

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.lo = 1 + seed * 100_000
        self.hi = self.lo + self.n_ids - 1
        self.expected = bulk_expected(self.lo, self.hi)

    def _scrape(self, spark, out: str) -> dict:
        from etl_guiacores_spark import cli

        argv = [
            "--out", out, "--transport", "synthetic", "bulk",
            "--start-id", str(self.lo), "--end-id", str(self.hi),
        ]
        with contextlib.redirect_stdout(_io.StringIO()):  # cli.main prints its envelope
            return cli.main(argv, spark=spark)

    def _ok(self, result: dict) -> bool:
        got = {k: result.get("metrics", {}).get(k) for k in self.expected}
        return result.get("status") == "success" and got == self.expected

    def warmup(self, spark) -> tuple[int, int]:
        out = os.path.join(self.work, "bulk-warmup")
        failed = 0 if self._ok(self._scrape(spark, out)) else 1
        shutil.rmtree(out, ignore_errors=True)
        return 1, failed

    def run(self, spark, tracer, k: int) -> Op:
        out = os.path.join(self.work, f"bulk-{k}")
        with traced_io(tracer):
            t0 = clock()
            with tracer.span("plans.pipeline"):
                result = self._scrape(spark, out)
            wall = clock() - t0
        extra = {"bulk_scrape_s": wall, "pages": self.n_ids}
        if tracer.enabled:
            import pyarrow.parquet as pq

            fetched = pq.read_table(
                os.path.join(out, "fetched"), columns=["fetch_error", "attempts"]
            )
            n_ok = fetched["fetch_error"].null_count
            extra["fetch_attempts"] = int(fetched["attempts"].to_numpy().sum())
            extra["fetch_failed"] = fetched.num_rows - n_ok
            extra["fetch_ok"] = n_ok
            extra["bytes_written"], extra["files_written"] = _tree_size(out)
        shutil.rmtree(out, ignore_errors=True)
        ok = self._ok(result)
        return Op(wall, 2, 0 if ok else 1, [wall], extra)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

#: cheap, build-dominated queries across the relational, text, event and
#: corpus families, then the graph gates (q101, q162) and the q-gram
#: linkage join (q116)
QUERIES = (
    "q05_semi_join_segments",
    "q10_latest_version",
    "q20_clean_text_documents",
    "q30_tumbling_window",
    "q45_vocabulary",
    "q130_temporal_split",
    "q155_benford_digits",
    "q101_pagerank_neardup",
    "q116_qgram_fuzzy_join",
    "q162_kcore_dedup",
)
LINKAGE = {"q116_qgram_fuzzy_join"}
GRAPH = {"q101_pagerank_neardup", "q162_kcore_dedup"}


def load_registry():
    import etl_guiacores_spark.queries_analytics  # noqa: F401 — registers its queries
    import etl_guiacores_spark.queries_corpus  # noqa: F401
    import etl_guiacores_spark.queries_eval  # noqa: F401
    import etl_guiacores_spark.queries_extra  # noqa: F401
    import etl_guiacores_spark.queries_scale  # noqa: F401
    from etl_guiacores_spark.queries import REGISTRY

    return REGISTRY


class QueryMix:
    name = "query_mix"

    def __init__(self, sf: float = 0.01, names: tuple[str, ...] = QUERIES):
        self.sf = sf
        self.names = names

    def prepare(self, work: str, seed: int) -> None:
        import duckdb

        from tools.check_oracle import frame_fingerprint

        self.registry = load_registry()
        self.sf_dir = datagen.write_tables(os.path.join(work, "tables"), self.sf)
        order = np.random.default_rng([seed, 3]).permutation(len(self.names))
        self.order = [self.names[i] for i in order]
        self.expected = {}
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.names:
                sql = self.registry[name].oracle
                if sql is not None:
                    res = con.execute(sql)
                    cols = [d[0] for d in res.description]
                    self.expected[name] = frame_fingerprint(cols, res.fetchall())
        finally:
            con.close()

    def warmup(self, spark) -> tuple[int, int]:
        """First pass: collect every query and compare it with its
        oracle (rows and order-insensitive hash), or rows > 0 without one."""
        from tools.check_oracle import frame_fingerprint

        failed = 0
        for name in self.order:
            try:
                df = self.registry[name].fn(spark, self.sf_dir)
                got = frame_fingerprint(df.columns, [tuple(r) for r in df.collect()])
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001 — a failing query is a counted failure
                failed += 1
                continue
            want = self.expected.get(name)
            failed += (got != want) if want is not None else (got[1] == 0)
        return len(self.order), failed

    def run(self, spark, tracer, k: int) -> Op:
        lat, failed, extra = [], 0, {}
        for name in self.order:
            fn = self.registry[name].fn
            t0 = clock()
            try:
                with tracer.span("queries.build"):
                    df = fn(spark, self.sf_dir)
                # the write plans and executes; the span's plan_s is the
                # planning part, from the write's own QueryExecution
                with tracer.span("queries.write"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — a failing query is a counted failure
                failed += 1
            lat.append(clock() - t0)
            extra[name] = lat[-1]
            spark.catalog.clearCache()
        return Op(sum(lat), len(lat), failed, lat, extra)


# ---------------------------------------------------------------------------
# corpus_golden
# ---------------------------------------------------------------------------

#: progress-callback stages of a golden run, ``filtered`` through ``shards``
CORPUS_STAGES = (
    "filtered", "exact_dedup", "decontam", "decontam_spans", "near_dup",
    "span_strip", "gopher_gate", "mixture", "chunks", "vocab", "shards",
)

#: documents the mixture stage samples; small enough that its quota binds
MIXTURE_TOTAL = 50


class CorpusGolden:
    name = "corpus_golden"

    def __init__(self, sf: float = 0.005):
        self.sf = sf

    def prepare(self, work: str, seed: int) -> None:
        from etl_guiacores_spark.plans.corpus_pipeline import CorpusConfig

        self.work = work
        tables = datagen.write_tables(os.path.join(work, "tables"), self.sf)
        self.corpus, passages = datagen.corpus_inputs(
            os.path.join(tables, "documents.parquet"), work, seed
        )
        self.n_docs = int(self.sf * 50_000) * datagen.REPLICAS
        # every optional stage on, as in tools/soak_golden_run.py
        self.config = CorpusConfig(
            min_quality=0.0, near_dup_jaccard=0.6, cluster_exact=True,
            chunk_tokens=64, chunk_overlap=8, vocab_top_k=1000,
            benchmark_path=passages, decontam_spans=True, decontam_span_n=8,
            strip_spans=True, span_n=10, gopher_gate=True, gopher_min_tokens=10,
            gopher_max_tokens=200, mixture_total=MIXTURE_TOTAL,
            mixture_strata=("source",), write_shards=True, budget_tokens=512,
            sequences_per_shard=1000,
        )
        self.envelope = None

    def _pipeline(self, spark, out: str, callback=None) -> dict:
        from etl_guiacores_spark.plans.corpus_pipeline import run_corpus_pipeline

        docs = spark.read.parquet(self.corpus)
        return run_corpus_pipeline(docs, out, self.config, progress_callback=callback)

    def _check(self, metrics: dict) -> int:
        """Repeatability: every run's envelope equals the first one's."""
        env = {k: v for k, v in metrics.items() if k != "shards"}
        env["shards"] = {k: v for k, v in metrics["shards"].items() if k != "timings_s"}
        if self.envelope is None:
            self.envelope = env
        sane = env["raw_docs"] == self.n_docs and env["shards"]["n_sequences"] > 0
        return 0 if sane and env == self.envelope else 1

    def warmup(self, spark) -> tuple[int, int]:
        out = os.path.join(self.work, "corpus-warmup")
        failed = self._check(self._pipeline(spark, out))
        shutil.rmtree(out, ignore_errors=True)
        return 1, failed

    def run(self, spark, tracer, k: int) -> Op:
        out = os.path.join(self.work, f"corpus-{k}")
        # a stage's span opens when the previous stage reports and is
        # named when its own report arrives
        open_span = []

        def callback(stage, info):
            tracer.end(open_span.pop(), f"plans.corpus.{stage}")
            open_span.append(tracer.begin("plans.corpus.pending"))

        t0 = clock()
        with tracer.span("plans.corpus"):
            open_span.append(tracer.begin("plans.corpus.ingest"))
            metrics = self._pipeline(spark, out, callback)
            tracer.end(open_span.pop(), "plans.corpus.tail")
        wall = clock() - t0
        extra = {"corpus_golden_s": wall, "docs": self.n_docs}
        if tracer.enabled:
            extra["shard_timings"] = metrics["shards"]["timings_s"]
            extra["bytes_written"], extra["files_written"] = _tree_size(out)
        shutil.rmtree(out, ignore_errors=True)
        failed = self._check(metrics)
        return Op(wall, 2, failed, [wall], extra)


# ---------------------------------------------------------------------------
# pipelines
# ---------------------------------------------------------------------------


class Pipelines:
    """One operation = one bulk scrape, then one golden corpus run: the
    two composed pipelines in one closed loop, each checked as above."""

    name = "pipelines"

    def __init__(self, bulk: BulkScrape | None = None, corpus: CorpusGolden | None = None):
        self.parts = (bulk or BulkScrape(), corpus or CorpusGolden())

    def prepare(self, work: str, seed: int) -> None:
        for part in self.parts:
            part.prepare(os.path.join(work, part.name), seed)

    def warmup(self, spark) -> tuple[int, int]:
        checks = [part.warmup(spark) for part in self.parts]
        return sum(c for c, _ in checks), sum(f for _, f in checks)

    def run(self, spark, tracer, k: int) -> Op:
        ops = [part.run(spark, tracer, k) for part in self.parts]
        extra = {}
        for op in ops:
            for key, value in op.extra.items():
                extra[key] = extra[key] + value if key in extra else value
        return Op(
            sum(op.wall_s for op in ops),
            sum(op.attempted for op in ops),
            sum(op.failed for op in ops),
            [op.wall_s for op in ops],
            extra,
        )


WORKLOADS = {w.name: w for w in (Pipelines, QueryMix)}
