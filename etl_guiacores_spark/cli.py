"""CLI — the reference's three ETL modes + offline clean, Spark-first.

Mirrors the argparse surface of the reference
(reference: src/main.py:300-334) and the offline cleaning tool
(reference: src/tools/clean_data.py:59-150):

    python -m etl_guiacores_spark bulk --start-id 1 --end-id 200
    python -m etl_guiacores_spark manual --file data/html_dir
    python -m etl_guiacores_spark sequential --rubros a,b --localidades x
    python -m etl_guiacores_spark clean --input 'runs/*' --out gold/

Network is off by default (--transport fake): the fetch stage serves
deterministic synthetic pages, so every mode runs end-to-end offline.
``--transport synthetic`` swaps in the invertible full-field site
(sources/synthetic.py — all X1-X10 selectors populated, deterministic
outages exercising retry + quarantine); ``--transport requests``
enables real HTTP for a deployment.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _progress_cb(args):
    """--progress: one JSON line per pipeline stage on stderr (stdout
    stays reserved for the result envelope). --serve-port N
    additionally serves a live HTML/JSON progress board (ui.py — the
    engine twin of the reference's Streamlit panel,
    reference: streamlit_app.py:66-81). Both sinks share one callback."""
    sinks = []
    if getattr(args, "progress", False):
        sinks.append(
            lambda stage, info: print(
                json.dumps({**info, "stage": stage}, default=str), file=sys.stderr
            )
        )
    board = getattr(args, "_progress_board", None)
    if board is not None:
        sinks.append(board.callback)
    if not sinks:
        return None

    def emit(stage: str, info: dict) -> None:
        for sink in sinks:
            sink(stage, info)

    return emit


def _transport_factory(kind: str):
    from etl_guiacores_spark.sources import fetch as f

    if kind == "requests":
        return f.requests_transport
    if kind == "synthetic":
        # the invertible full-field site q201 verifies against: every
        # X1-X10 selector populated, ids % 97 raising so the retry +
        # quarantine legs run — the richest offline end-to-end
        from etl_guiacores_spark.sources.synthetic import (
            synthetic_site_transport,
        )

        return synthetic_site_transport
    # deterministic page per URL, keyed by the id in the URL
    def factory():
        def fake(url: str) -> str:
            import re

            # digits only: a URL like ...id=123&src=ficha (or one with
            # no id= at all) must yield a deterministic page, not a
            # ValueError that burns every retry and quarantines the row
            m = re.search(r"id=(\d+)", url)
            bid = m.group(1) if m else "0"
            return (
                f"<html><body><a class='search-result-name'><h1>Negocio {bid}</h1></a>"
                f"<span class='search-result-address'>Calle {bid} - (8300) Neuquen</span>"
                f"<a href='tel:+299{int(bid) % 10000000:07d}'>tel</a>"
                f"<a onclick='irContacto()'>c{bid}@example.com.ar</a></body></html>"
            )

        return fake

    return factory


def _run_scrape_pipeline(spark, urls, args) -> dict:
    from etl_guiacores_spark.plans import run_batch_pipeline
    from etl_guiacores_spark.sources.fetch import fetch_pages
    from etl_guiacores_spark.sources.html_parse import parse_pages

    from etl_guiacores_spark import io as gio

    fetched = fetch_pages(
        urls,
        _transport_factory(args.transport),
        max_attempts=args.retries,
        num_partitions=args.partitions,
    )
    # land the fetch ONCE, then split the stored table: acting on the
    # lazy lineage twice (ok + failed) would re-fetch every page
    fetched, seen = gio.land(
        fetched, f"{args.out}/fetched", failed=F.count("fetch_error")
    )
    # R2: failures are DATA, not discards — land them with their error
    # so a retry run can target exactly the failed ids
    gio.write_handoff(
        fetched.filter(F.col("fetch_error").isNotNull()).select(
            "id_negocio", "url", "fetch_error"
        ),
        f"{args.out}/fetch_quarantine",
    )
    ok = fetched.filter(F.col("fetch_error").isNull())
    parsed = parse_pages(ok.select("url", "html"))
    result = run_batch_pipeline(parsed, args.out, progress_callback=_progress_cb(args))
    result.setdefault("metrics", {})["fetch_failed"] = seen["failed"]
    return result


def cmd_bulk(spark, args) -> dict:
    """reference: src/main.py:80-133 — ID-range scrape (S1 -> S3 -> T -> L)."""
    from etl_guiacores_spark.sources.html_parse import DETAIL_URL_BASE as base

    urls = spark.range(args.start_id, args.end_id + 1).select(
        F.col("id").cast("string").alias("id_negocio"),
        F.concat(F.lit(base), F.col("id").cast("string")).alias("url"),
    )
    return _run_scrape_pipeline(spark, urls, args)


def cmd_manual(spark, args) -> dict:
    """reference: src/main.py:135-204 — one URL or a local HTML dir."""
    from etl_guiacores_spark.plans import run_batch_pipeline
    from etl_guiacores_spark.sources.html_parse import parse_pages, scan_html_dir

    if args.url:
        urls = spark.createDataFrame([(None, args.url)], "id_negocio string, url string")
        return _run_scrape_pipeline(spark, urls, args)
    pages = scan_html_dir(spark, args.file)  # S5: the parse the reference skipped
    return run_batch_pipeline(parse_pages(pages), args.out,
                              progress_callback=_progress_cb(args))


def cmd_sequential(spark, args) -> dict:
    """reference: src/main.py:206-297 — discovery crawl then scrape,
    with keep-first dedupe and resume anti-join."""
    from etl_guiacores_spark.operators.dedupe import dedupe_keyed_first
    from etl_guiacores_spark.operators.joins import resume_anti_join
    from etl_guiacores_spark.sources.discovery_source import ListingDataSource

    spark.dataSource.register(ListingDataSource)
    reader = (
        spark.read.format("guiacores_listing")
        .option("rubros", args.rubros or "")
        .option("localidades", args.localidades or "")
        .option("pages_per_combo", str(args.pages))
    )
    if args.listing_factory:
        reader = reader.option("listing_factory", args.listing_factory)
    discovered = reader.load()
    worklist = dedupe_keyed_first(discovered, ["id_negocio"], ["page"]).select(
        "id_negocio", "url"
    )
    if args.resume_from:
        processed = spark.read.option("header", True).csv(args.resume_from).select("id_negocio")
        worklist = resume_anti_join(worklist, processed)
    return _run_scrape_pipeline(spark, worklist, args)


def cmd_corpus(spark, args) -> dict:
    """Training-data corpus prep over a documents parquet: quality/lang
    filter -> exact dedup -> LSH near-dup removal -> chunk -> vocab,
    with per-stage metrics (the engine's LLM-pipeline surface)."""
    from etl_guiacores_spark.plans.corpus_pipeline import CorpusConfig, run_corpus_pipeline

    raw = spark.read.parquet(args.input)
    # keep the mixture strata columns through the run when present
    # (the quota stage needs them; doc_id+text suffice otherwise)
    keep = ["doc_id", "text"] + [
        c for c in (args.mixture_strata or "source").split(",")
        if c in raw.columns and c not in ("doc_id", "text")
    ]
    docs = raw.select(*keep)
    cfg = CorpusConfig(
        min_quality=args.min_quality,
        near_dup_jaccard=args.jaccard,
        cluster_exact=args.cluster_exact,
        portable_hashes=args.portable_hashes,
        chunk_tokens=args.chunk_tokens,
        benchmark_path=args.benchmark,
        strip_spans=args.strip_spans,
        span_n=args.span_n,
        decontam_spans=args.decontam_spans,
        decontam_span_n=args.decontam_span_n,
        gopher_gate=args.gopher_gate,
        gopher_min_tokens=args.gopher_min_tokens,
        gopher_max_tokens=args.gopher_max_tokens,
        mixture_total=args.mixture_total,
        mixture_strata=tuple(
            (args.mixture_strata or "source").split(",")
        ),
        write_shards=args.write_shards,
        budget_tokens=args.budget_tokens,
        sequences_per_shard=args.sequences_per_shard,
        prechunk_tokens=args.prechunk_tokens,
    )
    return run_corpus_pipeline(
        docs,
        args.out,
        cfg,
        progress_callback=_progress_cb(args),
        resume=args.resume,
    )


def cmd_shards(spark, args) -> dict:
    """Corpus -> packed training shards + manifest + stats (the last
    mile; plans/shard_writer.py). Input is a documents parquet with
    (doc_id, text). ``--append`` adds the batch to an existing shard
    set without rewriting landed files (the daily-increment path)."""
    from pyspark.sql import functions as F

    from etl_guiacores_spark.plans.shard_writer import (
        append_training_shards,
        write_training_shards,
    )

    docs = (
        spark.read.parquet(args.input)
        .select("doc_id", "text")
        .filter(F.length(F.trim("text")) > 0)
    )
    writer = append_training_shards if args.append else write_training_shards
    stats = writer(
        docs,
        args.out,
        budget_tokens=args.budget_tokens,
        chunk_tokens=args.chunk_tokens,
        sequences_per_shard=args.sequences_per_shard,
    )
    return {"mode": "shards_append" if args.append else "shards", **stats}


def cmd_resolve(spark, args) -> dict:
    """Fuzzy entity resolution over a records parquet: blocked
    Levenshtein matching -> connected components -> one canonical
    entity id per record (operators/linkage.py). The duplicate-
    business answer when records share no key."""
    from pyspark.sql import functions as F

    from etl_guiacores_spark import io as gio
    from etl_guiacores_spark.operators.linkage import resolve_entities

    records = spark.read.parquet(args.input)
    ents = resolve_entities(
        records, args.id_col, args.name_col, max_dist=args.max_dist,
        method=args.method,
    )
    out = f"{args.out}/entities"
    back, seen = gio.land(ents, out)
    n_records = seen["records"]
    n_entities = back.select("entity_id").distinct().count()
    return {
        "mode": "resolve",
        "records": n_records,
        "entities": n_entities,
        "merged": n_records - n_entities,
        "out": out,
    }


def cmd_compact(spark, args) -> dict:
    """Small-files compaction (io.compact_parquet): rewrite a parquet
    directory into target-size files, optionally range-clustered on
    sort columns; atomic swap."""
    from etl_guiacores_spark import io as gio

    def n_files() -> int:
        return sum(
            1 for name, is_dir in gio._list_children(spark, args.input)
            if not is_dir and name.endswith(".parquet")
        )

    sort_cols = [c for c in (args.sort_cols or "").split(",") if c]
    before = n_files()
    n = gio.compact_parquet(
        spark, args.input, args.target_records, sort_cols=sort_cols or None
    )
    after = n_files()
    return {
        "mode": "compact",
        "rows": n,
        "files_before": before,
        "files_after": after,
        "sorted_on": sort_cols,
    }


def cmd_diff(spark, args) -> dict:
    """Snapshot CDC: diff two parquet snapshots of the same entity set
    into added/removed/changed rows (operators/scd.snapshot_diff);
    write the delta and print per-class counts."""
    from etl_guiacores_spark.operators.scd import snapshot_diff

    keys = [c for c in args.keys.split(",") if c]
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    if args.compare_cols:
        cols = [c for c in args.compare_cols.split(",") if c]
    else:
        cols = [c for c in new.columns if c not in keys and c in old.columns]
    delta = snapshot_diff(old, new, keys, cols)
    if args.delta_out:
        delta.write.mode("overwrite").parquet(args.delta_out)
        # count from the written artifact: one job, not two
        delta = spark.read.parquet(args.delta_out)
    counts = {r["change_type"]: r["n"] for r in
              delta.groupBy("change_type").agg(F.count("*").alias("n")).collect()}
    return {
        "mode": "diff",
        "keys": keys,
        "compared": cols,
        "added": counts.get("added", 0),
        "removed": counts.get("removed", 0),
        "changed": counts.get("changed", 0),
        "delta_out": args.delta_out,
    }


def cmd_search(spark, args) -> dict:
    """BM25 lexical search over a documents parquet
    (operators/retrieval.bm25_topk): prints the top-k ids with
    integer-ppm scores."""
    from etl_guiacores_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(args.input).filter(
        F.length(F.trim(args.text_col)) > 0
    )
    terms = [t for t in args.terms.split(",") if t]
    top = bm25_topk(
        docs, terms, k=args.k, id_col=args.id_col, text_col=args.text_col
    ).collect()
    return {
        "mode": "search",
        "terms": terms,
        "k": args.k,
        "hits": [
            {"id": r[args.id_col], "score_ppm": r["score_ppm"],
             "n_hit_terms": r["n_hit_terms"]}
            for r in top
        ],
    }


def cmd_clean(spark, args) -> dict:
    """reference: src/tools/clean_data.py:59-150 — consolidate run CSVs,
    deep-clean, dedupe, export."""
    from etl_guiacores_spark import io as gio
    from etl_guiacores_spark.plans import run_batch_pipeline

    from etl_guiacores_spark.functions.text import from_na

    raw = gio.read_processed_csvs(spark, args.input)
    # decode the export sentinel on ingest: gold CSVs render missing
    # data as 'N/A' (to_na); without from_na a missing id would pass
    # quarantine as the literal key 'N/A' and dedupe would collapse
    # every missing-id record into one arbitrary survivor
    raw = raw.select(*[from_na(F.col(c)).alias(c) for c in raw.columns])
    return run_batch_pipeline(raw, args.out, progress_callback=_progress_cb(args))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="etl_guiacores_spark")
    p.add_argument("--out", default="data/out", help="pipeline output root")
    p.add_argument("--progress", action="store_true",
                   help="emit one JSON progress line per stage on stderr")
    p.add_argument("--serve-port", type=int, default=None,
                   help="serve a live HTML/JSON progress board on this "
                   "port for the duration of the run (0 = pick a free "
                   "port; URL printed to stderr)")
    p.add_argument("--transport", choices=["fake", "synthetic", "requests"],
                   default="fake")
    p.add_argument("--retries", type=int, default=3)
    p.add_argument("--partitions", type=int, default=None)
    sub = p.add_subparsers(dest="mode", required=True)

    b = sub.add_parser("bulk")
    b.add_argument("--start-id", type=int, default=1)
    b.add_argument("--end-id", type=int, default=100)

    m = sub.add_parser("manual")
    g = m.add_mutually_exclusive_group(required=True)
    g.add_argument("--url")
    g.add_argument("--file")

    s = sub.add_parser("sequential")
    s.add_argument("--rubros", default="")
    s.add_argument("--localidades", default="")
    s.add_argument("--pages", type=int, default=2)
    s.add_argument("--resume-from", default=None)
    s.add_argument("--listing-factory", default=None,
                   help="dotted path module:attr to a real listing "
                   "fetcher (rubro, localidad, page, page_size) -> "
                   "[(id, url)]; default: offline synthetic directory")

    c = sub.add_parser("clean")
    c.add_argument("--input", required=True)

    k = sub.add_parser("corpus")
    k.add_argument("--input", required=True, help="documents parquet path")
    k.add_argument("--min-quality", type=float, default=0.5)
    k.add_argument("--jaccard", type=float, default=0.8)
    k.add_argument("--cluster-exact", action="store_true")
    k.add_argument(
        "--portable-hashes",
        action="store_true",
        help="md5 signature family (engine-portable, ~3x slower) instead "
        "of the native xxhash64 default",
    )
    k.add_argument("--chunk-tokens", type=int, default=64)
    k.add_argument(
        "--strip-spans",
        action="store_true",
        help="also strip maximal repeated token spans (Lee-et-al "
        "substring dedup) from near-dup survivors before chunking; "
        "token conservation asserted on the written artifact",
    )
    k.add_argument("--span-n", type=int, default=10,
                   help="repeated-span n-gram width (with --strip-spans)")
    k.add_argument("--benchmark", default=None,
                   help="benchmark/eval parquet (text column): drop docs "
                   "sharing word 3-grams with it (Bloom prefilter + "
                   "exact verify) before near-dup removal")
    k.add_argument("--decontam-spans", action="store_true",
                   help="with --benchmark: also EXCISE maximal token "
                   "spans quoting the benchmark verbatim from "
                   "surviving docs (span-level decontamination)")
    k.add_argument("--decontam-span-n", type=int, default=8,
                   help="quoted-span n-gram width (with "
                   "--decontam-spans)")
    k.add_argument("--gopher-gate", action="store_true",
                   help="apply the Gopher document quality rules as a "
                   "second gate AFTER span rewriting (gating must see "
                   "final text)")
    k.add_argument("--gopher-min-tokens", type=int, default=20)
    k.add_argument("--gopher-max-tokens", type=int, default=80)
    k.add_argument("--mixture-total", type=int, default=None,
                   help="downsample survivors to EXACTLY this many "
                   "docs, source shares preserved (largest-remainder "
                   "apportionment over --mixture-strata)")
    k.add_argument("--mixture-strata", default="source",
                   help="comma-separated strata columns for "
                   "--mixture-total (default: source)")
    k.add_argument("--write-shards", action="store_true",
                   help="last mile: pack final survivors into "
                   "fixed-budget sequences and land size-bounded "
                   "shards + an atomically-committed manifest under "
                   "OUT/shards, with chunk-count and token "
                   "conservation asserted against the chunks stage")
    k.add_argument("--budget-tokens", type=int, default=512,
                   help="packed sequence token budget (with "
                   "--write-shards)")
    k.add_argument("--sequences-per-shard", type=int, default=10_000)
    k.add_argument("--prechunk-tokens", type=int, default=None,
                   help="land the pre-chunked bronze layout (chunks of "
                   "N >= 3 tokens) once at ingest and feed every heavy "
                   "text stage from its chunk rows: per-task work "
                   "bounded by N tokens instead of the document "
                   "length, bit-identical outputs; requires unique "
                   "non-null doc_id")
    k.add_argument("--resume", action="store_true",
                   help="skip stages whose handoff is already landed "
                   "in OUT (config-fingerprint guarded; a changed "
                   "config refuses loudly)")

    r = sub.add_parser("resolve")
    r.add_argument("--input", required=True, help="records parquet path")
    r.add_argument("--id-col", default="doc_id")
    r.add_argument("--name-col", default="text")
    r.add_argument("--max-dist", type=int, default=5)
    r.add_argument("--method", choices=["block", "qgram"], default="block",
                   help="pair generation: 'block' (cheap, blocking-key "
                   "recall) or 'qgram' (lossless count-filter join)")

    sh = sub.add_parser("shards")
    sh.add_argument("--input", required=True, help="documents parquet path")
    sh.add_argument("--budget-tokens", type=int, default=512)
    sh.add_argument("--chunk-tokens", type=int, default=64)
    sh.add_argument("--sequences-per-shard", type=int, default=10_000)
    sh.add_argument("--append", action="store_true",
                    help="append to an existing shard set (continues "
                    "global_seq/token offsets from the manifest tail; "
                    "never rewrites landed shard files)")

    se = sub.add_parser("search")
    se.add_argument("--input", required=True, help="documents parquet path")
    se.add_argument("--terms", required=True, help="comma-separated query terms")
    se.add_argument("--k", type=int, default=10)
    se.add_argument("--id-col", default="doc_id")
    se.add_argument("--text-col", default="text")

    di = sub.add_parser("diff")
    di.add_argument("--old", required=True, help="old snapshot parquet path")
    di.add_argument("--new", required=True, help="new snapshot parquet path")
    di.add_argument("--keys", required=True, help="comma-separated key columns")
    di.add_argument("--compare-cols", default="",
                    help="columns to compare (default: shared non-key columns)")
    di.add_argument("--delta-out", default=None,
                    help="write the added/removed/changed delta here")

    co = sub.add_parser("compact")
    co.add_argument("--input", required=True, help="parquet directory to compact in place")
    co.add_argument("--target-records", type=int, required=True)
    co.add_argument("--sort-cols", default="",
                    help="comma-separated columns to range-cluster on")

    return p


def main(argv: list[str] | None = None, spark=None) -> dict:
    args = build_parser().parse_args(argv)
    if spark is None:
        from etl_guiacores_spark.session import get_spark

        spark = get_spark(app_name=f"etl-guiacores-{args.mode}")
        spark.sparkContext.setLogLevel("ERROR")
    server = None
    if getattr(args, "serve_port", None) is not None:
        from etl_guiacores_spark.ui import ProgressBoard, start_server

        board = ProgressBoard()
        args._progress_board = board
        server = start_server(board, port=args.serve_port)
        print(
            f"progress board: http://127.0.0.1:{server.server_address[1]}/",
            file=sys.stderr,
        )
    handler = {
        "bulk": cmd_bulk,
        "manual": cmd_manual,
        "sequential": cmd_sequential,
        "clean": cmd_clean,
        "corpus": cmd_corpus,
        "resolve": cmd_resolve,
        "compact": cmd_compact,
        "diff": cmd_diff,
        "search": cmd_search,
        "shards": cmd_shards,
    }[args.mode]
    try:
        result = handler(spark, args)
    finally:
        if server is not None:
            server.shutdown()
            server.server_close()  # release the bound socket, not just the loop
    print(json.dumps(result, default=str))
    return result


if __name__ == "__main__":
    main()
