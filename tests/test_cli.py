"""CLI modes end-to-end (offline fake transport)."""

from __future__ import annotations

from etl_guiacores_spark.cli import main


def test_bulk_mode(spark, tmp_path):
    res = main(
        ["--out", str(tmp_path / "o"), "bulk", "--start-id", "1", "--end-id", "20"],
        spark=spark,
    )
    assert res["status"] == "success"
    assert res["records_processed"] == 20
    silver = spark.read.parquet(str(tmp_path / "o" / "silver"))
    row = silver.filter("id_negocio = '7'").collect()[0]
    assert row["nombre"] == "Negocio 7"
    assert row["localidad"] == "(8300) Neuquen"


def test_bulk_mode_counts_ride_the_writes(spark, tmp_path, monkeypatch):
    """Every count a bulk run reports is observed on the write that
    lands its stage: the run never starts a count job of its own."""
    frame = type(spark.range(0))  # the session's concrete DataFrame class

    def no_count_job(self, *args, **kwargs):
        raise AssertionError("a bulk run started a count job")

    monkeypatch.setattr(frame, "count", no_count_job)
    monkeypatch.setattr(frame, "isEmpty", no_count_job)
    res = main(
        ["--out", str(tmp_path / "o"), "--transport", "fake", "bulk",
         "--start-id", "1", "--end-id", "20"],
        spark=spark,
    )
    monkeypatch.undo()
    assert res["status"] == "success"
    assert res["records_processed"] == 20
    assert res["metrics"]["fetch_failed"] == 0


def test_bulk_mode_synthetic_transport(spark, tmp_path):
    """--transport synthetic runs the full-field invertible site
    (q201's source): all X1-X10 fields populated per the closed
    forms, id 97's deterministic outage landing in fetch_quarantine
    with its error — the richest offline end-to-end."""
    res = main(
        ["--out", str(tmp_path / "s"), "--transport", "synthetic",
         "bulk", "--start-id", "95", "--end-id", "100"],
        spark=spark,
    )
    assert res["status"] == "success"
    assert res["metrics"]["fetch_failed"] == 1
    silver = spark.read.parquet(str(tmp_path / "s" / "silver"))
    row = silver.filter("id_negocio = '95'").collect()[0]
    assert row["nombre"] == "Negocio 95"
    assert row["facebook"] == "https://facebook.com/negocio95"
    q = spark.read.parquet(str(tmp_path / "s" / "fetch_quarantine")).collect()
    assert [r["id_negocio"] for r in q] == ["97"]
    assert "synthetic outage id=97" in q[0]["fetch_error"]


def test_sequential_mode_with_resume(spark, tmp_path):
    out1 = str(tmp_path / "r1")
    res1 = main(
        ["--out", out1, "sequential", "--rubros", "panaderia", "--localidades",
         "neuquen", "--pages", "2"],
        spark=spark,
    )
    assert res1["status"] == "success" and res1["records_processed"] > 0

    # export processed ids as the resume CSV (S8 shape)
    processed_csv = str(tmp_path / "processed")
    spark.read.parquet(f"{out1}/silver").select("id_negocio").write.option(
        "header", True
    ).csv(processed_csv)

    # resumed run over the same combos discovers nothing new
    res2 = main(
        ["--out", str(tmp_path / "r2"), "sequential", "--rubros", "panaderia",
         "--localidades", "neuquen", "--pages", "2", "--resume-from", processed_csv],
        spark=spark,
    )
    assert res2["records_processed"] == 0


def test_clean_mode(spark, tmp_path):
    raw = spark.createDataFrame(
        [("1", "  Dos   Espacios ", "Av. X 1 - (8300) Neuquen"),
         ("1", "dup", "y"), ("2", "B", "z")],
        ["id_negocio", "nombre", "direccion"],
    )
    raw.write.option("header", True).csv(str(tmp_path / "runs" / "a"))
    res = main(
        ["--out", str(tmp_path / "clean"), "clean", "--input", str(tmp_path / "runs" / "*")],
        spark=spark,
    )
    assert res["records_processed"] == 2  # deduped by id
    silver = {r["id_negocio"]: r for r in
              spark.read.parquet(str(tmp_path / "clean" / "silver")).collect()}
    assert silver["1"]["localidad"] == "(8300) Neuquen" or silver["1"]["nombre"] in ("Dos Espacios", "dup")


def test_progress_flag_emits_stage_lines(spark, tmp_path, capsys):
    import json as _json

    res = main(
        ["--out", str(tmp_path / "p"), "--progress", "bulk",
         "--start-id", "1", "--end-id", "10"],
        spark=spark,
    )
    assert res["status"] == "success"
    err = capsys.readouterr().err
    def stage_of(line):
        try:
            return _json.loads(line).get("stage")
        except ValueError:
            return None

    stages = [s for s in map(stage_of, err.splitlines()) if s]
    assert stages == ["bronze", "silver", "gold", "done"]

    # the payload must never mask the positional stage (the dict-
    # literal spread hazard ui.py guards against): a payload carrying
    # its own 'stage' key still reports the pipeline stage
    from etl_guiacores_spark.cli import _progress_cb

    class A:
        progress = True

    emit = _progress_cb(A())
    emit("bronze", {"stage": "SHOULD_NOT_WIN", "n": 1})
    masked = capsys.readouterr().err.strip().splitlines()[-1]
    assert _json.loads(masked)["stage"] == "bronze"


def test_corpus_mode(spark, tmp_path):
    res = main(
        ["--out", str(tmp_path / "c"), "corpus",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--jaccard", "0.6"],
        spark=spark,
    )
    assert res["raw_docs"] > 0
    assert 0 < res["after_near_dup"] <= res["after_exact_dedup"]
    clean = spark.read.parquet(str(tmp_path / "c" / "clean"))
    assert clean.count() == res["after_near_dup"]


def test_corpus_mode_golden_run_flags(spark, tmp_path):
    """The CLI drives the whole golden chain: gopher gate, exact
    mixture quota over source, and the packed-shard last mile with
    its manifest, all from flags."""
    res = main(
        ["--out", str(tmp_path / "g"), "corpus",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--jaccard", "0.6", "--min-quality", "0.0",
         "--gopher-gate", "--gopher-min-tokens", "10",
         "--gopher-max-tokens", "120",
         "--mixture-total", "40",
         "--write-shards", "--budget-tokens", "64",
         "--chunk-tokens", "16",
         "--sequences-per-shard", "50"],
        spark=spark,
    )
    assert res["after_mixture_quota"] == min(40, res["after_gopher_gate"])
    assert res["shards"]["n_sequences"] > 0
    manifest = spark.read.parquet(str(tmp_path / "g" / "shards" / "manifest"))
    assert manifest.count() == res["shards"]["n_shards"]
    sampled = spark.read.parquet(str(tmp_path / "g" / "sampled"))
    assert sampled.count() == res["after_mixture_quota"]
    assert "source" in sampled.columns  # strata carried through the CLI


def test_manual_file_mode_parses_and_keys_local_html(spark, tmp_path):
    """manual --file: ids come from the FILENAME (no 'id=' in a file
    path), so local-HTML rows must flow to silver instead of being
    quarantined wholesale — the mode exists to fix reference defect #3."""
    pages = tmp_path / "pages"
    pages.mkdir()
    (pages / "negocio_41.html").write_text(
        '<a class="search-result-name"><h1>Kiosco <b>Central</b></h1></a>'
        '<a href="tel:+2994998877"><i class="fa"></i>299-499-8877</a>'
    )
    from etl_guiacores_spark.cli import main

    result = main(
        ["--out", str(tmp_path / "out"), "manual", "--file", str(pages)],
        spark=spark,
    )
    assert result["status"] == "success"
    assert result["metrics"]["quarantined"] == 0
    silver = spark.read.parquet(str(tmp_path / "out" / "silver"))
    row = silver.collect()[0]
    assert row["id_negocio"] == "41"
    assert row["nombre"] == "Kiosco Central"  # nested <b> kept


def test_clean_mode_decodes_na_sentinel(spark, tmp_path):
    """Gold CSVs render missing data as 'N/A'; re-ingesting them must
    decode the sentinel so missing-id rows QUARANTINE instead of
    passing as one literal key 'N/A' that dedupe collapses to a single
    arbitrary survivor."""
    import csv

    src = tmp_path / "runs" / "guiaCores_leads_x"
    src.mkdir(parents=True)
    with open(src / "part.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["id_negocio", "nombre", "email"])
        w.writerow(["N/A", "Sin Id Uno", "a@b.ar"])
        w.writerow(["N/A", "Sin Id Dos", "c@d.ar"])
        w.writerow(["7", "Con Id", "N/A"])
    res = main(
        ["--out", str(tmp_path / "o"), "clean", "--input", str(tmp_path / "runs" / "*")],
        spark=spark,
    )
    assert res["records_processed"] == 1  # only the keyed row
    assert res["metrics"]["quarantined"] == 2  # BOTH missing-id rows kept
    q = spark.read.parquet(str(tmp_path / "o" / "quarantine"))
    assert q.count() == 2


def test_bulk_fetch_failures_are_quarantined_data(spark, tmp_path, monkeypatch):
    """Failed fetches land in fetch_quarantine with their error and a
    metric — not silently dropped by the ok-filter."""
    import etl_guiacores_spark.cli as cli

    def flaky_factory():
        def fetch(url: str) -> str:
            if url.endswith("3") or url.endswith("4"):
                raise IOError("boom")
            return cli._transport_factory("fake")()(url)

        return fetch

    monkeypatch.setattr(cli, "_transport_factory", lambda kind: flaky_factory)
    res = cli.main(
        ["--out", str(tmp_path / "f"), "--retries", "2", "bulk",
         "--start-id", "1", "--end-id", "6"],
        spark=spark,
    )
    assert res["metrics"]["fetch_failed"] == 2
    q = spark.read.parquet(str(tmp_path / "f" / "fetch_quarantine"))
    rows = {r["url"][-1]: r["fetch_error"] for r in q.collect()}
    assert set(rows) == {"3", "4"}
    assert all("boom" in e for e in rows.values())
    assert res["records_processed"] == 4


def test_resolve_mode(spark, tmp_path):
    import etl_guiacores_spark.cli as cli
    from pyspark.sql import functions as F  # noqa: F401

    src = str(tmp_path / "records")
    spark.createDataFrame(
        [
            (1, "panaderia san juan"),
            (2, "panaderia san juan srl"),
            (3, "ferreteria lopez"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    res = cli.main(
        ["--out", str(tmp_path / "r"), "resolve", "--input", src, "--max-dist", "5"],
        spark=spark,
    )
    assert res["records"] == 3 and res["entities"] == 2 and res["merged"] == 1
    ents = {r["doc_id"]: r["entity_id"]
            for r in spark.read.parquet(res["out"]).collect()}
    assert ents[1] == ents[2] == 1 and ents[3] == 3


def test_compact_mode(spark, tmp_path):
    import etl_guiacores_spark.cli as cli

    src = str(tmp_path / "frag")
    for i in range(10):
        spark.range(i * 5, i * 5 + 5).coalesce(1).write.mode("append").parquet(src)
    res = cli.main(
        ["compact", "--input", src, "--target-records", "100"],
        spark=spark,
    )
    assert res["rows"] == 50
    assert res["files_after"] < res["files_before"]
    assert spark.read.parquet(src).count() == 50


def test_shards_mode(spark, tmp_path):
    import etl_guiacores_spark.cli as cli

    res = cli.main(
        ["--out", str(tmp_path / "sh"), "shards",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--budget-tokens", "128", "--chunk-tokens", "32",
         "--sequences-per-shard", "100"],
        spark=spark,
    )
    assert res["mode"] == "shards" and res["n_sequences"] > 0
    assert 0 < res["fill_ratio"] <= 1.0
    seqs = spark.read.parquet(str(tmp_path / "sh" / "shards"))
    assert seqs.count() == res["n_sequences"]
    from pyspark.sql import functions as F
    assert seqs.filter(F.col("n_tokens") > 128).count() == 0

    # a second batch on the same --out continues the stream
    app = cli.main(
        ["--out", str(tmp_path / "sh"), "shards",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--budget-tokens", "128", "--chunk-tokens", "32",
         "--sequences-per-shard", "100", "--append"],
        spark=spark,
    )
    assert app["mode"] == "shards_append"
    assert app["appended_after_seq"] == res["n_sequences"]
    seqs = spark.read.parquet(str(tmp_path / "sh" / "shards"))
    assert sorted(r["global_seq"] for r in seqs.collect()) == list(
        range(res["n_sequences"] + app["n_sequences"])
    )
    manifest = spark.read.parquet(str(tmp_path / "sh" / "manifest"))
    assert manifest.count() == res["n_shards"] + app["n_shards"]


def test_diff_mode(spark, tmp_path):
    import etl_guiacores_spark.cli as cli

    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    delta_p = str(tmp_path / "delta")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    ).write.parquet(old_p)
    spark.createDataFrame(
        [(2, "b", 21), (3, "c", 30), (4, "d", 40)], "k long, s string, v long"
    ).write.parquet(new_p)
    res = cli.main(
        ["diff", "--old", old_p, "--new", new_p, "--keys", "k",
         "--delta-out", delta_p],
        spark=spark,
    )
    assert (res["added"], res["removed"], res["changed"]) == (1, 1, 1)
    assert res["compared"] == ["s", "v"]
    written = {
        (r["k"], r["change_type"])
        for r in spark.read.parquet(delta_p).collect()
    }
    assert written == {(1, "removed"), (2, "changed"), (4, "added")}


def test_search_mode(spark):
    import etl_guiacores_spark.cli as cli

    res = cli.main(
        ["search", "--input", "/root/testdata/sf0.001/documents.parquet",
         "--terms", "spark,vector", "--k", "5"],
        spark=spark,
    )
    assert res["mode"] == "search" and len(res["hits"]) == 5
    scores = [h["score_ppm"] for h in res["hits"]]
    assert scores == sorted(scores, reverse=True)
    assert all(h["n_hit_terms"] >= 1 for h in res["hits"])


def test_corpus_mode_salted_prechunk(spark, tmp_path):
    """--prechunk-tokens reaches the pipeline: the bronze
    artifact lands fenced and the metrics envelope equals the plain
    run's (outputs are bit-identical by the operator parity tests;
    this pins the CLI wiring)."""
    base = ["corpus",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--jaccard", "0.6"]
    plain = main(["--out", str(tmp_path / "p")] + base, spark=spark)
    salted = main(
        ["--out", str(tmp_path / "s")] + base
        + ["--prechunk-tokens", "8"],
        spark=spark,
    )
    assert plain == salted
    assert (tmp_path / "s" / "bronze_chunks" / "_SUCCESS").exists()
    assert not (tmp_path / "p" / "bronze_chunks").exists()


def test_corpus_mode_strip_spans(spark, tmp_path):
    res = main(
        ["--out", str(tmp_path / "cs"), "corpus",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--jaccard", "0.6", "--strip-spans", "--span-n", "10"],
        spark=spark,
    )
    assert res["span_docs"] == res["after_near_dup"]
    assert res["span_total_tokens"] == (
        res["span_dup_tokens"] + res["span_retained_tokens"]
    )
    assert (tmp_path / "cs" / "span_stripped").exists()
    assert (tmp_path / "cs" / "span_accounting").exists()
