"""Unit tests for dedupe/join operators (SURVEY §2.4, §2.5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_guiacores_spark.operators import (
    dedupe_exact,
    dedupe_keyed,
    dedupe_keyed_first,
    merge_upsert,
    resume_anti_join,
    split_duplicates,
)


def make_worklist(spark):
    return spark.createDataFrame(
        [
            ("1", "u1a", 1),
            ("1", "u1b", 2),
            ("2", "u2", 3),
            ("3", "u3", 4),
            ("3", "u3", 5),
        ],
        ["id_negocio", "url", "discovery_order"],
    )


class TestDedupe:
    def test_exact(self, spark):
        df = make_worklist(spark)
        assert dedupe_exact(df.select("id_negocio", "url")).count() == 4

    def test_keyed(self, spark):
        assert dedupe_keyed(make_worklist(spark), ["id_negocio"]).count() == 3

    def test_keyed_first_keeps_discovery_order(self, spark):
        got = dedupe_keyed_first(make_worklist(spark), ["id_negocio"], ["discovery_order"])
        rows = {r["id_negocio"]: r["url"] for r in got.collect()}
        assert rows == {"1": "u1a", "2": "u2", "3": "u3"}

    def test_split_duplicates(self, spark):
        unique, dups = split_duplicates(
            make_worklist(spark), ["id_negocio"], ["discovery_order"]
        )
        assert unique.count() == 3
        assert dups.count() == 2


class TestResumeAntiJoin:
    def test_skips_processed(self, spark):
        worklist = make_worklist(spark)
        processed = spark.createDataFrame([("1",), ("9",)], ["id_negocio"])
        got = resume_anti_join(worklist, processed)
        assert sorted({r["id_negocio"] for r in got.collect()}) == ["2", "3"]

    def test_no_broadcast_hint_by_default(self, spark):
        # the processed set is unbounded on a long-lived crawl — the
        # default plan must leave the strategy to AQE, not pin a
        # broadcast that OOMs at scale
        worklist = make_worklist(spark)
        processed = spark.createDataFrame([("1",)], ["id_negocio"])
        default_plan = (
            resume_anti_join(worklist, processed)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "broadcast" not in default_plan.lower()
        hinted_plan = (
            resume_anti_join(worklist, processed, assume_small=True)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "broadcast" in hinted_plan.lower()
        # semantics identical either way
        got = resume_anti_join(worklist, processed, assume_small=True)
        assert sorted({r["id_negocio"] for r in got.collect()}) == ["2", "3"]


class TestMergeUpsert:
    def test_upsert_semantics(self, spark):
        # reference: manual_scraper.py:270-290 — ON CONFLICT (key) DO UPDATE,
        # created_at preserved, updated_at refreshed
        t0 = "2024-01-01 00:00:00"
        target = spark.createDataFrame(
            [("a", "old-a", t0, t0), ("b", "old-b", t0, t0)],
            ["contador_id", "nombre", "created_at", "updated_at"],
        )
        source = spark.createDataFrame(
            [("b", "new-b"), ("c", "new-c")], ["contador_id", "nombre"]
        )
        now = F.lit("2025-06-01 00:00:00")
        got = {
            r["contador_id"]: r
            for r in merge_upsert(
                target,
                source,
                "contador_id",
                created_at_col="created_at",
                updated_at_col="updated_at",
                now=now,
            ).collect()
        }
        assert len(got) == 3
        assert got["a"]["nombre"] == "old-a" and got["a"]["updated_at"] == t0
        assert got["b"]["nombre"] == "new-b"
        assert got["b"]["created_at"] == t0
        assert got["b"]["updated_at"] == "2025-06-01 00:00:00"
        assert got["c"]["nombre"] == "new-c"
        assert got["c"]["created_at"] == "2025-06-01 00:00:00"


class TestBlockedDomains:
    def test_suffix_matching(self, spark):
        from etl_guiacores_spark.operators.joins import filter_blocked_domains

        df = spark.createDataFrame(
            [
                ("1", "https://www.guiacores.com.ar/x"),   # blocked via last-3
                ("2", "https://sub.spam.net/y"),            # blocked via last-2
                ("3", "https://example.org/ok"),            # kept
                ("4", "https://spam.net.shop.com/z"),       # NOT blocked (suffix only)
                ("5", None),                                # kept (no host)
            ],
            ["id", "url"],
        )
        blocked = spark.createDataFrame(
            [("guiacores.com.ar",), ("spam.net",)], ["domain"]
        )
        kept = sorted(
            r["id"] for r in filter_blocked_domains(df, blocked, "url").collect()
        )
        assert kept == ["3", "4", "5"]

    def test_null_columns_still_blocked(self, spark):
        """A blocked-domain row carrying a NULL in another column must
        still be removed (regression: all-columns anti-join used
        null-unsafe equality, so NULL rows never matched themselves)."""
        from etl_guiacores_spark.operators.joins import filter_blocked_domains

        df = spark.createDataFrame(
            [
                ("1", "https://spam.net/a", None),      # blocked, NULL extra col
                ("2", "https://example.org/b", None),   # kept, NULL extra col
                ("3", "https://spam.net/c", "note"),    # blocked
            ],
            ["id", "url", "note"],
        )
        blocked = spark.createDataFrame([("spam.net",)], ["domain"])
        kept = sorted(
            r["id"] for r in filter_blocked_domains(df, blocked, "url").collect()
        )
        assert kept == ["2"]

    def test_keyed_removal_matches_and_joins_on_key_only(self, spark):
        """With key_col set, removal must (a) agree with the keyless
        path and (b) anti-join on the key alone — at scale the keyed
        path shuffles keys, never document text."""
        from etl_guiacores_spark.operators.joins import filter_blocked_domains

        df = spark.createDataFrame(
            [
                ("1", "https://www.spam.net/a", "text-1"),
                ("2", "https://example.org/b", None),
                ("3", "https://sub.spam.net/c", "text-3"),
                ("4", None, "text-4"),
            ],
            ["doc_id", "url", "text"],
        )
        blocked = spark.createDataFrame([("spam.net",)], ["domain"])
        keyed = filter_blocked_domains(df, blocked, "url", key_col="doc_id")
        kept = sorted(r["doc_id"] for r in keyed.collect())
        assert kept == ["2", "4"]
        keyless = sorted(
            r["doc_id"] for r in filter_blocked_domains(df, blocked, "url").collect()
        )
        assert kept == keyless
        plan = keyed._jdf.queryExecution().optimizedPlan().toString()
        anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti_lines, plan
        # the NON-NULL-keyed branch (all rows when keys are populated)
        # must anti-join on the key alone; the null-safe branch for
        # NULL-keyed rows is allowed its all-columns condition
        assert any(
            "doc_id" in ln and "url" not in ln and "text" not in ln
            for ln in anti_lines
        ), plan

    def test_null_keyed_rows_cannot_bypass_blocklist(self, spark):
        """Regression (round-4 advice): a blocked row with a NULL key
        survived the keyed path because the equi-anti-join never
        matches NULL=NULL. NULL-keyed rows must route through the
        null-safe row path; duplicate keys removing together is the
        documented by-key contract."""
        from etl_guiacores_spark.operators.joins import filter_blocked_domains

        df = spark.createDataFrame(
            [
                (None, "https://spam.net/a", "t1"),   # blocked, NULL key
                (None, "https://ok.org/b", "t2"),     # kept, NULL key
                ("2", "https://spam.net/c", "t3"),    # blocked
                ("3", "https://ok.org/d", "t4"),      # kept
                ("4", "https://spam.net/e", "t5"),    # blocked...
                ("4", "https://ok.org/f", "t6"),      # ...and key-mate removed too
            ],
            ["doc_id", "url", "text"],
        )
        blocked = spark.createDataFrame([("spam.net",)], ["domain"])
        kept = sorted(
            r["url"]
            for r in filter_blocked_domains(df, blocked, "url", key_col="doc_id").collect()
        )
        assert kept == ["https://ok.org/b", "https://ok.org/d"]


class TestMergeUpsertPartialColumns:
    def test_insert_takes_source_values_outside_update_cols(self, spark):
        target = spark.createDataFrame(
            [("a", "old-name", "old-city")], ["k", "nombre", "ciudad"]
        )
        source = spark.createDataFrame(
            [("a", "new-name", "new-city"), ("b", "b-name", "b-city")],
            ["k", "nombre", "ciudad"],
        )
        got = {
            r["k"]: r
            for r in merge_upsert(target, source, "k", update_cols=["nombre"]).collect()
        }
        # matched row: only nombre updated, ciudad preserved
        assert got["a"]["nombre"] == "new-name" and got["a"]["ciudad"] == "old-city"
        # inserted row: ALL source values, not NULL outside update_cols
        assert got["b"]["nombre"] == "b-name" and got["b"]["ciudad"] == "b-city"


class TestRepeatedSpans:
    """Maximal repeated spans (Lee et al. substring dedup) + strip."""

    @staticmethod
    def _corpus(spark):
        # docs 1 and 2 share the passage "p q r s t u v w" (8 tokens)
        # at DIFFERENT offsets (1 vs 3) — a copy that straddles any
        # fixed tiling; doc 3 is unique; doc 4 repeats doc 1 verbatim.
        d1 = "a p q r s t u v w b c d"
        d2 = "x y z p q r s t u v w k"
        d3 = "one two three four five six seven eight nine"
        d4 = d1
        return spark.createDataFrame(
            [(1, d1), (2, d2), (3, d3), (4, d4)], ["doc_id", "text"]
        )

    def test_maximal_spans_at_any_offset(self, spark):
        from etl_guiacores_spark.operators.dedupe import repeated_spans

        got = {
            (r["doc_id"], r["span_start"], r["span_end"]): (
                r["span_tokens"],
                r["n_grams"],
            )
            for r in repeated_spans(
                self._corpus(spark), n=4, min_docs=2
            ).collect()
        }
        # docs 1/4 duplicate fully: one maximal span covering all 12
        # tokens (9 four-gram hits merged). doc 2 shares only the
        # 8-token passage at offset 3: [3, 11) from 5 hits.
        assert got[(1, 0, 12)] == (12, 9)
        assert got[(4, 0, 12)] == (12, 9)
        assert got[(2, 3, 11)] == (8, 5)
        assert not [k for k in got if k[0] == 3]
        assert len(got) == 3  # exactly one maximal span per dup doc

    def test_disjoint_islands_stay_separate(self, spark):
        from etl_guiacores_spark.operators.dedupe import repeated_spans

        df = spark.createDataFrame(
            [
                (1, "s1 s2 s3 gap1 gap2 gap3 gap4 t1 t2 t3"),
                (2, "s1 s2 s3 mid1 mid2 mid3 mid4 t1 t2 t3"),
            ],
            ["doc_id", "text"],
        )
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in repeated_spans(df, n=3, min_docs=2).collect()
        )
        assert got == [(1, 0, 3), (1, 7, 10), (2, 0, 3), (2, 7, 10)]

    def test_strip_reconstruction(self, spark):
        import hashlib

        from etl_guiacores_spark.operators.dedupe import (
            strip_repeated_spans,
        )

        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["dup_tokens"],
                r["retained_tokens"],
                r["retained_md5"],
            )
            for r in strip_repeated_spans(
                self._corpus(spark), n=4, min_docs=2
            ).collect()
        }
        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
        # docs 1/4: everything stripped -> md5 of empty string
        assert got[1] == (12, 12, 0, md5(""))
        assert got[4] == (12, 12, 0, md5(""))
        # doc 2: tokens [3,11) stripped, survivors keep order
        assert got[2] == (12, 8, 4, md5("x y z k"))
        # doc 3 untouched
        assert got[3] == (
            9,
            0,
            9,
            md5("one two three four five six seven eight nine"),
        )

    def test_validation(self, spark):
        import pytest

        from etl_guiacores_spark.operators.dedupe import repeated_spans

        with pytest.raises(ValueError, match="min_docs"):
            repeated_spans(self._corpus(spark), n=4, min_docs=1)


# --- relational Count-Min audit ---------------------------------------------

def test_countmin_never_undercounts_and_flags(spark):
    from pyspark.sql import functions as F

    from etl_guiacores_spark.operators.sketches import countmin_audit

    rows = [(f"tok{i % 37}",) for i in range(500)] + [("hot",)] * 200
    counts = (
        spark.createDataFrame(rows, "tok string")
        .groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    )
    out = countmin_audit(counts, "tok", "n", depth=4, width=64, top_k=10)
    got = out.collect()
    assert len(got) == 10
    by_tok = {r["tok"]: r for r in got}
    assert "hot" in by_tok and by_tok["hot"]["n_exact"] == 200
    for r in got:
        assert r["n_est"] >= r["n_exact"]          # CMS never undercounts
        assert r["overcount"] == r["n_est"] - r["n_exact"]
    # a huge width leaves the top key collision-free -> exact estimate
    wide = countmin_audit(counts, "tok", "n", depth=4, width=65536, top_k=1)
    r = wide.collect()[0]
    assert r["n_est"] == r["n_exact"] and r["within_bound"]


def test_countmin_bad_params_raise(spark):
    import pytest
    from pyspark.sql import functions as F

    from etl_guiacores_spark.operators.sketches import countmin_audit

    counts = spark.createDataFrame([("a", 1)], "tok string, n long")
    with pytest.raises(ValueError):
        countmin_audit(counts, "tok", "n", depth=0)
    with pytest.raises(ValueError):
        countmin_audit(counts, "tok", "n", width=1)


# --- explicit relational HyperLogLog -------------------------------------------

def test_hll_audit_accuracy_and_duplicate_insensitivity(spark):
    from etl_guiacores_spark.operators.sketches import hll_audit

    rows = [("g", f"val{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = hll_audit(df, "g", "v").collect()[0]
    assert got["n_exact"] == 2000
    # m=64 -> typical relative error ~13%; generous 30% test bound
    assert abs(got["err_ppm"]) < 300_000
    assert got["n_empty"] == 0
    # registers are max-based: duplicates change nothing
    dup = hll_audit(df.union(df), "g", "v").collect()[0]
    assert dup["hll_est"] == got["hll_est"]


def test_hll_audit_small_range_reports_empty_registers(spark):
    from etl_guiacores_spark.operators.sketches import hll_audit

    rows = [("g", f"v{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = hll_audit(df, "g", "v").collect()[0]
    assert got["n_exact"] == 5
    assert got["n_empty"] >= 59  # the caller's signal to distrust est


def test_hll_audit_null_group_matches_q175_oracle(spark):
    # q175's oracle SQL, fed a frame with a NULL group, drops that
    # group in its final USING join; the Spark side must drop it too
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from etl_guiacores_spark.operators.sketches import hll_audit

    rows = [("a", f"t{i}") for i in range(40)] + [("b", "t1"), ("b", "t2")]
    rows += [(None, f"n{i}") for i in range(7)] + [("c", None)]
    df = spark.createDataFrame(rows, "source string, tok string")
    got = sorted(tuple(r) for r in hll_audit(df, "source", "tok").collect())

    oracle = entrymod.REGISTRY["q175_hll_audit"].oracle
    sql = "WITH v AS (SELECT source, tok FROM t),\n" + oracle[oracle.index("b AS (") :]
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["source", "tok"]))
    want = sorted(con.execute(sql).fetchall())

    assert [r[0] for r in got] == ["a", "b", "c"]
    assert got == want


# --- Kaplan-Meier survival ------------------------------------------------------

def test_kaplan_meier_textbook_example(spark):
    from etl_guiacores_spark.operators.temporal import kaplan_meier

    # classic small example: events at t=1 (1 of 5), t=3 (1 of 3);
    # censored at t=2 and t=3; survivor to t=4 censored
    rows = [
        (1, 1, True),    # event at 1     n=5 -> S=4/5
        (2, 2, False),   # censored at 2
        (3, 3, True),    # event at 3     n=3 -> S = 4/5 * 2/3
        (4, 3, False),   # censored at 3 (counted at risk at t=3)
        (5, 4, False),   # censored at 4
    ]
    df = spark.createDataFrame(rows, "id long, dur long, obs boolean")
    got = {r["duration"]: r for r in
           kaplan_meier(df, "dur", "obs").collect()}
    assert set(got) == {1, 3}  # steps at event times only
    assert got[1]["n_risk"] == 5 and got[1]["n_events"] == 1
    assert got[1]["surv_ppm"] == 800_000
    assert got[3]["n_risk"] == 3 and got[3]["n_events"] == 1
    # 800000 * trunc(2/3 * 1e6) // 1e6 = 800000 * 666666 // 1e6
    assert got[3]["surv_ppm"] == 800_000 * 666_666 // 1_000_000


def test_kaplan_meier_all_censored_is_empty_and_monotone(spark):
    from etl_guiacores_spark.operators.temporal import kaplan_meier

    allc = spark.createDataFrame(
        [(i, i, False) for i in range(1, 6)], "id long, dur long, obs boolean"
    )
    assert kaplan_meier(allc, "dur", "obs").count() == 0
    mixed = spark.createDataFrame(
        [(i, i % 4, i % 2 == 0) for i in range(1, 20)],
        "id long, dur long, obs boolean",
    )
    curve = sorted(
        (r["duration"], r["surv_ppm"])
        for r in kaplan_meier(mixed, "dur", "obs").collect()
    )
    assert all(a[1] >= b[1] for a, b in zip(curve, curve[1:]))  # non-increasing
