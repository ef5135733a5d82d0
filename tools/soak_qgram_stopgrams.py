"""Stop-gram escape-hatch soak: qgram_match_pairs' max_posting_freq
on a Zipf name distribution — the hot-gram case it exists for.

A real dirty-name corpus is Zipf: a head token ("restaurante el ...")
appears in a large fraction of names, so its q-gram postings have
frequency ~= head share x N and the posting self-join's candidate
volume sum_f C(f, 2) explodes quadratically in N. The cap drops
postings hotter than max_posting_freq BEFORE the join (bounding any
posting's contribution at C(cap, 2)) and relaxes the count bound by
each pair's maximum hidden shared count, so capping must never
reject a true match the join still found.

Two phases:

- EQUIVALENCE (20k names, hot share 30%): run capped AND uncapped;
  the pair sets must be IDENTICAL — every planted true pair shares
  plenty of cold (suffix) grams, so bounded recall loss does not
  engage and the relaxed count bound must not admit false pairs
  either (both verify through thresholded Levenshtein).
- VOLUME (150k names): uncapped is ~C(45k, 2) x |hot grams|
  candidate slots — deliberately NOT executed; its volume is
  computed analytically from the posting histogram. The capped run
  executes, must find 100% of planted pairs, and reports the
  dropped-posting count and the actual (analytic) kept volume vs
  the uncapped bound.

Usage: python tools/soak_qgram_stopgrams.py [--cap 500]
Prints one JSON line; exits non-zero on any failed invariant.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT = "restaurante el "
PLANT_OFF = 10_000_000


def _names(spark, n: int, hot_share_pct: int, plant_every: int):
    """Deterministic Zipf-ish names: ``hot_share_pct``% start with the
    HOT head token, suffixes are md5-derived (cold grams). Every
    ``plant_every``-th id also emits a planted near-dup (id+PLANT_OFF,
    one char substituted -> edit distance 1)."""
    from pyspark.sql import functions as F

    # suffix alphabet matters: a hex suffix has only 256 possible
    # bigrams, so at volume the "cold" suffix postings themselves
    # cross any reasonable cap and EVERY pair becomes all-hot (first
    # draft of this soak demonstrated exactly that: 243 true pairs
    # lost). base64 (64 chars -> 4096 bigrams) keeps suffix postings
    # under the cap while the head-token postings blow far past it —
    # the Zipf head/tail split the escape hatch is designed for.
    base = spark.range(n).select(
        F.col("id").cast("long").alias("id"),
        F.concat(
            F.when(
                F.pmod(F.col("id"), 100) < hot_share_pct, F.lit(HOT)
            ).otherwise(F.lit("")),
            F.substring(
                F.base64(F.unhex(F.md5(F.concat(F.lit("nm:"), F.col("id"))))),
                1,
                12,
            ),
        ).alias("name"),
    )
    planted = base.filter(F.pmod("id", plant_every) == 0).select(
        (F.col("id") + PLANT_OFF).alias("id"),
        # substitute the LAST char (always a cold suffix position)
        F.concat(
            F.expr("substring(name, 1, length(name) - 1)"), F.lit("#")
        ).alias("name"),
    )
    return base.unionByName(planted), planted.count()


def _posting_volume(spark, df, cap: int | None, q: int = 2):
    """Analytic candidate volume sum_posting C(f, 2) from the posting
    histogram (and the kept volume under ``cap``) — no join executed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = df.withColumn("__len", F.length("name"))
    idx = F.when(
        F.col("__len") >= q, F.sequence(F.lit(1), F.col("__len") - (q - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = t.select(
        "id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.substring(F.col("name"), i, q).alias("g"),
                    i.alias("p"),
                ),
            )
        ).alias("gp"),
    ).select("id", F.col("gp.g").alias("g"), F.col("gp.p").alias("p"))
    occ = grams.withColumn(
        "occ",
        F.row_number().over(Window.partitionBy("id", "g").orderBy("p")),
    )
    hist = occ.groupBy("g", "occ").agg(F.count("*").alias("f"))
    row = hist.agg(
        F.sum(F.expr("f * (f - 1) div 2")).alias("uncapped"),
        F.sum(
            F.when(F.col("f") <= (cap or 0), F.expr("f * (f - 1) div 2"))
            .otherwise(F.lit(0))
        ).alias("kept"),
        F.sum((F.col("f") > (cap or 0)).cast("long")).alias("n_hot"),
    ).first()
    return int(row["uncapped"]), int(row["kept"] or 0), int(row["n_hot"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cap", type=int, default=2000)
    ap.add_argument("--n-equiv", type=int, default=20_000)
    ap.add_argument("--n-volume", type=int, default=150_000)
    args = ap.parse_args()

    from etl_guiacores_spark import harness
    from etl_guiacores_spark.operators.linkage import qgram_match_pairs

    spark = harness.session("qgram-stopgram-soak")
    out: dict = {"soak": "qgram_stopgrams", "cap": args.cap}

    # --- phase 1: equivalence at 20k ---------------------------------
    df, n_planted = _names(spark, args.n_equiv, 30, 40)
    df = df.localCheckpoint()  # names are cheap; pin for re-scans
    t0 = time.time()
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in qgram_match_pairs(df, "id", "name", max_dist=2).collect()
    }
    t_un = round(time.time() - t0, 1)
    t0 = time.time()
    capped = {
        (r["id_a"], r["id_b"])
        for r in qgram_match_pairs(
            df, "id", "name", max_dist=2, max_posting_freq=args.cap
        ).collect()
    }
    t_cap = round(time.time() - t0, 1)
    assert capped == uncapped, (
        f"capped/uncapped pair sets diverge: only-capped="
        f"{len(capped - uncapped)} only-uncapped={len(uncapped - capped)}"
    )
    planted_found = sum(
        1 for (a, b) in uncapped if b - a == PLANT_OFF
    )
    assert planted_found == n_planted, (planted_found, n_planted)
    vol_un, vol_kept, n_hot = _posting_volume(spark, df, args.cap)
    out["equivalence"] = {
        "n_names": args.n_equiv,
        "n_planted": n_planted,
        "pairs": len(uncapped),
        "uncapped_wall_s": t_un,
        "capped_wall_s": t_cap,
        "posting_volume_uncapped": vol_un,
        "posting_volume_kept": vol_kept,
        "hot_postings": n_hot,
        "identical": True,
    }

    # --- phase 2: volume at 150k (capped only) -----------------------
    df2, n_planted2 = _names(spark, args.n_volume, 30, 40)
    df2 = df2.localCheckpoint()
    vol_un2, vol_kept2, n_hot2 = _posting_volume(spark, df2, args.cap)
    t0 = time.time()
    pairs2 = qgram_match_pairs(
        df2, "id", "name", max_dist=2, max_posting_freq=args.cap
    )
    planted2 = pairs2.filter(
        (pairs2["id_b"] - pairs2["id_a"]) == PLANT_OFF
    ).count()
    t_cap2 = round(time.time() - t0, 1)
    assert planted2 == n_planted2, (planted2, n_planted2)
    out["volume"] = {
        "n_names": args.n_volume,
        "n_planted": n_planted2,
        "planted_recall": "100%",
        "capped_wall_s": t_cap2,
        "posting_volume_uncapped": vol_un2,
        "posting_volume_kept": vol_kept2,
        "volume_reduction_x": round(vol_un2 / max(vol_kept2, 1), 1),
        "hot_postings": n_hot2,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
