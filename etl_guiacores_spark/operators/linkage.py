"""Fuzzy record linkage: blocked edit-distance matching and entity
resolution.

The reference deduplicates businesses by exact id
(src/common/utils.py:48-62); real directory data also needs FUZZY
matching — "Panadería San Juan" vs "Panaderia San Juan S.R.L." are the
same business with no shared key. The classic scalable shape is
block -> pair -> verify -> cluster:

1. **block**: derive a cheap blocking key per record (here: lowercased
   first token; production composes phonetic code + length bucket +
   prefix so key cardinality grows with the data). Only records
   sharing a block ever pair — the all-pairs square never
   materializes, exactly like LSH banding for documents.
2. **pair + verify**: within a block, candidate pairs prefilter on
   length difference (|len(a)-len(b)| <= max_dist is a lower bound on
   edit distance, so the filter is lossless) and verify with
   Levenshtein, using Spark's thresholded variant so the DP matrix
   aborts early on hopeless pairs.
3. **cluster** (``resolve_entities``): matched pairs are edges;
   connected components labels every record with a canonical entity
   id — the same adaptive CC machinery as document near-dup
   (operators/graph.py).

Scale: one shuffle on the block key to generate pairs (AQE skew-join
splits hot blocks); the verify predicate runs inside codegen; pair
volume is sum over blocks of C(block_size, 2), bounded by blocking-key
selectivity — the operator's contract is that the caller's key keeps
blocks bounded, the same contract every record-linkage system states.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def default_block_key(col: Column) -> Column:
    """Lowercased first whitespace token — the simplest useful key.
    Compose stronger keys (soundex + length bucket, 2-char prefix +
    token count) for production-cardinality data."""
    return F.lower(F.element_at(F.split(F.trim(col), r"\s+"), 1))


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 5,
    block_key: Column | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) whose names match within
    ``max_dist`` edits, with the measured ``dist``.

    Pairs only form within a block; the length-difference prefilter is
    exact (|len difference| lower-bounds edit distance) and the
    thresholded ``levenshtein`` short-circuits above ``max_dist``.
    """
    key = block_key if block_key is not None else default_block_key(F.col(name_col))
    t = df.select(
        F.col(id_col), F.col(name_col).alias("__name"), key.alias("__blk")
    ).filter(F.col("__blk").isNotNull())
    a = t.select(
        F.col(id_col).alias("id_a"), F.col("__name").alias("__name_a"), "__blk"
    )
    b = t.select(
        F.col(id_col).alias("id_b"), F.col("__name").alias("__name_b"), "__blk"
    )
    dist = F.levenshtein(F.col("__name_a"), F.col("__name_b"), max_dist)
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("__name_a") - F.length("__name_b")) <= max_dist
        )
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") >= 0)  # thresholded levenshtein: -1 = above
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 5,
    block_key: Column | None = None,
    method: str = "block",
) -> DataFrame:
    """Entity resolution: label every record with its fuzzy-match
    component's minimum id (``entity_id``). Records matching nothing
    form singleton entities. ``method="block"`` pairs via the blocking
    key (cheap, bounded recall); ``method="qgram"`` pairs via the
    lossless q-gram count filter (``qgram_match_pairs`` — every true
    match within ``max_dist`` found, at posting-join cost). Both feed
    the adaptive connected-components operator."""
    from etl_guiacores_spark.operators.graph import connected_components

    if method == "qgram":
        pairs = qgram_match_pairs(df, id_col, name_col, max_dist)
    elif method == "block":
        pairs = fuzzy_match_pairs(df, id_col, name_col, max_dist, block_key)
    else:
        raise ValueError(f"unknown method {method!r}: use 'block' or 'qgram'")
    labels = connected_components(
        df.select(id_col),
        pairs.select(F.col("id_a"), F.col("id_b")),
        id_col=id_col,
        src_col="id_a",
        dst_col="id_b",
    )
    return labels.select(F.col("id").alias(id_col), F.col("component").alias("entity_id"))


def qgram_match_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 3,
    q: int = 2,
    max_posting_freq: int | None = None,
) -> DataFrame:
    """LOSSLESS fuzzy pairs via q-gram count filtering — the classic
    string-similarity-join technique (q-gram signature + count bound,
    e.g. Gravano et al. 2001 and its ICDE/VLDB descendants): two
    strings within edit distance ``k`` must share at least
    ``max(len_a, len_b) - q + 1 - q*k`` q-gram OCCURRENCES, because a
    single edit destroys at most ``q`` grams. Candidates come from an
    equi-join on positional q-grams (gram + occurrence number, so the
    shared count is the true MULTISET intersection), the count bound
    and the length-difference bound prune, and thresholded Levenshtein
    verifies. Unlike ``fuzzy_match_pairs``'s blocking key, NO true
    match within ``max_dist`` can be missed.

    The count bound is vacuous for SHORT strings: when
    ``max(len_a, len_b) <= q*(max_dist+1) - 1`` the guaranteed shared
    count is <= 0, so two close strings may share ZERO q-grams
    ("abc"/"cba" at k=3 have disjoint bigram sets; a string shorter
    than ``q`` has no grams at all). Those pairs can only occur
    between two short strings (if one side is long, the
    length-difference bound excludes the pair), so the operator routes
    the short subset through an exact fallback: DISTINCT short names
    (bounded by alphabet^threshold, a few thousand in practice — they
    are strings of at most ``q*(max_dist+1)-1`` chars) pair via a
    length-banded broadcast hash join + thresholded Levenshtein,
    re-expanded to ids. The
    posting join handles every pair whose longer side clears the
    threshold; the two paths partition the pair space, so the union is
    duplicate-free and the lossless contract holds for ALL lengths
    (brute-force property-tested over short random strings).

    Scale shape: one shuffle keyed on the (gram, occurrence) posting;
    pair volume is sum over postings of C(freq, 2) — bounded by gram
    selectivity rather than block size. The operator reads the narrow
    (id, name) projection several times (posting build, the two
    verify-side name joins, the short-string branch); each re-scan is
    column-pruned at the source, but a caller whose names come from
    EXPENSIVE lineage (tokenize-and-slice, a join) should hand the
    operator a materialized table so the upstream runs once — the
    same staged-artifact discipline as the LSH family.
    ``max_posting_freq`` is the
    stop-gram escape hatch for hot grams: postings whose frequency
    exceeds the cap are dropped BEFORE the self-join (candidate volume
    from any posting then <= C(cap, 2)), trading bounded recall for a
    bounded join, and the count bound relaxes by each pair's maximum
    possible hidden shared count (``min(dropped_a, dropped_b)``) so
    capping never rejects a true match the candidate join still found.
    The drop count is computed eagerly (one small aggregate job) and
    logged — capping is never silent. With the cap the LOSSLESS
    guarantee no longer holds for pairs whose shared grams were ALL
    hot; leave it ``None`` (the default) for the exact contract.
    """
    # below/at this max-side length the count bound max-q+1-q*k is <= 0
    short_max = q * (max_dist + 1) - 1
    posts = (
        "SELECT __id, __len, __g, __occ, 0 AS __drop FROM raw"
        if max_posting_freq is None
        else "SELECT /*+ BROADCAST(hot) */ __id, __len, __g, __occ, "
        "coalesce(__drop, 0) AS __drop FROM raw "
        "LEFT ANTI JOIN hot USING (__g, __occ) LEFT JOIN dropped USING (__id)"
    )
    # ONE SQL text, parsed on the JVM side: a handful of py4j calls per
    # build, where DataFrame calls pay one per column expression
    ctes = f"""
    WITH t AS (
      SELECT *, length(__name) AS __len
      FROM (SELECT `{id_col}` AS __id, `{name_col}` AS __name FROM {{df}})
      WHERE __name IS NOT NULL
    ),
    -- positional q-grams with per-gram occurrence numbers; the rank
    -- orders by the SELF-COMPUTED character position (never a physical
    -- row order), so it is deterministic across evaluations. Guarded
    -- for len < q: sequence(1, len-q+1) would count DOWN there ([1,0])
    -- and emit phantom grams from substring position 0.
    grams AS (
      SELECT __id, __len, __gp.g AS __g, __gp.p AS __p
      FROM (SELECT __id, __len, explode(transform(
              CASE WHEN __len >= {q} THEN sequence(1, __len - {q - 1})
                   ELSE CAST(array() AS array<int>) END,
              i -> struct(substring(__name, i, {q}) AS g, i AS p))) AS __gp
            FROM t)
    ),
    raw AS (
      SELECT __id, __len, __g,
             row_number() OVER (PARTITION BY __id, __g ORDER BY __p) AS __occ
      FROM grams
    ),
    hot AS (
      SELECT __g, __occ FROM raw GROUP BY __g, __occ
      HAVING count(*) > {max_posting_freq or 0}
    ),
    -- per-id dropped-posting counts: a true pair's OBSERVED shared
    -- count falls short of the theorem bound by at most
    -- min(dropped_a, dropped_b) hidden hot matches, so the count filter
    -- relaxes by that much or capping would reject true matches the
    -- candidate join still found (a capped-mode-only shuffle on __id)
    dropped AS (
      SELECT /*+ BROADCAST(hot) */ __id, count(*) AS __drop
      FROM raw LEFT SEMI JOIN hot USING (__g, __occ) GROUP BY __id
    ),
    posts AS ({posts})
    """
    spark = df.sparkSession
    if max_posting_freq is not None:
        # eager by design: the no-silent-caps log
        n_hot = spark.sql(ctes + "SELECT count(*) FROM hot", df=df).first()[0]
        if n_hot:
            logger.warning(
                "qgram_match_pairs: dropping %d hot postings above "
                "max_posting_freq=%d — pairs whose shared grams are all "
                "hot can be missed (bounded recall loss)",
                n_hot,
                max_posting_freq,
            )
    return spark.sql(ctes + f"""
    SELECT id_a, id_b, dist FROM (
      SELECT id_a, id_b, levenshtein(na.__name, nb.__name, {max_dist}) AS dist
      FROM (
        SELECT * FROM (
          SELECT a.__id AS id_a, b.__id AS id_b, a.__len AS __la, b.__len AS __lb,
                 a.__drop AS __da, b.__drop AS __db, count(*) AS __c
          FROM posts a JOIN posts b USING (__g, __occ)
          WHERE abs(a.__len - b.__len) <= {max_dist}
            -- short-short pairs belong to the fallback (disjoint union)
            AND greatest(a.__len, b.__len) > {short_max}
            AND a.__id < b.__id
          GROUP BY 1, 2, 3, 4, 5, 6)
        -- on this path max(la,lb) > short_max so the bound is >= 1;
        -- under a cap it relaxes by the pair's maximum possible hidden
        -- (hot) shared count, and the clamp keeps it >= 1
        WHERE __c >= greatest(greatest(__la, __lb) - {q - 1} - {q * max_dist}
                              - least(__da, __db), 1)
      ) s
      JOIN t na ON s.id_a = na.__id
      JOIN t nb ON s.id_b = nb.__id)
    WHERE dist >= 0
    UNION ALL
    -- short-string fallback, both sides <= short_max chars: name pairs
    -- over DISTINCT short names via a LENGTH-BANDED broadcast hash join
    -- (|len_a - len_b| <= k is necessary, so side b probes every length
    -- in [len_b - k, len_b + k]; no nested-loop node), then ids are
    -- re-expanded; na <= nb plus (na < nb OR ia < ib) emits each id
    -- pair exactly once
    SELECT least(__ia, __ib) AS id_a, greatest(__ia, __ib) AS id_b, __d AS dist
    FROM (SELECT __id AS __ia, __name AS __name_a FROM t WHERE __len <= {short_max})
    JOIN (
      SELECT * FROM (
        SELECT /*+ BROADCAST(b) */ a.__name AS __name_a, __name_b,
               levenshtein(a.__name, __name_b, {max_dist}) AS __d
        FROM (SELECT DISTINCT __name, __len FROM t WHERE __len <= {short_max}) a
        JOIN (SELECT __name AS __name_b,
                     explode(sequence(__len - {max_dist}, __len + {max_dist})) AS __lband
              FROM (SELECT DISTINCT __name, __len FROM t WHERE __len <= {short_max})) b
          ON a.__len = b.__lband
        WHERE a.__name <= __name_b)
      WHERE __d >= 0
    ) USING (__name_a)
    JOIN (SELECT __id AS __ib, __name AS __name_b FROM t WHERE __len <= {short_max})
      USING (__name_b)
    WHERE __name_a < __name_b OR __ia < __ib
    """, df=df)


def golden_record(
    df: DataFrame,
    entity_col: str,
    mode_col: str,
    value_col: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """Survivorship merge: one canonical ("golden") record per entity
    from its conflicting observations — the step after entity
    resolution turns clusters into master data. The reference keeps
    whichever row its keyed dedupe saw first
    (/root/reference/src/common/utils.py:48-62); survivorship
    generalizes that to explicit field-level rules:

    - ``mode_col`` -> MODE rule: the most frequent non-null value,
      ties broken by lexicographic minimum (deterministic, never
      partition-order).
    - ``value_col`` -> RECENCY rule: the last non-null observation
      under the (``ts_col``, ``order_col``) total order, via
      ``max_by .. FILTER`` so nulls never win merely by being recent.
    - provenance: first/last observation time and observation count.

    Engine shape: the mode rule is one map-side-combinable groupBy to
    (entity, value) counts plus a rank window over that BOUNDED
    relation (parallel across entities); the recency/provenance rules
    are a single aggregate pass; one final equi-join on the entity id
    stitches them. No per-column shuffle storm: two shuffles total on
    the same key regardless of how many provenance fields ride along.

    Returns (entity_col, top_value, top_value_n, latest_value,
    first_seen, last_seen, n_records).
    """
    by_val = (
        df.filter(F.col(mode_col).isNotNull())
        .groupBy(entity_col, mode_col)
        .agg(F.count("*").cast("long").alias("__n"))
    )
    w = Window.partitionBy(entity_col).orderBy(
        F.col("__n").desc(), F.col(mode_col).asc()
    )
    mode = (
        by_val.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            entity_col,
            F.col(mode_col).alias("top_value"),
            F.col("__n").alias("top_value_n"),
        )
    )
    prov = df.groupBy(entity_col).agg(
        F.expr(
            f"max_by({value_col}, struct({ts_col}, {order_col})) "
            f"FILTER (WHERE {value_col} IS NOT NULL)"
        ).alias("latest_value"),
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
        F.count("*").cast("long").alias("n_records"),
    )
    return prov.join(mode, entity_col, "left")
