"""Scalable dense ID assignment.

A global ``ROW_NUMBER() OVER (ORDER BY key)`` forces every row
through ONE partition — the canonical single-node bottleneck hiding
inside an innocent-looking window. ``dense_ids`` produces the
identical contiguous 1-based numbering with no single-partition
stage: range-partition on the key (Spark's RangePartitioner samples
boundaries), rank locally inside each partition, then add each
partition's cumulative offset via a broadcast join. The only
all-rows shuffle is the range repartition itself; the offset table
has one row per partition.

This is the numbering pattern a 100 TB shard-writer needs (assign
example ids before packing/sharding) where a driver ``zipWithIndex``
collect or a one-partition sort would OOM or serialize the job.

:func:`topk_per_key` is the same medicine for the OTHER hot window
shape: per-key top-k where the keys are few and the groups are
data-sized (batch retrieval: key = query_id, group = the scored
corpus). Salted pre-cut, then rank the bounded survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(
    df: DataFrame,
    order_col: str,
    id_name: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a contiguous 1-based ``id_name`` column in ``order_col``
    order. ``order_col`` must be unique (ties would make the
    numbering nondeterministic across runs — same contract as any
    keep-first dedupe).

    Range partition boundaries only decide WHERE a row ranks locally;
    since ranges are contiguous in key order, local rank + preceding
    partition sizes is exactly the global rank regardless of how the
    sampler placed the boundaries.

    A dense id IS the inclusive global prefix sum of the constant 1,
    so this delegates to :func:`global_prefix_sum` — one copy of the
    range-partition/local-window/broadcast-offset machinery.
    """
    if "__one" in df.columns:
        raise ValueError(
            "dense_ids: input already has a '__one' column — rename it "
            "first (used as the operator's constant-1 temporary)"
        )
    return global_prefix_sum(
        df.withColumn("__one", F.lit(1)),
        order_col,
        "__one",
        out_col=id_name,
        num_partitions=num_partitions,
    ).drop("__one")


def topk_per_key(
    df: DataFrame,
    key_cols,
    order_by,
    k: int,
    salt_expr,
    salt_buckets: int = 16,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-key top-k whose final per-key stage is BOUNDED BY A
    CONSTANT (salt_buckets*k rows), not by cluster size — the
    giant-group half of the q103 trade.

    Precise accounting (measured; SCALE.md "Round-10: two-stage salted
    top-k for the batch-retrieval windows"): for
    ``ROW_NUMBER() OVER (PARTITION BY key ...) <= k`` Spark >= 3.5
    already inserts a Partial ``WindowGroupLimit`` that pre-cuts each
    MAP partition to k rows per key before the exchange — the naive
    everything-through-one-reducer funnel does not exist for the
    rank-filter shape. What remains is the FINAL per-key stage: it
    receives #map_partitions * k rows per key, so with few keys
    (batch retrieval: key = query_id) that single task's input grows
    LINEARLY with the cluster/input size — 100k input partitions * 32
    = 3.2M rows through one task per query at 100 TB. This operator
    pre-cuts under the SAME total order within (key, salt) groups —
    salt = xxhash64(salt_expr) mod ``salt_buckets``, deterministic, so
    re-executions and task retries regroup rows identically — then
    ranks the <= salt_buckets*k survivors per key: the final stage is
    O(salt_buckets*k) regardless of input size, and the heavy sort
    work spreads over |keys| x salt_buckets reducers. Any row in the
    true global top-k is by definition in the top-k of its own salt
    group, so the result is EXACTLY the single-window result.

    ``order_by`` must be a TOTAL order (include a unique tiebreak) —
    the same determinism contract the plain window shape already had.
    ``salt_expr`` should be a high-cardinality column (the candidate
    id); size ``salt_buckets`` so |rows per key| / salt_buckets fits a
    task comfortably. Emits ``rank_col`` = 1..k per key.
    """
    keys = list(key_cols)
    order = list(order_by)
    if k < 1:
        raise ValueError(f"topk_per_key: k must be >= 1, got {k}")
    if salt_buckets < 2:
        raise ValueError(
            f"topk_per_key: salt_buckets must be >= 2, got {salt_buckets}"
            " (1 bucket IS the single-reducer shape — use a plain"
            " window and say so)"
        )
    for tmp in ("__tk_salt", "__tk_r1"):
        if tmp in df.columns:
            raise ValueError(
                f"topk_per_key: input already has a '{tmp}' column — "
                "rename it first (operator temporary)"
            )
    salt = F.pmod(F.xxhash64(salt_expr), F.lit(salt_buckets))
    w1 = Window.partitionBy(*keys, "__tk_salt").orderBy(*order)
    pre = (
        df.withColumn("__tk_salt", salt)
        .withColumn("__tk_r1", F.row_number().over(w1))
        .filter(F.col("__tk_r1") <= k)
        .drop("__tk_salt", "__tk_r1")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return pre.withColumn(
        rank_col, F.row_number().over(w2)
    ).filter(F.col(rank_col) <= k)


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_total",
    exclusive: bool = False,
    num_partitions: int | None = None,
    pin: str = "local",
) -> DataFrame:
    """Global running sum of ``value_col`` in ``order_col`` order with
    NO single-partition window — the serialization-offset computation
    ("at which token does document i start in the packed stream") that
    a 100 TB shard-writer needs.

    Same machinery as :func:`dense_ids`: range-partition on the order
    key, partition-local cumulative sums (parallel windows), then add
    each partition's cumulative value offset via a broadcast join of
    the one-row-per-partition totals. ``exclusive=True`` returns the
    sum of strictly-preceding rows (the start offset); ``False`` the
    inclusive running total. ``order_col`` must be unique.

    ``pin`` picks how the shared range-partitioned subtree is
    materialized (it MUST be pinned — see the comment at the
    checkpoint site). ``"local"`` (default) uses an eager
    localCheckpoint: building the plan triggers an immediate job, and
    the pinned blocks are NON-RELIABLE — executor-local with no
    lineage, so losing an executor mid-query fails the job instead of
    recomputing. Right for single-node and short interactive runs.
    ``"checkpoint"`` writes a RELIABLE checkpoint (requires
    ``sparkContext.setCheckpointDir`` on durable storage) that
    survives executor loss — the mode for 1000-executor deployments
    where eviction is routine, at the price of a distributed-FS
    round-trip.
    """
    if pin not in ("local", "checkpoint"):
        raise ValueError(
            f"global_prefix_sum: unknown pin mode {pin!r} — use 'local' "
            "(eager localCheckpoint, non-reliable) or 'checkpoint' "
            "(reliable, needs sparkContext.setCheckpointDir)"
        )
    taken = {"__pid", "__lsum", "__off"} & set(df.columns)
    if taken:
        raise ValueError(
            f"global_prefix_sum: input already has column(s) {sorted(taken)} "
            "— rename them first (the operator uses these as temporaries "
            "and would silently clobber and drop them)"
        )
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = df.repartitionByRange(num_partitions, F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # coalesce: a partition whose rows so far are all NULL yields a
    # NULL local window sum (SUM skips NULLs and returns NULL over an
    # empty set) — that row's running total is 0-so-far, not NULL
    local = d.withColumn(
        "__lsum", F.coalesce(F.sum(value_col).over(local_w), F.lit(0))
    )
    # PIN the partitioning before fanning out: `local` feeds BOTH the
    # per-partition totals subtree and the final join subtree, and a
    # re-evaluated range exchange is not guaranteed to reproduce the
    # same __pid labels (AQE may coalesce the two evaluations
    # differently; the range boundaries come from sampling) — q113's
    # sweep drifted by one from mid-stream exactly this way while the
    # same operator passed its isolated test. One eager materialization
    # makes both consumers read the SAME blocks, so __pid is a fact,
    # not a recomputation. Durability is the pin-mode trade: see the
    # docstring.
    if pin == "checkpoint":
        local = local.checkpoint(eager=True)
    else:
        local = local.localCheckpoint(eager=True)
    totals = local.groupBy("__pid").agg(F.sum(value_col).alias("__t"))
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__t").over(off_w), F.lit(0)).alias("__off")
    )
    run = F.col("__off") + F.col("__lsum")
    if exclusive:
        # NULL values contribute 0 to the running sums (window SUM
        # skips them) — subtracting the raw column would turn the
        # whole start offset NULL for that row
        run = run - F.coalesce(F.col(value_col), F.lit(0))
    return (
        local.join(F.broadcast(offsets), "__pid")
        # no cast: the running total keeps value_col's own numeric type
        # (a long cast would silently floor fractional weights; integral
        # inputs already sum to long)
        .withColumn(out_col, run)
        .drop("__pid", "__lsum", "__off")
    )


def zorder_key(x, y):
    """64-bit Z-order (Morton) key interleaving the 16 low bits of two
    integer columns: ``x`` takes even bit positions, ``y`` odd.

    Pure integer expressions (magic-mask bit spreads) inside one
    codegen span — no shuffle, no UDF. This is the sort key that
    makes min-max file statistics prune BOTH dimensions after a
    range-partitioned, sorted write (Delta ZORDER / Iceberg
    sort-order semantics); pair with :func:`write_zordered`.

    Inputs are masked to 16 bits (``& 0xFFFF``) first, so callers
    should pre-bucket wider domains (e.g. days-since-epoch, id mod
    65536) to the resolution they want.
    """

    def spread(c):
        c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF))
        c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333))
        c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))
        return c

    x16 = x.cast("long").bitwiseAND(F.lit(0xFFFF))
    y16 = y.cast("long").bitwiseAND(F.lit(0xFFFF))
    return spread(x16).bitwiseOR(F.shiftleft(spread(y16), 1))


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    num_files: int = 8,
) -> None:
    """Write ``df`` as parquet laid out in Z-order over two integer
    dimensions: range-partition by the Morton key (disjoint key
    ranges per output file) and sort within each partition, so every
    file's min-max stats cover a compact rectangle of (x, y) space
    and scans filtering on EITHER dimension skip most files.

    The Z key is layout-only — it is not written. The only shuffle
    is the range repartition; the sort is partition-local.
    """
    keyed = df.withColumn("__zkey", zorder_key(F.col(x_col), F.col(y_col)))
    (
        keyed.repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
