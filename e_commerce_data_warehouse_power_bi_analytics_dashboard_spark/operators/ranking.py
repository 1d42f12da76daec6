"""Distributed global ranking — a total order without the single-partition
window (SURVEY §2.5 T1/W1 at scale).

``Window.orderBy(...)`` with no partition key is the one window shape that
cannot survive a 100× scale-up: Spark moves EVERY row into one partition
to number them (the ``WindowExec: No Partition Defined`` warning). When the
leading order key is a uniform integer hash — the deterministic-training-
shuffle case — the total order decomposes exactly as
``(block, rank-within-block)`` where ``block`` is the key's high bits:

1. ``block = key >> (key_bits - block_bits)`` — order-preserving and, for
   a uniform key, load-balanced by construction;
2. ``rank`` = ``row_number()`` over (PARTITION BY block ORDER BY key, ties)
   — an ordinary partitioned window, one hash shuffle of the data;
3. ``offset(block)`` = total rows in all lower blocks — computed from a
   column-pruned count aggregation (map-side partial → ≤2^block_bits rows)
   and a broadcast non-equi self-join over that tiny frame;
4. ``global rank = offset + rank``.

No stage holds more than ~N / 2^block_bits rows in one task. ``block_bits``
is the scale knob: 8 (256 blocks) is right for test scale; a 100 TB corpus
wants 14-16 so each block stays executor-sized. The output is bit-for-bit
identical to the single-partition ``row_number()`` — same oracle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: internal column names; inputs must not collide (same contract style as
#: operators/scd.py's reserved names).
_RESERVED = ("_rank_block", "_rank_in_block", "_rank_offset")


def uniform_key_global_rank(
    df: DataFrame,
    key: Column,
    ties: Sequence[Column],
    *,
    key_bits: int,
    block_bits: int = 8,
    out: str = "rn",
) -> DataFrame:
    """Append ``out`` = 1-based global rank of each row under
    ``ORDER BY key, *ties`` — distributed, no single-partition stage.

    ``key`` must be a non-negative integer expression strictly below
    ``2**key_bits`` and roughly uniform (a hash); ``ties`` must make the
    total order strict, otherwise ranks of tied rows are nondeterministic
    (same caveat as the window it replaces).
    """
    if not 0 < block_bits < key_bits:
        raise ValueError(f"need 0 < block_bits < key_bits, got {block_bits}/{key_bits}")
    if key_bits > 62:
        raise ValueError("key_bits > 62 would overflow the BIGINT shift")
    clash = [c for c in df.columns if c in _RESERVED or c == out]
    if clash:
        raise ValueError(f"input columns collide with rank internals: {clash}")

    shift = key_bits - block_bits
    with_block = df.withColumn("_rank_block", F.shiftright(key, shift))

    # per-block sizes: column-pruned scan, partial-aggregated map-side to
    # ≤ 2^block_bits rows before the (tiny) exchange
    counts = with_block.groupBy("_rank_block").agg(F.count("*").alias("_rank_n"))

    # offset(b) = Σ sizes of blocks < b — broadcast non-equi self-join on
    # the tiny counts frame; left join + coalesce keeps block 0 at offset 0
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b._rank_block") < F.col("a._rank_block"), "left")
        .groupBy(F.col("a._rank_block").alias("_rank_block"))
        .agg(F.coalesce(F.sum("b._rank_n"), F.lit(0)).alias("_rank_offset"))
    )

    w = Window.partitionBy("_rank_block").orderBy(key.asc(), *[t.asc() for t in ties])
    return (
        with_block.withColumn("_rank_in_block", F.row_number().over(w))
        .join(F.broadcast(offsets), "_rank_block")
        .withColumn(out, (F.col("_rank_offset") + F.col("_rank_in_block")).cast("long"))
        .drop(*_RESERVED)
    )


def top_k_ranked(
    df: DataFrame,
    order: Sequence[tuple[str, str]],
    k: int,
    *,
    out: str = "rk",
) -> DataFrame:
    """Top-k rows under ``ORDER BY`` the given ``(column, 'asc'|'desc')``
    spec, with a 1-based rank column — and no global window.

    The selection is ``orderBy().limit(k)`` (TakeOrderedAndProject: each
    partition keeps its local top-k, only k·P candidate rows merge — fully
    distributed). The rank is then recovered on the ≤k-row result by a
    broadcast non-equi self-join (rank = 1 + #rows strictly ahead), so no
    stage ever windows the full frame. The spec must be a strict total
    order (include a tie-break key) or ranks of ties are nondeterministic.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if out in df.columns:
        raise ValueError(f"output column {out!r} already present")
    bad = [d for _, d in order if d not in ("asc", "desc")]
    if bad:
        raise ValueError(f"order directions must be 'asc'|'desc', got {bad}")
    cols = df.columns
    top = df.orderBy(
        *[F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order]
    ).limit(k)

    # lexicographic "b strictly ahead of a" under the same spec
    ahead, equal_so_far = F.lit(False), F.lit(True)
    for c, d in order:
        ba, aa = F.col(f"b.{c}"), F.col(f"a.{c}")
        cmp = (ba > aa) if d == "desc" else (ba < aa)
        ahead = ahead | (equal_so_far & cmp)
        equal_so_far = equal_so_far & (ba == aa)

    a, b = top.alias("a"), top.alias("b")
    return (
        a.join(F.broadcast(b), ahead, "left")
        .groupBy(*[F.col(f"a.{c}").alias(c) for c in cols])
        .agg((F.count(F.col(f"b.{cols[0]}")) + 1).cast("int").alias(out))
    )


#: internal columns of ordered_prefix_sum; inputs must not collide.
#: every internal column carries this prefix (suffixed per value column)
_PS_RESERVED_PREFIX = "_ps_"
_PS_RESERVED = ("_ps_pid",)  # kept for the docstring; checks use the prefix


def ordered_prefix_sum(
    df: DataFrame,
    order: Sequence[tuple[str, str]],
    value: str | Sequence[str],
    *,
    out: str | Sequence[str] = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out`` = running sum of ``value`` under ``ORDER BY`` the
    given ``(column, 'asc'|'desc')`` spec — distributed, never a
    single-partition ``WindowExec``.

    The global cumulative sum decomposes over a RANGE partitioning of the
    order key (unlike :func:`uniform_key_global_rank` the key need not be
    a uniform hash — ``repartitionByRange`` samples the data to pick
    balanced bounds):

    1. ``repartitionByRange`` on the order spec — partition *i* holds a
       contiguous, ordered slice; ``spark_partition_id()`` is then itself
       the block id, already in order;
    2. per-partition running sum — an ordinary partitioned window;
    3. per-partition totals (≤P rows) → offsets by broadcast non-equi
       self-join, exactly the block-offset step of
       :func:`uniform_key_global_rank`;
    4. global running sum = offset + local running sum.

    The order spec must place ties where the caller wants them summed
    together-or-apart; like any running sum over a non-strict order, rows
    tied on the FULL spec receive order-dependent values, so include a
    tie-break column for determinism (same caveat as the window this
    replaces). No stage holds more than ~N/P rows in one task; P follows
    ``spark.sql.shuffle.partitions`` unless ``num_partitions`` is given.

    Cache lifetime: the range-partitioned frame is ``persist()``-ed for
    partition-id stability (see inline note), and the pin cannot be
    released before the caller's terminal action on the returned lazy
    DataFrame, so this operator never unpersists it. ``bench.py`` evicts
    query-internal caches before each timed rep, and session teardown
    drops whatever is left; until then a long-lived session keeps each
    call's blocks, subject to LRU eviction and disk spill.
    """
    bad = [d for _, d in order if d not in ("asc", "desc")]
    if bad:
        raise ValueError(f"order directions must be 'asc'|'desc', got {bad}")
    values = [value] if isinstance(value, str) else list(value)
    outs = [out] if isinstance(out, str) else list(out)
    if len(values) != len(outs):
        raise ValueError(f"{len(values)} value column(s) but {len(outs)} out name(s)")
    bad_out = [o for o in outs if o.startswith(_PS_RESERVED_PREFIX)]
    if bad_out:
        raise ValueError(f"out={bad_out!r} collides with prefix-sum internals")
    clash = [
        c for c in df.columns if c.startswith(_PS_RESERVED_PREFIX) or c in outs
    ]
    if clash:
        raise ValueError(f"input columns collide with prefix-sum internals: {clash}")

    sort_cols = [F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order]
    parts = (
        df.repartitionByRange(num_partitions, *sort_cols)
        if num_partitions
        else df.repartitionByRange(*sort_cols)
    )
    # persist so the window branch and the totals branch read ONE
    # materialization of the range exchange: spark_partition_id() is only
    # meaningful per-materialization (RangePartitioner samples per run,
    # AQE may coalesce), so without the pin the two branches could
    # observe different partition bounds whenever exchange reuse is
    # disabled or the plans diverge — silently corrupting the offsets.
    # The cache is query-internal (bench evicts it per timed rep); at
    # petabyte scale it becomes a checkpoint, same shape.
    with_pid = parts.withColumn("_ps_pid", F.spark_partition_id()).persist()

    w = (
        Window.partitionBy("_ps_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = with_pid
    for k, v in enumerate(values):
        local = local.withColumn(f"_ps_local{k}", F.sum(v).over(w))

    # per-partition totals: ≤P rows after a map-side partial agg; offsets
    # by broadcast non-equi self-join over that tiny frame (range
    # partition ids are ordered by construction, so pid < pid is "ahead").
    # Multiple value columns share the ONE range exchange, window pass,
    # and offsets frame — a k-column prefix sum costs one shuffle, not k.
    totals = with_pid.groupBy("_ps_pid").agg(
        *[F.sum(v).alias(f"_ps_total{k}") for k, v in enumerate(values)]
    )
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b._ps_pid") < F.col("a._ps_pid"), "left")
        .groupBy(F.col("a._ps_pid").alias("_ps_pid"))
        .agg(
            *[
                F.coalesce(F.sum(f"b._ps_total{k}"), F.lit(0)).alias(f"_ps_offset{k}")
                for k in range(len(values))
            ]
        )
    )

    res = local.join(F.broadcast(offsets), "_ps_pid")
    for k, o in enumerate(outs):
        res = res.withColumn(o, F.col(f"_ps_offset{k}") + F.col(f"_ps_local{k}"))
    return res.drop(
        "_ps_pid",
        *[f"_ps_local{k}" for k in range(len(values))],
        *[f"_ps_offset{k}" for k in range(len(values))],
    )
