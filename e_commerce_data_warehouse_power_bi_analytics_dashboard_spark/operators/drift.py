"""Drift-statistic cores shared by plans/drift_queries.py and the
property tests — the exact-arithmetic pieces that make iterative-free
statistics hash-stable cross-engine (see the module docstring there for
the detector-level story).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale for the chi-squared contributions (millionths)
CHI2_SCALE = 1_000_000


def chi2_scaled(cells: DataFrame, a: str, b: str, o: str = "o") -> DataFrame:
    """Chi-squared independence statistic over a contingency frame
    ``cells`` = one row per (a, b) category pair with exact BIGINT count
    ``o`` — computed ENTIRELY in scaled-integer arithmetic so the result
    is order-independent and bit-identical to any serial twin.

    Per cell, with rt/ct/n the row/column/grand totals:

        e_s     = max((rt * ct * SCALE) div n, 1)      -- floor(e * SCALE)
        contrib = ((o * SCALE - e_s)^2) div e_s        -- floor-ish of
                                                          (o-e)^2/e * SCALE

    Every operation is DECIMAL(38,0) integer arithmetic (`div` truncates
    toward zero; all operands non-negative, so it equals floor and
    DuckDB's HUGEINT ``//``), and the cross-cell SUM is an integer —
    no float-summation-order hazard, the fixed-point-PageRank
    discipline. The widest intermediate is (o·SCALE − e_s)², bounded by
    (n·SCALE)² < 10³⁸ — good to n ≈ 10¹³ observations with SCALE = 10⁶
    (past that the DECIMAL(38,0) square overflows and Spark 4 raises
    under ANSI rather than corrupting). 10¹³ cells-worth of observed
    counts is comfortably past the 100 TB target; if more headroom is
    ever needed, rearrange to ((o·SCALE − e_s) div e_s)·(o·SCALE − e_s)
    to shed one factor of SCALE at the cost of an extra floor.
    The e_s >= 1 clamp guards degenerate margins
    (an expected count that floors to zero).

    Scale shape: the margins re-aggregate from ``cells`` itself (never a
    second scan of the underlying data) and broadcast back onto the
    cell-grain frame; the output is one row
    ``(chi2_millionths, dof, n_obs)``.
    """
    rt = cells.groupBy(a).agg(F.sum(o).alias("rt"))
    ct = cells.groupBy(b).agg(F.sum(o).alias("ct"))
    n = cells.groupBy().agg(F.sum(o).alias("n"))
    scaled = (
        cells.join(F.broadcast(rt), a)
        .join(F.broadcast(ct), b)
        .crossJoin(n)
        .withColumn(
            "e_s",
            F.greatest(
                F.expr(
                    f"(CAST(rt AS DECIMAL(38,0)) * ct * {CHI2_SCALE})"
                    " div CAST(n AS DECIMAL(38,0))"
                ),
                F.lit(1).cast("long"),
            ),
        )
    )
    return scaled.groupBy().agg(
        F.sum(
            F.expr(
                f"((CAST({o} AS DECIMAL(38,0)) * {CHI2_SCALE} - e_s)"
                f" * (CAST({o} AS DECIMAL(38,0)) * {CHI2_SCALE} - e_s))"
                " div e_s"
            )
        )
        .cast("long")
        .alias("chi2_millionths"),
        ((F.countDistinct(a) - 1) * (F.countDistinct(b) - 1))
        .cast("long")
        .alias("dof"),
        F.max("n").cast("long").alias("n_obs"),
    )


def chi2_scaled_serial(counts: dict[tuple, int]) -> tuple[int, int, int]:
    """Pure-Python twin of :func:`chi2_scaled` over ``{(a, b): o}`` —
    exact integer arithmetic, for the property tests."""
    rt: dict = {}
    ct: dict = {}
    for (ka, kb), o in counts.items():
        rt[ka] = rt.get(ka, 0) + o
        ct[kb] = ct.get(kb, 0) + o
    n = sum(counts.values())
    chi2 = 0
    for (ka, kb), o in counts.items():
        e_s = max((rt[ka] * ct[kb] * CHI2_SCALE) // n, 1)
        d = o * CHI2_SCALE - e_s
        chi2 += (d * d) // e_s
    dof = (len(rt) - 1) * (len(ct) - 1)
    return chi2, dof, n


#: PSI monitor knobs (shared by the batch entry and the streaming twin):
#: fixed-width bins over the event-value domain, open-ended last bin
PSI_NB = 20
PSI_W = 25.0


def psi_bin(value_col: str = "value"):
    """Map-side fixed-width PSI bin — no quantile pre-pass, so the same
    expression is legal in a streaming plan."""
    return F.least(
        F.floor(F.col(value_col) / PSI_W).cast("int"), F.lit(PSI_NB - 1)
    )


def psi_reference_row(events: DataFrame) -> DataFrame:
    """Collapse a reference snapshot to ONE row of per-bin counts
    (r0..r{NB-1}, n_ref) — the broadcastable baseline a monitor scores
    against."""
    binned = events.select(psi_bin("value").alias("bin"))
    return binned.groupBy().agg(
        *[
            F.sum(F.when(F.col("bin") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"r{i}")
            for i in range(PSI_NB)
        ],
        F.count("*").cast("long").alias("n_ref"),
    )


def psi_daily_windows(events: DataFrame, ref: DataFrame) -> DataFrame:
    """Per-day PSI of the event-value distribution against a static
    reference row → (day, n_cand, psi).

    The day's whole histogram pivots into ONE windowed aggregation
    (c0..c{NB-1} + count) — a single stateful op, so the IDENTICAL code
    runs as a batch query or a watermarked stream (Structured Streaming
    cannot chain a second normalization aggregate; the pivot makes one
    unnecessary). Shares and contributions are per-row expressions
    against the broadcast reference; the cross-bin sum is a FIXED
    left-associated 20-term chain, same tree in the DuckDB oracle, with
    the ln() factors rounded away at the 10th decimal. Laplace
    smoothing keeps empty bins defined on both sides.
    """
    per_day = (
        events.select("ts", psi_bin("value").alias("bin"))
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            *[
                F.sum(F.when(F.col("bin") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"c{i}")
                for i in range(PSI_NB)
            ],
            F.count("*").cast("long").alias("n_cand"),
        )
    )
    terms = None
    for i in range(PSI_NB):
        pr = (F.col(f"r{i}") + 1).cast("double") / (F.col("n_ref") + PSI_NB)
        pc = (F.col(f"c{i}") + 1).cast("double") / (F.col("n_cand") + PSI_NB)
        t = (pr - pc) * F.log(pr / pc)
        terms = t if terms is None else terms + t
    # constant-key equi join: a conditionless cross join is not a legal
    # stream-static shape, but a broadcast equi probe on a literal key is
    return (
        per_day.withColumn("_k", F.lit(1))
        .join(F.broadcast(ref.withColumn("_k", F.lit(1))), "_k")
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "n_cand",
            F.round(terms, 10).alias("psi"),
        )
    )
