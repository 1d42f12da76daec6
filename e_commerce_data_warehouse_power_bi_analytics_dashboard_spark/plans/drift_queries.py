"""Dataset-shift / drift detection between corpus snapshots — the
monitoring layer of a training-data pipeline (beyond the reference's
surface, per the LLM-ops north star; the reference's closest analog is
the validation family's DSS-vs-OLTP reconciliation,
``Iteration 2/Group No.6_Validation.sql``).

A 100 TB ingest never stops: every new crawl snapshot must be compared
against the corpus it joins before it is allowed to shift the training
mixture. Three classical detectors, each expressed as pure exchanges
over *statistic-grain* frames so the data-sized work is one scan:

- **Kolmogorov-Smirnov** (two-sample, exact): the ECDF difference only
  changes at distinct observed values, so the detector aggregates to the
  value-grain first (one data-sized shuffle on the value) and runs the
  cumulative step on that GROUPED frame with ONE multi-column
  range-partitioned prefix sum (operators/ranking.py) — never a
  single-partition window,
  even if the value domain is millions of distinct lengths.
- **Population Stability Index**: fixed-width binning is map-side
  (no quantile pass needed), so PSI is one scan + a ≤``_PSI_NB``-row
  aggregate; reported per-bin (WHERE the mass moved), no cross-bin
  float summation to order-perturb.
- **Chi-squared independence**: the statistic is computed in EXACT
  scaled-integer arithmetic — each cell's (o-e)²/e contribution is a
  millionths-integer via decimal ``div`` (DuckDB ``//`` over HUGEINT
  matches Spark ``div`` over DECIMAL(38,0) for non-negative operands),
  so the cross-cell SUM is an order-independent integer and the final
  statistic hash-matches bit-for-bit cross-engine. Intermediates are
  bounded by (n·10⁶)² < 10³⁸ up to n ≈ 10¹³ rows — comfortably past a
  100 TB corpus at document grain.

All determinism-by-construction: no rand(), no unordered float folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.drift import chi2_scaled
from ..operators.ranking import ordered_prefix_sum
from ..sources.tpch import read_events, read_table
from .catalog import register

#: KS rejection threshold at alpha = 0.05: c(alpha)·sqrt((na+nb)/(na·nb))
#: with c(0.05) = 1.358 (Smirnov's asymptotic critical value)
_KS_C = 1.358

#: PSI bins: fixed width over the event-value domain (0-560 observed;
#: the last bin is open-ended so the binning is total)
_PSI_NB = 20
_PSI_W = 25.0


@register(
    "drift_ks_doclen_by_lang",
    oracle=f"""
        WITH g AS (
            SELECT n_chars AS v,
                   SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
                   SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS cb
            FROM documents
            WHERE lang IN ('en', 'zh')
            GROUP BY n_chars
        ), c AS (
            SELECT v,
                   SUM(ca) OVER (ORDER BY v) AS cum_a,
                   SUM(cb) OVER (ORDER BY v) AS cum_b,
                   SUM(ca) OVER () AS na,
                   SUM(cb) OVER () AS nb
            FROM g
        )
        SELECT MAX(ABS(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb))
                   AS ks_stat,
               CAST(MAX(na) AS BIGINT) AS n_ref,
               CAST(MAX(nb) AS BIGINT) AS n_cand,
               MAX(ABS(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb))
                   > {_KS_C} * SQRT(CAST(MAX(na) + MAX(nb) AS DOUBLE)
                                    / (MAX(na) * MAX(nb))) AS drifted
        FROM c
    """,
    tags=("llm", "drift", "A10", "W3"),
    doc="Two-sample Kolmogorov-Smirnov drift test on document length: "
        "is the zh sub-corpus drawn from the same length distribution "
        "as the en reference? (zh docs run ~6% shorter; at the test "
        "scales the statistic lands just under the alpha=0.05 critical "
        "band — the entry reports the exact statistic and the verdict "
        "either way.) Exact, not sampled: ECDFs over every doc. Scale shape: one conditional-count aggregation "
        "to the DISTINCT-VALUE grain (the only data-sized shuffle), "
        "then ONE range-partitioned prefix-sum pass carrying both ECDF "
        "counters (multi-column ordered_prefix_sum — never a "
        "single-partition window) over that value-grain frame, "
        "then a scalar MAX. The ECDF ratio is one IEEE division of "
        "exact integers per value and MAX over doubles is exact, so the "
        "statistic is bit-identical cross-engine. The oracle pins the "
        "prefix-sum decomposition against the engine-native cumulative "
        "window.",
)
def drift_ks_doclen_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "zh")
    )
    g = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("lang") == "zh", 1).otherwise(0)).alias("cb"),
        )
    )
    # ONE range-partitioned prefix-sum pass carries both ECDF counters
    # (multi-column ordered_prefix_sum: one exchange, one window) — and
    # it is never single-partition even for a multimillion-value domain
    c = ordered_prefix_sum(
        g, [("v", "asc")], ["ca", "cb"], out=["cum_a", "cum_b"]
    )
    tot = g.groupBy().agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    d = (
        c.crossJoin(tot)
        .select(
            F.abs(
                F.col("cum_a").cast("double") / F.col("na")
                - F.col("cum_b").cast("double") / F.col("nb")
            ).alias("d"),
            "na",
            "nb",
        )
    )
    return d.groupBy().agg(
        F.max("d").alias("ks_stat"),
        F.max("na").cast("long").alias("n_ref"),
        F.max("nb").cast("long").alias("n_cand"),
        (
            F.max("d")
            > _KS_C
            * F.sqrt(
                (F.max("na") + F.max("nb")).cast("double")
                / (F.max("na").cast("double") * F.max("nb").cast("double"))
            )
        ).alias("drifted"),
    )


@register(
    "drift_psi_event_value",
    oracle=f"""
        WITH b AS (
            SELECT LEAST(CAST(FLOOR(value / {_PSI_W}) AS INT), {_PSI_NB - 1})
                       AS bin,
                   CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 ELSE 0 END AS is_ref
            FROM events
        ), g AS (
            SELECT bin,
                   SUM(is_ref) AS c_ref,
                   SUM(1 - is_ref) AS c_cand
            FROM b GROUP BY bin
        ), t AS (
            SELECT SUM(c_ref) AS n_ref, SUM(c_cand) AS n_cand FROM g
        )
        SELECT bin,
               CAST(c_ref AS BIGINT) AS c_ref,
               CAST(c_cand AS BIGINT) AS c_cand,
               (CAST(c_ref + 1 AS DOUBLE) / (n_ref + {_PSI_NB}))
                   AS p_ref,
               (CAST(c_cand + 1 AS DOUBLE) / (n_cand + {_PSI_NB}))
                   AS p_cand,
               ROUND(
                   ((CAST(c_ref + 1 AS DOUBLE) / (n_ref + {_PSI_NB}))
                    - (CAST(c_cand + 1 AS DOUBLE) / (n_cand + {_PSI_NB})))
                   * LN((CAST(c_ref + 1 AS DOUBLE) / (n_ref + {_PSI_NB}))
                        / (CAST(c_cand + 1 AS DOUBLE) / (n_cand + {_PSI_NB}))),
                   10
               ) AS psi_contrib
        FROM g CROSS JOIN t
        ORDER BY bin
    """,
    tags=("llm", "drift", "A8"),
    doc="Population Stability Index between the first and second "
        "half-month of the event stream, per value bin — the "
        "where-did-the-mass-move drift report (here: a stationary "
        "stream, so every contribution is near zero — the detector's "
        "null case, complementing the KS entry's firing case). Scale "
        "shape: the binning is FIXED-width so it is pure map-side (no "
        "quantile pre-pass over the reference snapshot), one "
        "conditional-count aggregation to ≤20 bin rows, and the "
        "Laplace-smoothed shares/contribution are per-row expressions "
        "on that tiny frame vs a broadcast 1-row total — deliberately "
        "emitted per bin rather than summed, so no cross-bin float "
        "summation can perturb the hash (each contribution is the same "
        "IEEE expression tree in both engines; the ln() factor is the "
        "one non-correctly-rounded primitive, so contributions round to "
        "10 decimals — 1-ulp-robust at the ~1e-4 magnitude).",
)
def drift_psi_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir).select(
        F.least(
            F.floor(F.col("value") / _PSI_W).cast("int"), F.lit(_PSI_NB - 1)
        ).alias("bin"),
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("is_ref"),
    )
    g = ev.groupBy("bin").agg(
        F.sum("is_ref").alias("c_ref"),
        F.sum(1 - F.col("is_ref")).alias("c_cand"),
    )
    t = g.groupBy().agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cand").alias("n_cand")
    )
    p_ref = (F.col("c_ref") + 1).cast("double") / (F.col("n_ref") + _PSI_NB)
    p_cand = (F.col("c_cand") + 1).cast("double") / (
        F.col("n_cand") + _PSI_NB
    )
    return (
        g.crossJoin(t)
        .select(
            "bin",
            F.col("c_ref").cast("long").alias("c_ref"),
            F.col("c_cand").cast("long").alias("c_cand"),
            p_ref.alias("p_ref"),
            p_cand.alias("p_cand"),
            F.round((p_ref - p_cand) * F.log(p_ref / p_cand), 10).alias(
                "psi_contrib"
            ),
        )
        .orderBy("bin")
    )


@register(
    "drift_chi2_lang_source",
    oracle="""
        WITH o AS (
            SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
        ), rt AS (
            SELECT lang, SUM(o) AS rt FROM o GROUP BY 1
        ), ct AS (
            SELECT source, SUM(o) AS ct FROM o GROUP BY 1
        ), n AS (
            SELECT SUM(o) AS n FROM o
        ), cells AS (
            SELECT o.lang, o.source, o.o, rt.rt, ct.ct, n.n,
                   GREATEST(
                       (CAST(rt.rt AS HUGEINT) * ct.ct * 1000000)
                           // CAST(n.n AS HUGEINT),
                       CAST(1 AS HUGEINT)
                   ) AS e_s
            FROM o JOIN rt USING (lang) JOIN ct USING (source)
            CROSS JOIN n
        )
        SELECT CAST(SUM(
                   ((CAST(o AS HUGEINT) * 1000000 - e_s)
                    * (CAST(o AS HUGEINT) * 1000000 - e_s)) // e_s
               ) AS BIGINT) AS chi2_millionths,
               CAST((COUNT(DISTINCT lang) - 1)
                    * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
               CAST(MAX(n) AS BIGINT) AS n_docs
        FROM cells
    """,
    tags=("llm", "drift", "A6", "J1"),
    doc="Chi-squared independence test of document language vs crawl "
        "source — is the language mixture stable across sources, or "
        "does some source skew the corpus? The statistic is EXACT "
        "scaled-integer arithmetic end-to-end: each cell's (o-e)^2/e "
        "contribution is computed as a millionths integer via decimal "
        "``div`` (expected counts floor-scaled by 10^6, clamped >= 1 "
        "against empty-margin degeneracy), so the cross-cell SUM is an "
        "order-independent INTEGER and hash-matches DuckDB's HUGEINT "
        "``//`` bit-for-bit — no float-summation-order hazard, the "
        "same discipline as the fixed-point PageRank. Scale shape: one "
        "contingency aggregation to the (lang x source) grain (the "
        "only data-sized shuffle), margins re-aggregated from those "
        "cells (never a second scan), broadcast back onto the "
        "cell-grain frame. Intermediates bounded by (n*10^6)^2 < "
        "10^38 up to n ~ 10^13 docs. Core: operators/drift.py::"
        "chi2_scaled, equivalence-tested against its pure-Python serial "
        "twin on randomized contingency tables "
        "(tests/test_drift_properties.py).",
)
def drift_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    return chi2_scaled(o, "lang", "source").withColumnRenamed(
        "n_obs", "n_docs"
    )


def _o_psi_daily() -> str:
    """Generated oracle for the daily PSI monitor: the same pivoted
    20-bin histogram and the same fixed left-associated contribution
    chain (term order is part of the cross-engine contract)."""
    r_cases = ",\n                   ".join(
        f"SUM(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS r{i}"
        for i in range(_PSI_NB)
    )
    c_cases = ",\n                   ".join(
        f"SUM(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS c{i}"
        for i in range(_PSI_NB)
    )
    terms = "\n                 + ".join(
        f"((CAST(r{i} + 1 AS DOUBLE) / (n_ref + {_PSI_NB}))"
        f" - (CAST(c{i} + 1 AS DOUBLE) / (n_cand + {_PSI_NB})))"
        f" * LN((CAST(r{i} + 1 AS DOUBLE) / (n_ref + {_PSI_NB}))"
        f" / (CAST(c{i} + 1 AS DOUBLE) / (n_cand + {_PSI_NB})))"
        for i in range(_PSI_NB)
    )
    return f"""
        WITH b AS (
            SELECT ts,
                   LEAST(CAST(FLOOR(value / {_PSI_W}) AS INT), {_PSI_NB - 1})
                       AS bin
            FROM events
        ), ref AS (
            SELECT {r_cases},
                   COUNT(*) AS n_ref
            FROM b WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        ), d AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   {c_cases},
                   CAST(COUNT(*) AS BIGINT) AS n_cand
            FROM b GROUP BY 1
        )
        SELECT day, n_cand,
               ROUND({terms}, 10) AS psi
        FROM d CROSS JOIN ref
        ORDER BY day
    """


@register(
    "drift_psi_daily_monitor",
    oracle=_o_psi_daily(),
    tags=("llm", "drift", "A8", "streaming-shape"),
    doc="Per-day PSI drift monitor against a static first-half-month "
        "reference — the production spelling of drift detection: a "
        "standing daily score stream, not a one-shot comparison. The "
        "day's whole 20-bin histogram pivots into ONE windowed "
        "aggregation (so the identical code runs as a watermarked "
        "stream — Structured Streaming twin: streaming/events.py::"
        "daily_psi_monitor, equivalence-tested), the reference is a "
        "broadcast 1-row frame, and the cross-bin sum is a FIXED "
        "left-associated 20-term chain mirrored token-for-token by the "
        "oracle (term order is part of the contract; ln() rounded away "
        "at the 10th decimal). Scale: one scan + one day-keyed shuffle "
        "of 21-column partial aggregates; the reference build is a "
        "second scan of the frozen half, amortized across every "
        "monitored day. operators/drift.py::psi_daily_windows.",
)
def drift_psi_daily_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import psi_daily_windows, psi_reference_row

    ev = read_events(spark, sf_dir)
    ref = psi_reference_row(
        ev.filter(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"))
    )
    return psi_daily_windows(ev, ref).orderBy("day")
