"""Customer/product analytics layer: RFM segmentation, Pareto/ABC
classification, market-basket affinity.

These are the dashboard-analytics staples a Power-BI user of the
reference warehouse builds on top of the star schema (the reference's
DAX layer stops at the 14 registered measures; these extend the same
semantic surface — SURVEY.md §2.10 note on the ADAX iteration).

Scale design notes (100 TB):
  - RFM scores map-side against broadcast percentile_disc cutpoints — no
    window at all, so customer cardinality never bottlenecks a single
    partition. The Pareto cumulative share is a range-partitioned
    prefix sum (operators/ranking.py::ordered_prefix_sum) — no
    single-partition window even at catalog-scale (millions of
    products); the grand total is a broadcast 1-row frame.
  - The basket self-join is keyed on invoiceid (co-partitioned shuffle,
    no broadcast of the fact); fan-out is bounded by per-order line
    count (≤ 7 in TPC-H-shaped data), so the pair explosion is linear
    in fact size with a small constant, then TakeOrderedAndProject
    caps the output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.ranking import ordered_prefix_sum
from ..sources.star import StarSchema, with_star
from ._helpers import int_sum, money_sum, o_int_sum, o_money_sum
from .catalog import register


@register(
    "rfm_customer_segments",
    oracle=with_star("""
        , base AS (
            SELECT f.customer_key,
                   date_diff('day', MAX(d.full_date),
                             (SELECT MAX(full_date) FROM dim_date)) AS recency_days,
                   CAST(COUNT(DISTINCT f.invoiceid) AS BIGINT) AS frequency,
                   {m} AS monetary
            FROM fact_sales f
            JOIN dim_date d USING (date_key)
            GROUP BY f.customer_key
        ),
        cuts AS (
            SELECT
                percentile_disc(0.25) WITHIN GROUP (ORDER BY recency_days) AS r1,
                percentile_disc(0.50) WITHIN GROUP (ORDER BY recency_days) AS r2,
                percentile_disc(0.75) WITHIN GROUP (ORDER BY recency_days) AS r3,
                percentile_disc(0.25) WITHIN GROUP (ORDER BY -frequency)   AS f1,
                percentile_disc(0.50) WITHIN GROUP (ORDER BY -frequency)   AS f2,
                percentile_disc(0.75) WITHIN GROUP (ORDER BY -frequency)   AS f3,
                percentile_disc(0.25) WITHIN GROUP (ORDER BY -monetary)    AS m1,
                percentile_disc(0.50) WITHIN GROUP (ORDER BY -monetary)    AS m2,
                percentile_disc(0.75) WITHIN GROUP (ORDER BY -monetary)    AS m3
            FROM base
        ),
        scored AS (
            SELECT b.*,
                   1 + CASE WHEN recency_days > r1 THEN 1 ELSE 0 END
                     + CASE WHEN recency_days > r2 THEN 1 ELSE 0 END
                     + CASE WHEN recency_days > r3 THEN 1 ELSE 0 END AS r_score,
                   1 + CASE WHEN -frequency > f1 THEN 1 ELSE 0 END
                     + CASE WHEN -frequency > f2 THEN 1 ELSE 0 END
                     + CASE WHEN -frequency > f3 THEN 1 ELSE 0 END AS f_score,
                   1 + CASE WHEN -monetary > m1 THEN 1 ELSE 0 END
                     + CASE WHEN -monetary > m2 THEN 1 ELSE 0 END
                     + CASE WHEN -monetary > m3 THEN 1 ELSE 0 END AS m_score
            FROM base b, cuts
        )
        SELECT customer_key, recency_days, frequency, monetary,
               r_score, f_score, m_score,
               CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                 || CAST(m_score AS VARCHAR) AS rfm_code,
               CASE WHEN r_score = 1 AND f_score = 1 THEN 'champion'
                    WHEN r_score >= 3 AND f_score <= 2 THEN 'at_risk'
                    WHEN r_score <= 2 AND f_score >= 3 THEN 'recent_low_freq'
                    ELSE 'regular' END AS segment
        FROM scored
    """.format(m=o_money_sum("f.totalamount"))),
    tags=("analytics", "W1", "A3", "A6"),
    doc="RFM segmentation: recency/frequency/monetary quartile scores per "
        "customer (score 1 = best; equal values share a score). Extends "
        "the DAX measure layer (Iteration 4). Scored MAP-SIDE against "
        "exact percentile_disc cutpoints from one 1-row aggregation — no "
        "global window touches the customer frame, so the scoring stage "
        "is embarrassingly parallel at any cardinality.",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    per_cust = (
        s.fact_sales
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .groupBy("customer_key")
        .agg(
            F.max("full_date").alias("last_date"),
            F.countDistinct("invoiceid").cast("long").alias("frequency"),
            money_sum("totalamount").alias("monetary"),
        )
    )
    anchor = (
        s.dim_date.agg(F.max("full_date").alias("anchor_date"))
    )
    base = (
        per_cust.crossJoin(anchor)
        .select(
            "customer_key",
            F.datediff("anchor_date", "last_date").alias("recency_days"),
            "frequency",
            "monetary",
        )
        # customer-grain frame read by the cutpoint agg AND the scorer —
        # persist so the fact aggregation runs once
        .persist()
    )

    # one 1-row frame with all nine quartile boundaries (exact
    # percentile_disc keeps the DuckDB oracle bit-identical; at extreme
    # distinct-value cardinality swap in approx_percentile — same shape)
    def _disc(q: float, order_expr: str) -> Column:
        return F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY {order_expr})")

    cuts = base.agg(
        *[
            _disc(q, expr).alias(f"{tag}{i}")
            for tag, expr in (("r", "recency_days"), ("f", "-frequency"), ("m", "-monetary"))
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def _score(value: Column, tag: str) -> Column:
        return (
            F.lit(1)
            + (value > F.col(f"{tag}1")).cast("int")
            + (value > F.col(f"{tag}2")).cast("int")
            + (value > F.col(f"{tag}3")).cast("int")
        )

    # hint kept: the other side is small too, and unhinted the planner builds it
    scored = base.crossJoin(F.broadcast(cuts)).select(
        "customer_key", "recency_days", "frequency", "monetary",
        _score(F.col("recency_days"), "r").alias("r_score"),
        _score(-F.col("frequency"), "f").alias("f_score"),
        _score(-F.col("monetary"), "m").alias("m_score"),
    )
    return scored.select(
        "customer_key", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
        F.concat(F.col("r_score").cast("string"),
                 F.col("f_score").cast("string"),
                 F.col("m_score").cast("string")).alias("rfm_code"),
        F.when((F.col("r_score") == 1) & (F.col("f_score") == 1), "champion")
        .when((F.col("r_score") >= 3) & (F.col("f_score") <= 2), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "recent_low_freq")
        .otherwise("regular")
        .alias("segment"),
    )


@register(
    "pareto_product_abc",
    oracle=with_star("""
        , rev AS (
            SELECT p.category, f.product_key,
                   SUM(f.totalamount) AS rev_dec
            FROM fact_sales f
            JOIN dim_product p USING (product_key)
            GROUP BY p.category, f.product_key
        ),
        cum AS (
            SELECT category, product_key,
                   CAST(ROUND(rev_dec, 2) AS DOUBLE) AS revenue,
                   CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, product_key
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS cum_share
            FROM rev
        )
        SELECT category, product_key, revenue, cum_share,
               CASE WHEN cum_share <= 0.8 THEN 'A'
                    WHEN cum_share <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM cum
    """),
    tags=("analytics", "W2", "W3", "A10"),
    doc="Pareto/ABC product classification: cumulative revenue share over "
        "products ranked desc (80/95 cut). Cumulative sums are exact "
        "DECIMAL; only the terminal shares are IEEE doubles.",
)
def pareto_product_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    rev = (
        s.fact_sales
        .join(s.dim_product.select("product_key", "category"), "product_key")
        .groupBy("category", "product_key")
        .agg(F.sum("totalamount").alias("rev_dec"))
        # product-grain frame read by the prefix sum AND the grand total —
        # persist so the fact aggregation runs once (bench evicts per rep)
        .persist()
    )
    # distributed cumulative revenue: range-partitioned prefix sum
    # (operators/ranking.py) — the plain Window.orderBy twin funnels the
    # whole catalog through one partition, the shape r3 eliminated from
    # the training-order sampler; (rev_dec, product_key) is a strict order
    ranked = ordered_prefix_sum(
        rev,
        [("rev_dec", "desc"), ("product_key", "asc")],
        "rev_dec",
        out="_cum_dec",
    )
    grand = rev.agg(F.sum("rev_dec").alias("_grand_dec"))
    cum = ranked.crossJoin(grand).select(
        "category",
        "product_key",
        F.round(F.col("rev_dec"), 2).cast("double").alias("revenue"),
        (
            F.col("_cum_dec").cast("double") / F.col("_grand_dec").cast("double")
        ).alias("cum_share"),
    )
    return cum.select(
        "category", "product_key", "revenue", "cum_share",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "basket_product_pairs",
    oracle=with_star("""
        , items AS (
            SELECT DISTINCT invoiceid, product_key FROM fact_sales
        ),
        pairs AS (
            SELECT a.product_key AS product_a, b.product_key AS product_b,
                   CAST(COUNT(*) AS BIGINT) AS n_baskets
            FROM items a
            JOIN items b ON a.invoiceid = b.invoiceid
                        AND a.product_key < b.product_key
            GROUP BY a.product_key, b.product_key
        )
        SELECT product_a, product_b, n_baskets
        FROM pairs
        ORDER BY n_baskets DESC, product_a, product_b
        LIMIT 20
    """),
    tags=("analytics", "J4", "T2", "A13"),
    doc="Market-basket affinity: top-20 product pairs co-occurring in one "
        "invoice. Self-join co-partitioned on invoiceid; fan-out bounded "
        "by per-order line count.",
)
def basket_product_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shuffle on invoiceid (collect_set partial-aggregates AND dedups
    # map-side), pairs generated map-side from the sorted per-basket
    # array — no self-join, so the r2/r3 plan's second invoiceid
    # exchange and the SMJ disappear. Per-basket fan-out is bounded by
    # order line count (≤7 in TPC-H-shaped data), so the array and the
    # k·(k-1)/2 pair explosion stay O(1) per row at 100 TB.
    s = StarSchema(spark, sf_dir)
    per_invoice = (
        s.fact_sales.select("invoiceid", "product_key")
        .groupBy("invoiceid")
        .agg(F.array_sort(F.collect_set("product_key")).alias("ps"))
    )
    pairs = per_invoice.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS product_a, y AS product_b))))"
            )
        ).alias("p")
    ).select("p.product_a", "p.product_b")
    counts = pairs.groupBy("product_a", "product_b").agg(
        F.count("*").cast("long").alias("n_baskets")
    )
    return counts.orderBy(
        F.desc("n_baskets"), F.asc("product_a"), F.asc("product_b")
    ).limit(20)


@register(
    "retention_cohort_matrix",
    oracle=with_star("""
        , activity AS (
            SELECT DISTINCT f.customer_key,
                   date_trunc('month', d.full_date)::DATE AS act_month
            FROM fact_sales f
            JOIN dim_date d USING (date_key)
        ),
        cohorts AS (
            SELECT customer_key, MIN(act_month) AS cohort_month
            FROM activity GROUP BY customer_key
        ),
        sizes AS (
            SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS n_cohort
            FROM cohorts GROUP BY cohort_month
        ),
        cells AS (
            SELECT c.cohort_month,
                   CAST(date_diff('month', c.cohort_month, a.act_month) AS INT)
                       AS month_offset,
                   CAST(COUNT(DISTINCT a.customer_key) AS BIGINT) AS n_active
            FROM activity a
            JOIN cohorts c USING (customer_key)
            GROUP BY 1, 2
        )
        SELECT strftime(cells.cohort_month, '%Y-%m') AS cohort_month,
               month_offset, n_active, n_cohort,
               CAST(n_active AS DOUBLE) / n_cohort AS retention_rate
        FROM cells
        JOIN sizes USING (cohort_month)
        WHERE month_offset <= 11
    """),
    tags=("analytics", "A3", "A6", "J1", "cohort"),
    doc="Cohort retention matrix: customers bucketed by first-purchase "
        "month, retention_rate = active/cohort-size per month offset "
        "(0..11). Extends olap_cohort_first_purchase to the full "
        "triangle. Activity is reduced to distinct customer-months "
        "before any join, so the matrix build touches |customers x "
        "active months|, not the fact.",
)
def retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    activity = (
        s.fact_sales
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .select(
            "customer_key",
            F.date_trunc("month", "full_date").cast("date").alias("act_month"),
        )
        .distinct()
        # referenced three times below (cells directly, cohorts, sizes);
        # Catalyst does not dedupe common subtrees, so without this the
        # fact scan + distinct would run 3x per execution. |customers x
        # active months| rows — small; CacheManager keys on the
        # canonicalized plan, so repeat calls share one entry.
        .persist()
    )
    cohorts = activity.groupBy("customer_key").agg(
        F.min("act_month").alias("cohort_month")
    )
    sizes = cohorts.groupBy("cohort_month").agg(
        F.count("*").cast("long").alias("n_cohort")
    )
    cells = (
        activity.join(cohorts, "customer_key")
        .select(
            "cohort_month",
            F.months_between("act_month", "cohort_month").cast("int").alias("month_offset"),
            "customer_key",
        )
        .groupBy("cohort_month", "month_offset")
        .agg(F.countDistinct("customer_key").cast("long").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_month")
        .filter(F.col("month_offset") <= 11)
        .select(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort_month"),
            "month_offset",
            "n_active",
            "n_cohort",
            (F.col("n_active").cast("double") / F.col("n_cohort")).alias("retention_rate"),
        )
    )


#: recommender knobs: pair-support floor and per-product list size
_RECO_MIN_PAIR = 2
_RECO_N = 3


@register(
    "reco_item_item_topn",
    oracle=with_star(f"""
        , items AS (
            SELECT DISTINCT invoiceid, product_key FROM fact_sales
        ),
        supp AS (
            SELECT product_key, CAST(COUNT(*) AS BIGINT) AS n_supp
            FROM items GROUP BY product_key
        ),
        und AS (
            SELECT a.product_key AS pa, b.product_key AS pb,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM items a
            JOIN items b ON a.invoiceid = b.invoiceid
                        AND a.product_key < b.product_key
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_RECO_MIN_PAIR}
        ),
        directed AS (
            SELECT pa AS product_key, pb AS rec_product_key, n_ab FROM und
            UNION ALL
            SELECT pb, pa, n_ab FROM und
        ),
        scored AS (
            SELECT d.product_key, d.rec_product_key, d.n_ab,
                   CAST(d.n_ab AS DOUBLE)
                       / sqrt(CAST(sa.n_supp * sb.n_supp AS DOUBLE)) AS cosine
            FROM directed d
            JOIN supp sa ON sa.product_key = d.product_key
            JOIN supp sb ON sb.product_key = d.rec_product_key
        )
        SELECT product_key, rec_product_key, n_ab, cosine,
               CAST(rec_rank AS INTEGER) AS rec_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY product_key
                                         ORDER BY cosine DESC, rec_product_key)
                          AS rec_rank
            FROM scored
        )
        WHERE rec_rank <= {_RECO_N}
    """),
    tags=("analytics", "reco", "W6", "J1"),
    doc=f"Item-item collaborative filtering: top-{_RECO_N} 'customers "
        "also bought' per product, scored by co-occurrence cosine "
        "n_ab / sqrt(n_a·n_b) over invoice baskets (Sarwar et al. "
        "2001's memory-based recommender, the one every commerce "
        "dashboard ships) with a pair-support floor of "
        f"{_RECO_MIN_PAIR}. The basket-pairs shape bounds the pair "
        "explosion by per-order line count; supports broadcast at "
        "product cardinality; the score is ONE IEEE division of exact "
        "integer counts (sqrt correctly rounded) and the per-product "
        "ranking window partitions on product_key — never global. "
        "Deterministic under ties (cosine DESC, rec_product_key).",
)
def reco_item_item_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.pins import fresh_pins, pin

    s = StarSchema(spark, sf_dir)
    fresh_pins()
    per_invoice = pin(
        s.fact_sales.select("invoiceid", "product_key")
        .groupBy("invoiceid")
        .agg(F.array_sort(F.collect_set("product_key")).alias("ps"))
    )
    supp = (
        per_invoice.select(F.explode("ps").alias("product_key"))
        .groupBy("product_key")
        .agg(F.count("*").cast("long").alias("n_supp"))
    )
    directed = (
        per_invoice.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "flatten(transform(slice(ps, i + 2, size(ps)), "
                    "y -> array(struct(x AS product_key, y AS rec_product_key), "
                    "struct(y AS product_key, x AS rec_product_key))))))"
                )
            ).alias("p")
        )
        .select("p.product_key", "p.rec_product_key")
        .groupBy("product_key", "rec_product_key")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= _RECO_MIN_PAIR)
    )
    sa = supp.select(F.col("product_key"), F.col("n_supp").alias("_na"))
    sb = supp.select(
        F.col("product_key").alias("rec_product_key"), F.col("n_supp").alias("_nb")
    )
    scored = (
        directed.join(F.broadcast(sa), "product_key")
        .join(F.broadcast(sb), "rec_product_key")
        .select(
            "product_key", "rec_product_key", "n_ab",
            (
                F.col("n_ab").cast("double")
                / F.sqrt((F.col("_na") * F.col("_nb")).cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("product_key").orderBy(
        F.desc("cosine"), F.asc("rec_product_key")
    )
    return (
        scored.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= _RECO_N)
        .withColumn("rec_rank", F.col("rec_rank").cast("int"))
    )
