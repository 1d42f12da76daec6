"""Statistical-analytics layer: distribution windows (ntile / percent_rank /
cume_dist), equi-width histograms, exact-sum linear regression, and
market-basket association rules.

These extend the reference's dashboard-analytics surface (the DAX layer,
SURVEY.md §2.10) with the distribution/affinity views a Power-BI analyst
builds next: customer-value deciles, order-size histograms, revenue trend
lines, and product recommendation rules on top of the §2.11 basket pairs.

Scale design notes (100 TB):
  - The decile entry needs a GLOBAL rank over the customer frame — the one
    window shape that collapses to a single partition.  It is computed with
    ``operators/ranking.py::ordered_prefix_sum`` (range-partitioned prefix
    sum of ones == row_number), so no stage holds more than ~N/P rows;
    ntile/percent_rank/cume_dist are then pure MAP-SIDE arithmetic on
    (rank, n) against a broadcast 1-row count.  The oracle runs the real
    ``ntile(10)/percent_rank()/cume_dist()`` window functions, proving the
    decomposition bit-identical to the engine builtins.
  - The trend entry reduces the fact to calendar grain (bounded by the
    date domain, the documented allowlisted shape) then to ONE row of
    exact decimal/hugeint moment sums; the regression closed form runs on
    those exact sums in identically-shaped IEEE double expressions in
    both dialects, so no floating-point summation-order drift exists
    anywhere.
  - The histogram buckets map-side on exact integer cents (one shuffle to
    the invoice grain, then a ≤n_buckets-row agg).
  - Association rules reuse the basket-pairs shape (collect_set per
    invoice, map-side pair explosion, fan-out bounded by order line
    count); per-product supports are product-cardinality and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pins import fresh_pins, pin
from ..operators.ranking import ordered_prefix_sum
from ..sources.star import StarSchema, with_star
from ._helpers import money_sum, o_money_sum
from .catalog import register

#: deciles knob (matches the oracle's ntile(10))
_NTILE_K = 10

#: histogram knob: 20 equi-width buckets of $25,000 over invoice totals
#: (TPC-H-shaped order totals top out ~$500k)
_HIST_W_CENTS = 2_500_000
_HIST_NB = 20


@register(
    "window_customer_deciles",
    oracle=with_star("""
        , per_cust AS (
            SELECT customer_key, {m} AS monetary
            FROM fact_sales GROUP BY customer_key
        )
        SELECT customer_key, monetary,
               CAST(ROW_NUMBER() OVER w AS BIGINT)      AS rn,
               CAST(ntile({k}) OVER w AS INT)           AS decile,
               percent_rank() OVER w                    AS pct_rank,
               cume_dist() OVER w                       AS cume
        FROM per_cust
        WINDOW w AS (ORDER BY monetary DESC, customer_key)
    """.format(m=o_money_sum("totalamount"), k=_NTILE_K)),
    tags=("analytics", "W", "ntile", "T1"),
    doc="Customer-value deciles: global rank, ntile(10) bucket, "
        "percent_rank and cume_dist over per-customer revenue. The Spark "
        "side never runs an unpartitioned window: rank is a "
        "range-partitioned prefix sum of ones (ordered_prefix_sum), and "
        "ntile/percent_rank/cume_dist are map-side closed forms on "
        "(rank, n) vs a broadcast count — the oracle's engine-native "
        "window functions pin the decomposition exactly. Extends the DAX "
        "layer with the segmentation view (SURVEY §2.10); W-family "
        "coverage for ntile/percent_rank/cume_dist.",
)
def window_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    per_cust = (
        s.fact_sales.groupBy("customer_key")
        .agg(money_sum("totalamount").alias("monetary"))
        .withColumn("_one", F.lit(1))
    )
    ranked = ordered_prefix_sum(
        per_cust,
        [("monetary", "desc"), ("customer_key", "asc")],
        "_one",
        out="rn",
    ).drop("_one")
    n1 = per_cust.groupBy().agg(F.count("*").alias("_n"))

    rn = F.col("rn")
    n = F.col("_n")
    # ntile(k) closed form: the first (n % k) buckets take q+1 rows, the
    # rest take q = n div k (SQL-standard semantics, both engines)
    q = (n / _NTILE_K).cast("long")  # floor div (n, k positive)
    rem = n % _NTILE_K
    big = q + 1
    in_big = rn <= rem * big
    decile = F.when(in_big, ((rn - 1) / big).cast("long") + 1).otherwise(
        rem + ((rn - rem * big - 1) / q).cast("long") + 1
    )
    return (
        ranked.crossJoin(n1)
        .select(
            "customer_key",
            "monetary",
            rn.cast("long").alias("rn"),
            decile.cast("int").alias("decile"),
            # strict total order ⇒ rank == row_number, so the engine
            # formulas reduce to these single IEEE divisions
            ((rn - 1).cast("double") / (n - 1).cast("double")).alias("pct_rank"),
            (rn.cast("double") / n.cast("double")).alias("cume"),
        )
    )


@register(
    "stats_daily_revenue_trend",
    oracle=with_star("""
        , daily AS (
            SELECT d.full_date,
                   CAST(SUM(f.totalamount) * 100 AS BIGINT) AS cents
            FROM fact_sales f
            JOIN dim_date d USING (date_key)
            GROUP BY d.full_date
        ),
        xy AS (
            SELECT CAST(date_diff('day', (SELECT MIN(full_date) FROM daily),
                                  full_date) AS BIGINT) AS x,
                   cents AS y
            FROM daily
        ),
        m AS (
            SELECT CAST(COUNT(*) AS HUGEINT)          AS n,
                   CAST(SUM(x) AS HUGEINT)            AS sx,
                   CAST(SUM(y) AS HUGEINT)            AS sy,
                   SUM(CAST(x AS HUGEINT) * y)        AS sxy,
                   SUM(CAST(x AS HUGEINT) * x)        AS sxx,
                   SUM(CAST(y AS HUGEINT) * y)        AS syy
            FROM xy
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)     AS slope_cents_per_day,
               (CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE)                     AS intercept_cents,
               (CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE))
                   / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
        FROM m
    """),
    tags=("analytics", "regression", "A11"),
    doc="Least-squares revenue trend: slope/intercept/R² of daily revenue "
        "(exact int cents) vs day index. Every moment sum (n, Σx, Σy, "
        "Σxy, Σx², Σy²) is EXACT decimal/hugeint arithmetic — the closed "
        "form then runs on one broadcast row in identically-shaped IEEE "
        "double expressions in both dialects, so there is no "
        "summation-order float drift anywhere (the same exactness "
        "discipline as ts_anomaly_zscore_daily). Calendar-grain "
        "intermediate (bounded by the date domain); final agg is a "
        "scalar-aggregate SinglePartition, the allowlisted shape.",
)
def stats_daily_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    daily = (
        s.fact_sales
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .groupBy("full_date")
        .agg((F.sum("totalamount") * 100).cast("long").alias("cents"))
    )
    min_d = daily.groupBy().agg(F.min("full_date").alias("_d0"))
    xy = daily.crossJoin(min_d).select(
        F.datediff("full_date", "_d0").cast("long").alias("x"),
        F.col("cents").alias("y"),
    )
    dec = "decimal(38,0)"
    m = xy.groupBy().agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    den1 = (n * sxx - sx * sx).cast("double")
    den2 = (n * syy - sy * sy).cast("double")
    slope = num / den1
    return m.select(
        n.cast("long").alias("n_days"),
        slope.alias("slope_cents_per_day"),
        ((sy.cast("double") - slope * sx.cast("double")) / n.cast("double"))
            .alias("intercept_cents"),
        ((num * num) / (den1 * den2)).alias("r2"),
    )


@register(
    "histogram_invoice_totals",
    oracle=with_star("""
        , inv AS (
            SELECT invoiceid,
                   CAST(SUM(totalamount) * 100 AS BIGINT) AS cents
            FROM fact_sales GROUP BY invoiceid
        ),
        b AS (
            SELECT LEAST(cents // {w}, {top}) AS bucket, cents FROM inv
        )
        SELECT CAST(bucket AS INT)                          AS bucket,
               CAST(bucket * {w} / 100 AS BIGINT)           AS lo_dollars,
               CAST((bucket + 1) * {w} / 100 AS BIGINT)     AS hi_dollars,
               CAST(COUNT(*) AS BIGINT)                     AS n_invoices,
               CAST(ROUND(SUM(cents) / 100.0, 2) AS DOUBLE) AS sum_amount
        FROM b GROUP BY bucket
    """.format(w=_HIST_W_CENTS, top=_HIST_NB - 1)),
    tags=("analytics", "histogram", "A6"),
    doc="Equi-width histogram of invoice totals: 20 × $25k buckets "
        "(top bucket open-ended) with per-bucket counts and exact sums. "
        "Bucketing is integer division on exact cents — map-side after "
        "the one invoice-grain shuffle; the final agg has ≤20 groups. "
        "The dashboard 'order value distribution' visual the reference's "
        "DAX layer stops short of.",
)
def histogram_invoice_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    inv = (
        s.fact_sales.groupBy("invoiceid")
        .agg((F.sum("totalamount") * 100).cast("long").alias("cents"))
    )
    bucket = F.least(
        F.expr(f"cents div {_HIST_W_CENTS}"), F.lit(_HIST_NB - 1).cast("long")
    )
    return (
        inv.select(bucket.alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_invoices"),
            F.round(F.sum("cents") / 100.0, 2).cast("double").alias("sum_amount"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            (F.col("bucket") * _HIST_W_CENTS / 100).cast("long").alias("lo_dollars"),
            ((F.col("bucket") + 1) * _HIST_W_CENTS / 100).cast("long").alias("hi_dollars"),
            "n_invoices",
            "sum_amount",
        )
    )


@register(
    "basket_association_rules",
    oracle=with_star("""
        , items AS (
            SELECT DISTINCT invoiceid, product_key FROM fact_sales
        ),
        total AS (SELECT CAST(COUNT(DISTINCT invoiceid) AS BIGINT) AS n_total FROM items),
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
        ),
        rules AS (
            SELECT pa AS antecedent, pb AS consequent, n_ab FROM und
            UNION ALL
            SELECT pb, pa, n_ab FROM und
        )
        SELECT r.antecedent, r.consequent, r.n_ab,
               sa.n_supp AS n_antecedent, sc.n_supp AS n_consequent,
               CAST(r.n_ab AS DOUBLE) / sa.n_supp AS confidence,
               CAST(r.n_ab * t.n_total AS DOUBLE)
                   / CAST(sa.n_supp * sc.n_supp AS DOUBLE) AS lift
        FROM rules r
        JOIN supp sa ON sa.product_key = r.antecedent
        JOIN supp sc ON sc.product_key = r.consequent
        CROSS JOIN total t
        WHERE r.n_ab >= 2
        ORDER BY lift DESC, confidence DESC, antecedent, consequent
        LIMIT 50
    """),
    tags=("analytics", "association-rules", "J1", "T2"),
    doc="Association rules over invoice baskets: confidence = "
        "P(consequent|antecedent), lift = observed/expected co-occurrence "
        "— min support 2, top-50 by lift. Pair counts come from the "
        "basket_product_pairs shape (collect_set per invoice, map-side "
        "pair explosion, fan-out bounded by order line count); "
        "per-product supports are product-cardinality and broadcast "
        "(falls back to a shuffle join if a 100 TB catalog outgrows the "
        "broadcast threshold). Ratios are single IEEE divisions of exact "
        "integer counts — no float drift.",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE basket materialization feeds everything: basket count (N),
    # per-product supports (explode of the set arrays — already
    # invoice-distinct), and the pair counts. Both rule directions are
    # emitted MAP-SIDE inside the pair explosion, so a single (ante,
    # cons) aggregation replaces the earlier union-of-aggregates (which
    # re-ran the whole pair pipeline per direction — measured 2.8s →
    # ~1.4s at sf0.1). Shuffles: invoice grain, directed-pair grain,
    # product grain (tiny) — three, all key-partitioned.
    s = StarSchema(spark, sf_dir)
    fresh_pins()  # release the previous pinned invocation (pins.py)
    per_invoice = pin(  # query-internal: three consumers below
        s.fact_sales.select("invoiceid", "product_key")
        .groupBy("invoiceid")
        .agg(F.array_sort(F.collect_set("product_key")).alias("ps"))
    )
    total = per_invoice.groupBy().agg(F.count("*").cast("long").alias("n_total"))
    supp = (
        per_invoice.select(F.explode("ps").alias("product_key"))
        .groupBy("product_key")
        .agg(F.count("*").cast("long").alias("n_supp"))
    )
    rules = (
        per_invoice.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "flatten(transform(slice(ps, i + 2, size(ps)), "
                    "y -> array(struct(x AS antecedent, y AS consequent), "
                    "struct(y AS antecedent, x AS consequent))))))"
                )
            ).alias("p")
        )
        .select("p.antecedent", "p.consequent")
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    sa = supp.select(
        F.col("product_key").alias("antecedent"), F.col("n_supp").alias("n_antecedent")
    )
    sc = supp.select(
        F.col("product_key").alias("consequent"), F.col("n_supp").alias("n_consequent")
    )
    out = (
        rules.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(total)
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_antecedent",
            "n_consequent",
            (F.col("n_ab").cast("double") / F.col("n_antecedent")).alias("confidence"),
            (
                (F.col("n_ab") * F.col("n_total")).cast("double")
                / (F.col("n_antecedent") * F.col("n_consequent")).cast("double")
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("lift"), F.desc("confidence"), F.asc("antecedent"), F.asc("consequent")
    ).limit(50)


#: applyInPandas output schema for the weighted-median UDAF
_WM_SCHEMA = (
    "category string, median_price double, n_lines bigint, total_qty bigint"
)


def _weighted_median_batch(pdf):
    """Per-category grouped UDAF body: quantity-weighted lower median of
    unit price, on exact integer cents (no float compares anywhere).

    Arrow hands one category's rows as a pandas frame; the weighted
    median is the smallest price whose cumulative quantity reaches half
    the total (2·cum ≥ tot — percentile_disc-style, tie-safe: any
    ordering within a run of equal cents selects the same cents value).
    """
    import pandas as pd

    srt = pdf.sort_values("cents", kind="mergesort")
    w = srt["quantity"].to_numpy()
    cum = w.cumsum()
    tot = int(cum[-1])
    cents = int(srt["cents"].to_numpy()[(2 * cum >= tot).argmax()])
    return pd.DataFrame(
        {
            "category": [pdf["category"].iloc[0]],
            "median_price": [cents / 100.0],
            "n_lines": [len(pdf)],
            "total_qty": [tot],
        }
    )


@register(
    "udaf_weighted_median_price",
    oracle=with_star("""
        , px AS (
            SELECT p.category,
                   CAST(f.unitprice * 100 AS BIGINT) AS cents,
                   CAST(f.quantity AS BIGINT) AS quantity
            FROM fact_sales f JOIN dim_product p USING (product_key)
        ),
        c AS (
            SELECT category, cents,
                   SUM(quantity) OVER (PARTITION BY category ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(quantity) OVER (PARTITION BY category) AS tot
            FROM px
        )
        SELECT category,
               CAST(MIN(CASE WHEN 2 * cum >= tot THEN cents END) AS DOUBLE)
                   / 100 AS median_price,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(MIN(tot) AS BIGINT) AS total_qty
        FROM c GROUP BY category
    """),
    tags=("analytics", "udaf", "pandas-udf", "A9"),
    doc="Quantity-weighted median unit price per category — the §2.10 "
        "grouped-UDAF surface demonstrated end-to-end: an Arrow-batched "
        "applyInPandas aggregate (one shuffle on the group key, "
        "vectorized numpy body, never row-at-a-time) cross-checked "
        "against a pure-SQL oracle, so the Python path carries the same "
        "exactness contract as the JVM entries (integer-cents compares, "
        "one terminal IEEE division). Weighted median has no built-in "
        "Spark aggregate — this is the legitimate UDF-as-last-resort "
        "case the engine reserves Python for; per-group size is "
        "line-count per category (bounded fan-in; a skewed category at "
        "100 TB would pre-aggregate to (category, cents) grain first, "
        "shrinking groups to the distinct-price count).",
)
def udaf_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    px = (
        s.fact_sales.select("product_key", "unitprice", "quantity")
        .join(s.dim_product.select("product_key", "category"), "product_key")
        .select(
            "category",
            (F.col("unitprice") * 100).cast("long").alias("cents"),
            F.col("quantity").cast("long").alias("quantity"),
        )
    )
    return px.groupBy("category").applyInPandas(_weighted_median_batch, _WM_SCHEMA)


@register(
    "category_top2_products",
    oracle=with_star("""
        , rev AS (
            SELECT p.category, f.product_key, {m} AS revenue
            FROM fact_sales f JOIN dim_product p USING (product_key)
            GROUP BY p.category, f.product_key
        ),
        w AS (
            SELECT category, product_key, revenue,
                   ROW_NUMBER() OVER win AS rn,
                   first_value(product_key) OVER win2 AS top_product,
                   first_value(revenue) OVER win2 AS top_revenue,
                   nth_value(product_key, 2) OVER win2 AS runner_up_product,
                   nth_value(revenue, 2) OVER win2 AS runner_up_revenue
            FROM rev
            WINDOW win AS (PARTITION BY category
                           ORDER BY revenue DESC, product_key),
                   win2 AS (PARTITION BY category
                            ORDER BY revenue DESC, product_key
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING)
        )
        SELECT category, top_product, top_revenue,
               runner_up_product, runner_up_revenue
        FROM w WHERE rn = 1
    """.format(m=o_money_sum("f.totalamount"))),
    tags=("analytics", "W6", "first-value", "nth-value"),
    doc="Champion and runner-up product per category via "
        "first_value/nth_value over the full partition frame (ROWS "
        "UNBOUNDED both ways — nth_value under the default frame would "
        "see only a prefix), filtered to one row per category. "
        "Completes the W-family: explicit first_value/nth_value "
        "coverage next to the lag/lead/ntile entries; the window "
        "partitions by category (bounded frames), never globally. "
        "A category with one product surfaces NULL runner-up.",
)
def category_top2_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    s = StarSchema(spark, sf_dir)
    rev = (
        s.fact_sales
        .join(s.dim_product.select("product_key", "category"), "product_key")
        .groupBy("category", "product_key")
        .agg(money_sum("totalamount").alias("revenue"))
    )
    win = Window.partitionBy("category").orderBy(F.desc("revenue"), F.asc("product_key"))
    win2 = win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        rev.select(
            "category",
            F.row_number().over(win).alias("rn"),
            F.first("product_key").over(win2).alias("top_product"),
            F.first("revenue").over(win2).alias("top_revenue"),
            F.nth_value("product_key", 2).over(win2).alias("runner_up_product"),
            F.nth_value("revenue", 2).over(win2).alias("runner_up_revenue"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "stats_measure_correlation",
    oracle="""
        WITH m AS (
            SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS q,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
                   CAST(ROUND(l_discount * 100) AS BIGINT) AS d
            FROM lineitem
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(q AS DECIMAL(38,0))) AS sq,
                   SUM(CAST(p AS DECIMAL(38,0))) AS sp,
                   SUM(CAST(d AS DECIMAL(38,0))) AS sd,
                   SUM(CAST(q AS DECIMAL(38,0)) * q) AS sqq,
                   SUM(CAST(p AS DECIMAL(38,0)) * p) AS spp,
                   SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd,
                   SUM(CAST(q AS DECIMAL(38,0)) * p) AS sqp,
                   SUM(CAST(q AS DECIMAL(38,0)) * d) AS sqd,
                   SUM(CAST(p AS DECIMAL(38,0)) * d) AS spd
            FROM m
        )
        SELECT pair, n, round(r, 6) AS pearson_r FROM (
            SELECT 'quantity_price' AS pair, n,
                   CAST(n * sqp - sq * sp AS DOUBLE)
                   / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                          * CAST(n * spp - sp * sp AS DOUBLE)) AS r
            FROM s
            UNION ALL
            SELECT 'quantity_discount', n,
                   CAST(n * sqd - sq * sd AS DOUBLE)
                   / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                          * CAST(n * sdd - sd * sd AS DOUBLE))
            FROM s
            UNION ALL
            SELECT 'price_discount', n,
                   CAST(n * spd - sp * sd AS DOUBLE)
                   / sqrt(CAST(n * spp - sp * sp AS DOUBLE)
                          * CAST(n * sdd - sd * sd AS DOUBLE))
            FROM s
        )
    """,
    tags=("analytics", "stats", "A1", "U2"),
    doc="Pearson correlation matrix of the lineitem measures "
        "(quantity/price/discount pairs) — the numeric-profiling "
        "diagnostic next to profile_documents. The trend-entry "
        "discipline extended to covariances: measures quantize to "
        "exact integers map-side (FLOOR-cast quantities, cent-scaled "
        "money), ALL moment sums accumulate as DECIMAL(38,0) (exact — "
        "the p² products overflow BIGINT at sf>=0.1), and each r is a "
        "closed form over those exact sums in identically-shaped IEEE "
        "expressions — no float-summation drift anywhere. One "
        "map-side partial aggregation to a 1-row frame; the three "
        "pairs unpivot from the same moment row (single scan).",
)
def stats_measure_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    li = read_table(spark, sf_dir, "lineitem")
    m = li.select(
        F.floor("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec("q")).alias("sq"),
        F.sum(dec("p")).alias("sp"),
        F.sum(dec("d")).alias("sd"),
        F.sum(dec("q") * F.col("q")).alias("sqq"),
        F.sum(dec("p") * F.col("p")).alias("spp"),
        F.sum(dec("d") * F.col("d")).alias("sdd"),
        F.sum(dec("q") * F.col("p")).alias("sqp"),
        F.sum(dec("q") * F.col("d")).alias("sqd"),
        F.sum(dec("p") * F.col("d")).alias("spd"),
    )

    def _r(sxy: str, sx: str, sy: str, sxx: str, syy: str) -> F.Column:
        n = F.col("n")
        num = (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        vx = (n * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        vy = (n * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
        return F.round(num / F.sqrt(vx * vy), 6)

    rows = [
        ("quantity_price", _r("sqp", "sq", "sp", "sqq", "spp")),
        ("quantity_discount", _r("sqd", "sq", "sd", "sqq", "sdd")),
        ("price_discount", _r("spd", "sp", "sd", "spp", "sdd")),
    ]
    out = None
    for name, col in rows:
        part = s.select(
            F.lit(name).alias("pair"), F.col("n"), col.alias("pearson_r")
        )
        out = part if out is None else out.unionAll(part)
    return out


#: Benford expected first-digit shares, log10(1+1/d) rounded to 10
#: decimals and embedded as LITERALS in both dialects — the expectation
#: is a constant of the test, not something either engine recomputes
#: (keeps libm out of the contract entirely)
_BENFORD = {
    1: 0.3010299957, 2: 0.1760912591, 3: 0.1249387366,
    4: 0.0969100130, 5: 0.0791812460, 6: 0.0669467896,
    7: 0.0579919470, 8: 0.0511525224, 9: 0.0457574906,
}


@register(
    "stats_benford_amounts",
    oracle=with_star(f"""
        , digits AS (
            SELECT CAST(substr(regexp_replace(CAST(totalamount AS VARCHAR),
                                              '[^1-9]', '', 'g'), 1, 1) AS INTEGER)
                       AS leading_digit
            FROM fact_sales WHERE totalamount > 0
        ),
        expected(d, benford_share) AS (
            VALUES {', '.join(f'({d}, {s})' for d, s in _BENFORD.items())}
        ),
        obs AS (
            SELECT leading_digit, CAST(COUNT(*) AS BIGINT) AS observed
            FROM digits GROUP BY leading_digit
        ),
        tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS total FROM obs)
        SELECT e.d AS leading_digit,
               COALESCE(o.observed, 0) AS observed,
               t.total,
               CAST(COALESCE(o.observed, 0) AS DOUBLE) / t.total AS obs_share,
               e.benford_share,
               CAST(COALESCE(o.observed, 0) AS DOUBLE) / t.total
                   - e.benford_share AS excess
        FROM expected e
        LEFT JOIN obs o ON o.leading_digit = e.d
        CROSS JOIN tot t
    """),
    tags=("stats", "quality", "A6", "F16"),
    doc="Benford's-law screen over sale amounts — the classic forensic "
        "first-digit test an auditor points at a revenue ledger. The "
        "leading significant digit is extracted by STRING surgery on the "
        "exact DECIMAL rendering (strip every non-1-9 character, take "
        "the head) so no log10/float classification can disagree between "
        "engines; expected shares are 10-dec literals of log10(1+1/d). "
        "Plan: one map-side digit extraction + a 9-row aggregation, the "
        "grand total broadcast back over the 9-row frame; obs_share and "
        "excess are single IEEE expressions of exact integers. TPC-H "
        "prices are uniform-ish, so the EXCESS column is the finding — "
        "synthetic data visibly violates Benford, which is exactly what "
        "the screen is for.",
)
def stats_benford_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    digits = (
        s.fact_sales.filter(F.col("totalamount") > 0)
        .select(
            F.substring(
                F.regexp_replace(F.col("totalamount").cast("string"), "[^1-9]", ""),
                1, 1,
            ).cast("int").alias("leading_digit")
        )
    )
    obs = digits.groupBy("leading_digit").agg(F.count("*").cast("long").alias("observed"))
    tot = obs.agg(F.sum("observed").cast("long").alias("total"))
    expected = spark.createDataFrame(
        [(d, s_) for d, s_ in _BENFORD.items()], "d INT, benford_share DOUBLE"
    )
    return (
        expected
        .join(obs, expected.d == obs.leading_digit, "left")
        .crossJoin(tot)
        .select(
            F.col("d").alias("leading_digit"),
            F.coalesce(F.col("observed"), F.lit(0)).cast("long").alias("observed"),
            "total",
            (F.coalesce(F.col("observed"), F.lit(0)).cast("double") / F.col("total"))
            .alias("obs_share"),
            "benford_share",
            (
                F.coalesce(F.col("observed"), F.lit(0)).cast("double") / F.col("total")
                - F.col("benford_share")
            ).alias("excess"),
        )
    )


@register(
    "stats_ab_conversion_ztest",
    oracle="""
        WITH assigned AS (
            SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
                   event_type
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        sides AS (
            SELECT
                CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS trials_a,
                CAST(SUM(CASE WHEN variant = 'A' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases_a,
                CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS trials_b,
                CAST(SUM(CASE WHEN variant = 'B' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases_b
            FROM assigned
        )
        SELECT trials_a, purchases_a, trials_b, purchases_b,
               CAST(purchases_a AS DOUBLE) / trials_a AS rate_a,
               CAST(purchases_b AS DOUBLE) / trials_b AS rate_b,
               (CAST(purchases_a AS DOUBLE) / trials_a
                - CAST(purchases_b AS DOUBLE) / trials_b)
               / sqrt(
                   (CAST(purchases_a + purchases_b AS DOUBLE) / (trials_a + trials_b))
                   * (1.0 - CAST(purchases_a + purchases_b AS DOUBLE) / (trials_a + trials_b))
                   * (1.0 / trials_a + 1.0 / trials_b)
                 ) AS z_score
        FROM sides
    """,
    tags=("stats", "analytics", "A8"),
    doc="Two-proportion z-test between hash-assigned experiment arms "
        "(user_id parity — the deterministic-coin discipline of "
        "plans/sampling.py): the tested proportion is purchases / "
        "(views + purchases), a TRUE proportion strictly inside (0,1) "
        "— a raw purchases-per-view ratio can exceed 1 and blows up "
        "the pooled variance (sqrt of a negative), which sf0.1 "
        "actually triggered. All four counts are exact integers from "
        "ONE map-side conditional aggregation; rates and the pooled z "
        "are fixed-shape IEEE expressions of those ints (sqrt is "
        "correctly rounded per IEEE 754, so the statistic is "
        "bit-identical across engines). The experiment-readout shape "
        "every growth dashboard needs.",
)
def stats_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    is_a = F.col("user_id") % 2 == 0
    is_buy = F.col("event_type") == "purchase"
    sides = ev.agg(
        F.sum(is_a.cast("int")).cast("long").alias("trials_a"),
        F.sum((is_a & is_buy).cast("int")).cast("long").alias("purchases_a"),
        F.sum((~is_a).cast("int")).cast("long").alias("trials_b"),
        F.sum((~is_a & is_buy).cast("int")).cast("long").alias("purchases_b"),
    )
    rate_a = F.col("purchases_a").cast("double") / F.col("trials_a")
    rate_b = F.col("purchases_b").cast("double") / F.col("trials_b")
    pooled = (F.col("purchases_a") + F.col("purchases_b")).cast("double") / (
        F.col("trials_a") + F.col("trials_b")
    )
    z = (rate_a - rate_b) / F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("trials_a") + F.lit(1.0) / F.col("trials_b"))
    )
    return sides.select(
        "trials_a", "purchases_a", "trials_b", "purchases_b",
        rate_a.alias("rate_a"), rate_b.alias("rate_b"), z.alias("z_score"),
    )


@register(
    "stats_price_elasticity",
    oracle=with_star("""
        , pts AS (
            SELECT p.category,
                   ln(CAST(p.unitprice AS DOUBLE)) AS x,
                   ln(CAST(SUM(f.quantity) AS DOUBLE)) AS y
            FROM fact_sales f
            JOIN dim_product p USING (product_key)
            GROUP BY p.category, p.product_key, p.unitprice
        ),
        m AS (
            SELECT category, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(x * y) AS sxy
            FROM pts GROUP BY category
        )
        SELECT category, CAST(n AS BIGINT) AS n_products,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity,
               round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
                   AS intercept
        FROM m WHERE n >= 3
    """),
    tags=("stats", "analytics", "A6"),
    doc="Log-log price elasticity of demand per category: OLS slope of "
        "ln(units sold) on ln(list price) across the category's "
        "products — the pricing-analytics staple (elasticity < -1 = "
        "elastic). Same discipline as text_zipf_slope: the per-product "
        "grain is an exact-integer quantity sum, the OLS closed form "
        "runs on per-category moment sums (category grain, ~dozen "
        "points each — a PARTITIONED aggregation, never global), and "
        "6-dec terminal rounding absorbs ln()/summation-order noise. "
        "Categories with < 3 price points are excluded (a 2-point fit "
        "is exact and meaningless).",
)
def stats_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    prod = s.dim_product.select(
        "product_key", "category", F.col("unitprice").alias("list_price")
    )
    pts = (
        s.fact_sales.select("product_key", "quantity")
        .join(prod, "product_key")
        .groupBy("category", "product_key", "list_price")
        .agg(F.sum("quantity").alias("units"))
        .select(
            "category",
            F.log(F.col("list_price").cast("double")).alias("x"),
            F.log(F.col("units").cast("double")).alias("y"),
        )
    )
    m = pts.groupBy("category").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.filter(F.col("n") >= 3).select(
        "category",
        F.col("n").cast("long").alias("n_products"),
        F.round(slope, 6).alias("elasticity"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
    )
