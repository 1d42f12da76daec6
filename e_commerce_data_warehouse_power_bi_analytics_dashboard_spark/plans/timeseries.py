"""Time-series operators over the star schema: date-spine gap filling,
trailing-window anomaly scoring, distribution percentiles.

Determinism across engines (the catalog's oracle contract):
  - every windowed statistic is computed from *exact DECIMAL* window
    sums (sum and sum-of-squares), cast to DOUBLE only inside the final
    closed-form expression — so the IEEE arithmetic is identical on both
    engines regardless of window-aggregation association order (DuckDB
    uses segment trees for sliding frames; Spark accumulates in frame
    order — float window sums would drift by ulps);
  - percentiles use percentile_disc (picks an actual value) rather than
    interpolating percentile_cont, whose x0+(x1-x0)*f vs x0*(1-f)+x1*f
    formulations differ in the last ulp between engines.

Scale notes: all three plans aggregate the fact to a per-day / per-group
frame first (|days| or |categories| rows), so the global windows run on
a reduced frame; the date spine is generated from a 1-row min/max agg,
never materialized driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.star import StarSchema, with_star
from .catalog import register

# daily revenue as exact DECIMAL, reused by both time-series plans
_DAILY_CTE = """
    , daily AS (
        SELECT d.full_date AS day,
               CAST(SUM(f.totalamount) AS DECIMAL(18,2)) AS rev_dec
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        GROUP BY d.full_date
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .groupBy(F.col("full_date").alias("day"))
        .agg(F.sum("totalamount").cast("decimal(18,2)").alias("rev_dec"))
        # |days| rows; gapfill references it twice (spine min/max agg +
        # the broadcast join) and both time-series entries share the
        # same canonical plan, so one cache entry serves them all —
        # without it each reference re-runs the fact scan + groupBy
        .persist()
    )


@register(
    "ts_gapfill_daily_revenue",
    oracle=with_star(_DAILY_CTE + """
        , spine AS (
            SELECT CAST(unnest(generate_series(
                       (SELECT MIN(day) FROM daily),
                       (SELECT MAX(day) FROM daily),
                       INTERVAL 1 DAY)) AS DATE) AS day
        )
        SELECT strftime(s.day, '%Y-%m-%d') AS day,
               CAST(COALESCE(d.rev_dec, 0) AS DOUBLE) AS revenue_filled,
               CAST(last_value(d.rev_dec IGNORE NULLS)
                    OVER (ORDER BY s.day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS revenue_carry,
               d.rev_dec IS NULL AS is_gap
        FROM spine s
        LEFT JOIN daily d USING (day)
    """),
    tags=("timeseries", "W3", "F14"),
    doc="Date-spine gap filling: dense daily calendar from min..max, "
        "zero-fill and last-observation-carried-forward revenue. The "
        "spine is sequence()-generated from a 1-row agg — no driver loop.",
)
def ts_gapfill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined = spine.join(F.broadcast(daily), "day", "left")
    return joined.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("rev_dec"), F.lit(0)).cast("double").alias("revenue_filled"),
        F.last("rev_dec", ignorenulls=True).over(w).cast("double").alias("revenue_carry"),
        F.col("rev_dec").isNull().alias("is_gap"),
    )


@register(
    "ts_anomaly_zscore_daily",
    oracle=with_star(_DAILY_CTE + """
        , units AS (
            SELECT day, rev_dec, CAST(FLOOR(rev_dec) AS BIGINT) AS c FROM daily
        ),
        win AS (
            SELECT day, rev_dec, c,
                   COUNT(*) OVER w AS n,
                   SUM(c) OVER w AS s_c,
                   SUM(c * c) OVER w AS sq_c
            FROM units
            WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(rev_dec AS DOUBLE) AS revenue,
               CASE WHEN n = 30 THEN
                   (CAST(c AS DOUBLE) - CAST(s_c AS DOUBLE) / n)
                   / sqrt(greatest(
                       (CAST(sq_c AS DOUBLE)
                        - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / n)
                       / (n - 1), 1e-12))
               END AS zscore,
               CASE WHEN n = 30 THEN
                   abs((CAST(c AS DOUBLE) - CAST(s_c AS DOUBLE) / n)
                   / sqrt(greatest(
                       (CAST(sq_c AS DOUBLE)
                        - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / n)
                       / (n - 1), 1e-12))) > 3.0
               END AS is_anomaly
        FROM win
    """),
    tags=("timeseries", "W4", "A10"),
    doc="Trailing-30-day z-score anomaly flag on daily revenue. The "
        "z-score is unit-invariant, so it is computed on whole-dollar "
        "FLOORed daily revenue: window sums stay exact int64 (a "
        "DECIMAL(38,4)->DOUBLE cast double-rounds in DuckDB; "
        "int64->double rounds once in both engines), then one "
        "closed-form double expression. Int64 headroom: 30-day "
        "sum-of-squares stays exact up to ~$5e8/day; beyond that, "
        "coarsen the unit (z is invariant) or switch to sketch-based "
        "anomaly scoring.",
)
def ts_anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    units = daily.select(
        "day", "rev_dec", F.floor("rev_dec").cast("long").alias("c")
    )
    w = Window.orderBy("day").rowsBetween(-29, Window.currentRow)
    win = units.select(
        "day",
        "rev_dec",
        "c",
        F.count("*").over(w).alias("n"),
        F.sum("c").over(w).alias("s_c"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("sq_c"),
    )
    x = F.col("c").cast("double")
    s = F.col("s_c").cast("double")
    sq = F.col("sq_c").cast("double")
    n = F.col("n")
    mean = s / n
    var = F.greatest((sq - s * s / n) / (n - 1), F.lit(1e-12))
    z = (x - mean) / F.sqrt(var)
    full = F.col("n") == 30
    return win.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("rev_dec").cast("double").alias("revenue"),
        F.when(full, z).alias("zscore"),
        F.when(full, F.abs(z) > 3.0).alias("is_anomaly"),
    )


@register(
    "stats_category_percentiles",
    oracle=with_star("""
        SELECT p.category,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY CAST(f.totalamount AS DOUBLE)) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY CAST(f.totalamount AS DOUBLE)) AS p50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY CAST(f.totalamount AS DOUBLE)) AS p75,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY CAST(f.totalamount AS DOUBLE)) AS p90
        FROM fact_sales f
        JOIN dim_product p USING (product_key)
        GROUP BY p.category
    """),
    tags=("timeseries", "A9", "A6"),
    doc="Per-category line-amount distribution via percentile_disc "
        "(actual order statistics — no interpolation, so both engines "
        "agree bit-for-bit).",
)
def stats_category_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    base = s.fact_sales.join(
        s.dim_product.select("product_key", "category"), "product_key"
    ).select("category", F.col("totalamount").cast("double").alias("amt"))
    return base.groupBy("category").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY amt)").alias("p25"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY amt)").alias("p50"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY amt)").alias("p75"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY amt)").alias("p90"),
    )


#: EWMA smoothing factor (alpha)
_EWMA_A = 0.2


@register(
    "ts_ewma_daily_revenue",
    oracle=with_star(_DAILY_CTE + f"""
        , arr AS (
            SELECT list({{'day': day, 'rev': CAST(rev_dec AS DOUBLE),
                          'ewma': CAST(rev_dec AS DOUBLE)}} ORDER BY day) AS a
            FROM daily
        ),
        f AS (
            SELECT list_reduce(
                list_transform(a, x -> [x]),
                (acc, x) -> list_append(acc, {{
                    'day': x[1].day, 'rev': x[1].rev,
                    'ewma': {_EWMA_A} * x[1].rev + {1 - _EWMA_A} * acc[-1].ewma}})
            ) AS l
            FROM arr
        )
        SELECT strftime(u.day, '%Y-%m-%d') AS day,
               u.rev AS revenue,
               u.ewma AS ewma
        FROM f, unnest(f.l) AS t(u)
    """),
    tags=("timeseries", "W3", "fold"),
    doc=f"Exponentially-weighted moving average of daily revenue "
        f"(alpha={_EWMA_A}, EWMA_1 = x_1) — the sequential-fold family "
        "member next to the BPE greedy fold: the daily series is "
        "collected into ONE date-sorted array (calendar-bounded, the "
        "documented scalar-agg shape — a few thousand elements at any "
        "corpus size) and the recurrence runs as a JVM aggregate() "
        "fold appending to the accumulator array; the DuckDB twin is "
        "list_reduce over 1-element lists (acc type must equal element "
        "type — the BPE trick). Both engines execute the identical "
        "sequential double operations in the identical day order, so "
        "the smoothed series matches bit-for-bit and surfaces UNROUNDED "
        "(round(double,6) is the one op the engines disagree on at "
        "half-way boundaries — the Holt entry hit one at sf0.1; same "
        "fix here). An EWMA is inherently order-sequential — no "
        "window function expresses it and the closed-form rewrite "
        "((1-a)^-t scaling) overflows at calendar length — so the "
        "bounded fold IS the scale-correct plan; per-key EWMAs at data "
        "scale would run the same fold inside groupBy(key).",
)
def ts_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    arr = daily.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("day"), F.col("rev_dec").cast("double").alias("rev")
                )
            )
        ).alias("a")
    )
    folded = arr.select(
        F.explode(
            F.expr(f"""
                aggregate(
                    slice(a, 2, greatest(size(a) - 1, 0)),
                    array(struct(a[0].day AS day, a[0].rev AS rev, a[0].rev AS ewma)),
                    (acc, x) -> concat(acc, array(struct(
                        x.day AS day, x.rev AS rev,
                        {_EWMA_A}D * x.rev + {1 - _EWMA_A}D * element_at(acc, -1).ewma AS ewma)))
                )
            """)
        ).alias("u")
    )
    return folded.select(
        F.date_format("u.day", "yyyy-MM-dd").alias("day"),
        F.col("u.rev").alias("revenue"),
        F.col("u.ewma").alias("ewma"),
    )


@register(
    "ts_weekday_seasonality",
    oracle=with_star(_DAILY_CTE + """
        , wk AS (
            SELECT dayofweek(day) + 1 AS dow,
                   SUM(rev_dec) AS wk_sum,
                   COUNT(*) AS wk_n
            FROM daily GROUP BY 1
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(dayofweek(day) + 1 AS INT) AS dow,
               CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(wk_sum AS DOUBLE) / wk_n AS seasonal_mean,
               CAST(rev_dec AS DOUBLE) - CAST(wk_sum AS DOUBLE) / wk_n
                   AS residual
        FROM daily JOIN wk ON dayofweek(day) + 1 = wk.dow
        ORDER BY day
    """),
    tags=("analytics", "timeseries", "A7", "J1"),
    doc="Weekday-seasonality decomposition of daily revenue: seasonal "
        "component = per-weekday mean over the whole series, residual = "
        "day minus its weekday mean — the de-seasonalization step "
        "before any anomaly rule (ts_anomaly_zscore_daily flags raw "
        "spikes; this separates payday-Friday from genuinely odd "
        "days). Exactness: the weekday means divide an exact DECIMAL "
        "sum by an exact count — ONE IEEE division — and the residual "
        "subtracts two deterministically-derived doubles; no float "
        "window sums. Scale shape: the fact reduces to the |days| "
        "frame once (shared _daily helper), the 7-row weekday table "
        "re-aggregates from it and broadcasts back — one fact shuffle "
        "total, everything after is calendar-grain.",
)
def ts_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wk = (
        daily.groupBy(F.dayofweek("day").alias("dow"))
        .agg(F.sum("rev_dec").alias("wk_sum"), F.count("*").alias("wk_n"))
    )
    seasonal = F.col("wk_sum").cast("double") / F.col("wk_n")
    return (
        daily.withColumn("dow", F.dayofweek("day"))
        .join(F.broadcast(wk), "dow")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dow").cast("int").alias("dow"),
            F.col("rev_dec").cast("double").alias("revenue"),
            seasonal.alias("seasonal_mean"),
            (F.col("rev_dec").cast("double") - seasonal).alias("residual"),
        )
        .orderBy("day")
    )


#: Holt's linear smoothing constants (level / trend)
_HOLT_A = 0.3
_HOLT_B = 0.1

#: Holt level update l_t — inlined TWICE in the trend update below (SQL
#: lambdas cannot bind intermediates); the identical expression text
#: yields the identical IEEE value, so the duplication is semantically a
#: let-binding. {x}/{acc} are the lambda args, {last} the acc[-1] spelling.
_HOLT_L = (
    "{a}D * {x}.rev + {oa}D * ({last}.l + {last}.b)"
)


@register(
    "ts_holt_linear_daily",
    oracle=with_star(_DAILY_CTE + f"""
        , arr AS (
            SELECT list({{'day': day, 'rev': CAST(rev_dec AS DOUBLE),
                          'l': CAST(rev_dec AS DOUBLE),
                          'b': CAST(0.0 AS DOUBLE)}}
                        ORDER BY day) AS a
            FROM daily
        ),
        f AS (
            SELECT list_reduce(
                list_transform(a, x -> [x]),
                (acc, x) -> list_append(acc, {{
                    'day': x[1].day, 'rev': x[1].rev,
                    'l': {_HOLT_A} * x[1].rev
                         + {1 - _HOLT_A} * (acc[-1].l + acc[-1].b),
                    'b': {_HOLT_B} * (({_HOLT_A} * x[1].rev
                         + {1 - _HOLT_A} * (acc[-1].l + acc[-1].b)) - acc[-1].l)
                         + {1 - _HOLT_B} * acc[-1].b}})
            ) AS l
            FROM arr
        )
        SELECT strftime(u.day, '%Y-%m-%d') AS day,
               u.rev AS revenue,
               u.l AS level,
               u.b AS trend,
               u.l + u.b AS forecast_next
        FROM f, unnest(f.l) AS t(u)
    """),
    tags=("timeseries", "W3", "fold", "forecast"),
    doc=f"Holt's linear (double exponential) smoothing of daily revenue "
        f"(alpha={_HOLT_A}, beta={_HOLT_B}; l_1 = x_1, b_1 = 0): level "
        "AND trend state per step, one-step-ahead forecast = l + b — "
        "the minimal real forecaster, extending the EWMA fold with a "
        "second accumulator field. Same machinery and determinism as "
        "ts_ewma_daily_revenue: calendar-bounded date-sorted array, "
        "JVM aggregate() fold vs DuckDB list_reduce over 1-lists, "
        "identical sequential double ops. The level update is inlined "
        "twice inside the trend update (SQL lambdas cannot bind "
        "intermediates) — textually identical expressions are "
        "IEEE-identical, so the inline is semantically a let-binding. "
        "Outputs surface UNROUNDED (the _helpers avg2 rule): the fold "
        "values are bit-identical cross-engine, while round(double,6) "
        "is the one op the engines disagree on at half-way boundaries "
        "— a 1.3e7-magnitude level hit exactly one such boundary at "
        "sf0.1. "
        "Per-key forecasts at data scale run the same fold inside "
        "groupBy(key).",
)
def ts_holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    arr = daily.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("day"), F.col("rev_dec").cast("double").alias("rev")
                )
            )
        ).alias("a")
    )
    lt = _HOLT_L.format(a=_HOLT_A, oa=1 - _HOLT_A, x="x", last="element_at(acc, -1)")
    folded = arr.select(
        F.explode(
            F.expr(f"""
                aggregate(
                    slice(a, 2, greatest(size(a) - 1, 0)),
                    array(struct(a[0].day AS day, a[0].rev AS rev,
                                 a[0].rev AS l, 0.0D AS b)),
                    (acc, x) -> concat(acc, array(struct(
                        x.day AS day, x.rev AS rev,
                        {lt} AS l,
                        {_HOLT_B}D * (({lt}) - element_at(acc, -1).l)
                          + {1 - _HOLT_B}D * element_at(acc, -1).b AS b)))
                )
            """)
        ).alias("u")
    )
    return folded.select(
        F.date_format("u.day", "yyyy-MM-dd").alias("day"),
        F.col("u.rev").alias("revenue"),
        F.col("u.l").alias("level"),
        F.col("u.b").alias("trend"),
        (F.col("u.l") + F.col("u.b")).alias("forecast_next"),
    )


#: backtest holdout length (observed days)
_BT_H = 7


@register(
    "ts_backtest_holt_daily",
    oracle=with_star(_DAILY_CTE + f"""
        , arr AS (
            SELECT list({{'day': day, 'rev': CAST(rev_dec AS DOUBLE)}}
                        ORDER BY day) AS a, COUNT(*) AS n
            FROM daily
        ),
        st AS (
            -- NOTE: the fold grows a list and reads acc[-1] (the
            -- ts_holt_linear_daily formulation) — a scalar-struct
            -- accumulator over list_reduce returns wrong 'b' values
            -- past 2 elements in this DuckDB build, so the 1-list
            -- spelling is load-bearing for the oracle, not style
            SELECT a, n,
                   (list_reduce(
                       list_transform(a[1 : n - {_BT_H}],
                                      x -> [{{'rev': x.rev, 'l': x.rev,
                                              'b': CAST(0.0 AS DOUBLE)}}]),
                       (acc, x) -> list_append(acc, {{'rev': x[1].rev,
                           'l': {_HOLT_A} * x[1].rev
                                + {1 - _HOLT_A} * (acc[-1].l + acc[-1].b),
                           'b': {_HOLT_B} * (({_HOLT_A} * x[1].rev
                                + {1 - _HOLT_A} * (acc[-1].l + acc[-1].b))
                                - acc[-1].l)
                                + {1 - _HOLT_B} * acc[-1].b}})
                   ))[-1] AS s
            FROM arr
        )
        SELECT strftime(a[n - {_BT_H} + h].day, '%Y-%m-%d') AS day,
               CAST(h AS INTEGER) AS horizon,
               a[n - {_BT_H} + h].rev AS actual,
               s.l + CAST(h AS DOUBLE) * s.b AS holt_forecast,
               a[n - {2 * _BT_H} + h].rev AS naive_forecast,
               abs(a[n - {_BT_H} + h].rev
                   - (s.l + CAST(h AS DOUBLE) * s.b)) AS abs_err_holt,
               abs(a[n - {_BT_H} + h].rev
                   - a[n - {2 * _BT_H} + h].rev) AS abs_err_naive
        FROM st, unnest(generate_series(1, {_BT_H})) AS u(h)
        WHERE n >= {2 * _BT_H}
    """),
    tags=("timeseries", "fold", "forecast", "audit"),
    doc=f"Forecast backtest: hold out the last {_BT_H} observed days, "
        f"fit Holt's linear smoothing (alpha={_HOLT_A}, beta={_HOLT_B}) "
        "on the train prefix, score h-step-ahead forecasts l + h·b "
        "against the actuals, head-to-head with the seasonal-naive "
        "baseline (the value 7 observed days earlier) — the evaluation "
        "lifecycle the forecast entries were missing (the ANN family's "
        "recall-audit discipline applied to ts_holt_linear_daily). The "
        "fold carries SCALAR (level, trend) state — O(1) memory, no "
        "per-step list growth — and the whole backtest happens inside "
        "the same 1-row calendar-grain array frame as the fold "
        "entries: no new window, no self-join. Per-day absolute errors "
        "surface individually (never float-summed); aggregation to "
        "MAE is the reader's one division away. Outputs unrounded "
        "(the fold family's cross-engine bit-identity discipline). "
        f"Requires >= {2 * _BT_H} observed days (guarded on BOTH "
        "engines — shorter frames return 0 rows rather than diverging "
        "on element_at's negative-index semantics).",
)
def ts_backtest_holt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    arr = daily.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("day"), F.col("rev_dec").cast("double").alias("rev"))
            )
        ).alias("a")
    )
    lt = _HOLT_L.format(a=_HOLT_A, oa=1 - _HOLT_A, x="x", last="acc")
    rows = arr.select(
        F.col("a"),
        F.size("a").alias("n"),
        F.expr(f"""
            aggregate(
                slice(slice(a, 1, size(a) - {_BT_H}), 2,
                      greatest(size(a) - {_BT_H} - 1, 0)),
                struct(a[0].rev AS l, 0.0D AS b),
                (acc, x) -> struct(
                    {lt} AS l,
                    {_HOLT_B}D * (({lt}) - acc.l)
                      + {1 - _HOLT_B}D * acc.b AS b)
            )
        """).alias("s"),
    ).filter(
        # guard: the naive term indexes a[n - 2H + h]; with fewer than
        # 2H observed days the index goes non-positive — element_at then
        # errors (0) or counts from the array END (negative) while DuckDB
        # yields NULL. Both engines filter identically → 0 rows, never a
        # divergence, on degenerate frames.
        F.col("n") >= 2 * _BT_H
    ).select(
        "a", "n", "s",
        F.explode(F.sequence(F.lit(1), F.lit(_BT_H))).alias("h"),
    )
    actual = F.element_at("a", F.col("n") - _BT_H + F.col("h")).getField("rev")
    holt = F.col("s.l") + F.col("h").cast("double") * F.col("s.b")
    naive = F.element_at("a", F.col("n") - 2 * _BT_H + F.col("h")).getField("rev")
    return rows.select(
        F.date_format(
            F.element_at("a", F.col("n") - _BT_H + F.col("h")).getField("day"),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("h").cast("int").alias("horizon"),
        actual.alias("actual"),
        holt.alias("holt_forecast"),
        naive.alias("naive_forecast"),
        F.abs(actual - holt).alias("abs_err_holt"),
        F.abs(actual - naive).alias("abs_err_naive"),
    )


#: Holt-Winters additive constants (level / trend / seasonal), period 7
_HW_A, _HW_B, _HW_G, _HW_P = 0.3, 0.1, 0.2, 7

#: HW level update l_t — inlined THREE times per step (in the l, b and
#: s fields; SQL lambdas cannot bind intermediates). Textually identical
#: expressions are IEEE-identical, so the triplication is semantically a
#: let-binding — the ts_holt_linear_daily discipline, one field deeper.
#: {head} is the seasonal-queue head s_(t-7); it must be spelled
#: element_at(..., 1) on the Spark side (bare sq[1] is 0-based there
#: but 1-based in DuckDB — a silent off-by-one, caught by the oracle)
_HW_L = "{a} * ({x}.rev - {head}) + {oa} * ({last}.l + {last}.b)"

#: the same level update in the DuckDB 1-list fold spelling
_HW_L_O = (
    f"{_HW_A} * (x[1].rev - acc[-1].sq[1]) "
    f"+ {1 - _HW_A} * (acc[-1].l + acc[-1].b)"
)


@register(
    "ts_holt_winters_daily",
    oracle=with_star(_DAILY_CTE + f"""
        , arr AS (
            SELECT list({{'day': day, 'rev': CAST(rev_dec AS DOUBLE)}}
                        ORDER BY day) AS a
            FROM daily
        ),
        init AS (
            SELECT a,
                   list_reduce(list_transform(a[1:{_HW_P}], x -> x.rev),
                               (acc, x) -> acc + x) / {_HW_P} AS l0
            FROM arr
        ),
        seeded AS (
            SELECT a, l0,
                   list_transform(a[1:{_HW_P}], x -> x.rev - l0) AS sq0
            FROM init
        ),
        f AS (
            SELECT list_reduce(
                list_prepend(
                    [{{'day': a[{_HW_P}].day, 'rev': CAST(0.0 AS DOUBLE),
                       'l': l0, 'b': CAST(0.0 AS DOUBLE),
                       's': CAST(0.0 AS DOUBLE), 'fc': CAST(0.0 AS DOUBLE),
                       'sq': sq0}}],
                    list_transform(a[{_HW_P + 1}:],
                        x -> [{{'day': x.day, 'rev': x.rev,
                                'l': CAST(0.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE),
                                's': CAST(0.0 AS DOUBLE), 'fc': CAST(0.0 AS DOUBLE),
                                'sq': sq0}}])),
                (acc, x) -> list_append(acc, {{
                    'day': x[1].day, 'rev': x[1].rev,
                    'l': {_HW_L_O},
                    'b': {_HW_B} * (({_HW_L_O}) - acc[-1].l) + {1 - _HW_B} * acc[-1].b,
                    's': {_HW_G} * (x[1].rev - ({_HW_L_O})) + {1 - _HW_G} * acc[-1].sq[1],
                    'fc': acc[-1].l + acc[-1].b + acc[-1].sq[1],
                    'sq': list_append(acc[-1].sq[2:{_HW_P}],
                        {_HW_G} * (x[1].rev - ({_HW_L_O})) + {1 - _HW_G} * acc[-1].sq[1])
                }})
            ) AS lst
            FROM seeded
        )
        SELECT strftime(u.day, '%Y-%m-%d') AS day,
               u.rev AS revenue,
               u.l AS level,
               u.b AS trend,
               u.s AS seasonal,
               u.fc AS one_step_forecast
        FROM f, unnest(f.lst[2:]) AS t(u)
    """),
    tags=("timeseries", "fold", "forecast", "W3"),
    doc=f"Holt-Winters additive seasonal smoothing of daily revenue "
        f"(alpha={_HW_A}, beta={_HW_B}, gamma={_HW_G}, period={_HW_P}): "
        "the third and hardest fold-family member — the accumulator "
        "state is now a VECTOR (level, trend, plus the rotating 7-slot "
        "seasonal queue), proving the calendar-array fold pattern "
        "extends beyond scalar state. Init: level = mean of the first "
        "week (explicit left-associative fold in BOTH engines so the "
        "7-term double sum is order-pinned), seasonals = that week's "
        "deviations, trend = 0; smoothing starts at day 8 and the "
        "one-step forecast l+b+s_(t-7) is emitted alongside each "
        "smoothed day. The level update is inlined three times per "
        "step (SQL lambdas cannot bind intermediates) — textually "
        "identical IS IEEE-identical. The seasonal queue advances by "
        "slice+append (no modulo indexing, so the expression shape "
        "stays engine-portable). Outputs unrounded (fold-family "
        "bit-identity discipline). The DuckDB twin keeps the "
        "1-list/acc[-1] spelling — scalar-struct list_reduce "
        "mis-evaluates dependent fields past 2 elements in this build "
        "(see ts_backtest_holt_daily).",
)
def ts_holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    arr = daily.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("day"), F.col("rev_dec").cast("double").alias("rev"))
            )
        ).alias("a")
    )
    sq_ref = "element_at(acc, -1).sq"
    lt = _HW_L.format(a=f"{_HW_A}D", oa=f"{1 - _HW_A}D", x="x",
                      last="element_at(acc, -1)",
                      head=f"element_at({sq_ref}, 1)")
    s_new = (
        f"{_HW_G}D * (x.rev - ({lt})) + {1 - _HW_G}D * element_at({sq_ref}, 1)"
    )
    folded = arr.select(
        F.explode(
            F.expr(f"""
                slice(
                    aggregate(
                        slice(a, {_HW_P + 1}, greatest(size(a) - {_HW_P}, 0)),
                        array(struct(
                            a[{_HW_P - 1}].day AS day, 0.0D AS rev,
                            aggregate(slice(a, 1, {_HW_P}), 0.0D,
                                      (acc, x) -> acc + x.rev) / {_HW_P}.0D AS l,
                            0.0D AS b, 0.0D AS s, 0.0D AS fc,
                            transform(slice(a, 1, {_HW_P}),
                                x -> x.rev - aggregate(slice(a, 1, {_HW_P}), 0.0D,
                                              (acc, x) -> acc + x.rev) / {_HW_P}.0D)
                                AS sq)),
                        (acc, x) -> concat(acc, array(struct(
                            x.day AS day, x.rev AS rev,
                            {lt} AS l,
                            {_HW_B}D * (({lt}) - element_at(acc, -1).l)
                              + {1 - _HW_B}D * element_at(acc, -1).b AS b,
                            {s_new} AS s,
                            element_at(acc, -1).l + element_at(acc, -1).b
                              + element_at({sq_ref}, 1) AS fc,
                            concat(slice({sq_ref}, 2, {_HW_P - 1}),
                                   array({s_new})) AS sq)))
                    ),
                    2, greatest(size(a), 1)
                )
            """)
        ).alias("u")
    )
    return folded.select(
        F.date_format("u.day", "yyyy-MM-dd").alias("day"),
        F.col("u.rev").alias("revenue"),
        F.col("u.l").alias("level"),
        F.col("u.b").alias("trend"),
        F.col("u.s").alias("seasonal"),
        F.col("u.fc").alias("one_step_forecast"),
    )
