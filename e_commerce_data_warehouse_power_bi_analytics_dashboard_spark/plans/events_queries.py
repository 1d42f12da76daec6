"""Batch analytics over the events table (streaming-shaped workload).

The reference lists real-time ingestion as future work (README:178-183);
these queries define the *semantics* (tumbling windows, sessionization,
dedup) in batch form — the Structured Streaming twins in
streaming/events.py reuse the same aggregation shapes, and
tests/test_streaming.py asserts stream==batch equivalence.

Money-style discipline for event values: sum in DECIMAL (value has 2
decimals), surface as rounded double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tpch import read_events
from .catalog import register


@register(
    "events_hourly_tumble",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1
    """,
    tags=("events", "streaming-shape"),
    doc="Tumbling 1-hour window aggregate — the batch twin of "
        "streaming/events.py::hourly_windows",
)
def events_hourly_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "n_events",
            "n_users",
            "total_value",
        )
    )


@register(
    "events_sliding_15m",
    oracle="""
        -- each event belongs to exactly 4 sliding windows (1h window,
        -- 15m hop, epoch-aligned starts — Spark's window() alignment):
        -- start = floor(ts to 15m) - k*15m for k in 0..3
        SELECT strftime(
                   make_timestamp(
                       (epoch_us(ts) // 900000000) * 900000000 - k.k * 900000000
                   ), '%Y-%m-%d %H:%M') AS window_start,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM events, range(0, 4) k(k)
        GROUP BY 1
    """,
    tags=("events", "streaming-shape", "W4"),
    doc="Sliding 1-hour/15-minute window aggregate (each event in 4 "
        "overlapping windows) — the batch twin of "
        "streaming/events.py::sliding_windows; the trending-rate shape "
        "tumbling windows cannot express",
)
def events_sliding_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_type_daily",
    oracle="""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("events",),
    doc="Daily event-type breakdown",
)
def events_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2).cast("double").alias("total_value"),
    )


@register(
    "events_sessionize",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id, CAST(value AS DECIMAL(12,2)) AS v,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                             OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                           THEN 1 ELSE 0 END AS new_sess
            FROM ordered
        ),
        sess AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
               CAST(ROUND(SUM(v), 2) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY 1, 2
    """,
    tags=("events", "W", "sessionize"),
    doc="Gap-based sessionization (30-min inactivity): lag → new-session "
        "flag → running count → per-session rollup. The stateful-streaming "
        "twin is streaming/events.py::sessionize_stream.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.col("value").cast("decimal(12,2)").alias("v")
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap compared in MICROSECONDS on both sides (oracle: epoch_us), the
    # same precision the streaming twin uses — a second-truncated cast
    # sessionizes fractional-second gaps straddling the 1800s boundary
    # differently across the three implementations
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(order).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.round(F.sum("v"), 2).cast("double").alias("session_value"),
    )


@register(
    "events_first_per_user_type",
    oracle="""
        SELECT user_id, event_type,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    tags=("events",),
    doc="First-touch per (user, event_type) + frequency",
)
def events_first_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return ev.groupBy("user_id", "event_type").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_props_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
        FROM events
    """,
    tags=("events", "json"),
    doc="JSON property extraction from the props payload column "
        "(read-side twin of the reference's JSONB reject payloads, F20)",
)
def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k_value")
    )


@register(
    "events_funnel",
    oracle="""
        WITH stages AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events
            GROUP BY user_id
        )
        SELECT COUNT(t_view) AS viewed,
               CAST(SUM(CASE WHEN t_click >= t_view THEN 1 ELSE 0 END) AS BIGINT)
                   AS clicked_after_view,
               CAST(SUM(CASE WHEN t_purchase >= t_click AND t_click >= t_view
                             THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
        FROM stages
    """,
    tags=("events", "A8", "funnel"),
    doc="view→click→purchase conversion funnel: first-touch ordering per "
        "user via conditional min-aggregation — one shuffle on user_id, "
        "then a scalar rollup (beyond-reference event analytics)",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return stages.agg(
        F.count("t_view").alias("viewed"),
        F.sum(
            F.when(F.col("t_click") >= F.col("t_view"), 1).otherwise(0)
        ).cast("long").alias("clicked_after_view"),
        F.sum(
            F.when(
                (F.col("t_purchase") >= F.col("t_click"))
                & (F.col("t_click") >= F.col("t_view")),
                1,
            ).otherwise(0)
        ).cast("long").alias("purchased_after_click"),
    )


@register(
    "events_enriched_segment_daily",
    oracle="""
        SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
               c.c_mktsegment AS mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    tags=("events", "streaming-shape", "J1"),
    doc="Stream-static enrichment, batch twin: events joined to the "
        "customer dim (broadcast — the static side of a stream-static "
        "join never shuffles the stream), daily value per market "
        "segment. Streaming twin: streaming/events.py::"
        "enriched_segment_daily; equivalence in tests/test_streaming.py.",
)
def events_enriched_segment_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    ev = read_events(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    # raw customer grows with SF: the hint records the broadcast choice
    return (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2).cast("double").alias("total_value"),
        )
    )


@register(
    "events_view_purchase_pairs",
    oracle="""
        SELECT v.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(ROUND(SUM(CAST(p.value AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS conv_value
        FROM events v
        JOIN events p ON p.user_id = v.user_id
                     AND v.event_type = 'view'
                     AND p.event_type = 'purchase'
                     AND p.ts >= v.ts
                     AND p.ts <= v.ts + INTERVAL 1 HOUR
        GROUP BY 1
    """,
    tags=("events", "streaming-shape", "J6"),
    doc="Interval (time-band) self-join: every view paired with the same "
        "user's purchases within the following hour, aggregated per user "
        "— the batch twin of the stream-stream join in "
        "streaming/events.py::view_purchase_join (equivalence pinned in "
        "tests/test_streaming.py). Both sides shuffle once on user_id "
        "(co-partitioned sort-merge self-join); the band predicate "
        "bounds per-user fan-out by events-per-hour, so the pair "
        "explosion stays linear at 100 TB. Beyond-reference: the "
        "reference lists real-time pipelines as future work "
        "(README:178-183).",
)
def events_view_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    pairs = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("conv_value"),
    )


@register(
    "events_view_conversion_flags",
    oracle="""
        SELECT v.event_id AS view_id,
               v.user_id,
               p.event_id AS purchase_id,
               p.value AS purchase_value
        FROM events v
        LEFT JOIN events p ON p.user_id = v.user_id
                          AND p.event_type = 'purchase'
                          AND p.ts >= v.ts
                          AND p.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view'
    """,
    tags=("events", "streaming-shape", "J3", "J6"),
    doc="LEFT OUTER interval self-join at pair grain: every view row with "
        "its in-band purchase or NULLs — the conversion-attribution frame "
        "(unconverted views are the retargeting audience). Batch twin of "
        "streaming/events.py::view_purchase_left_join; the streaming "
        "equivalence test additionally pins WHICH rows a stream can have "
        "emitted at termination (matched: immediately; unmatched: only "
        "once the watermark proves the 1h band empty). Same one-shuffle "
        "user_id co-partitioned plan as events_view_purchase_pairs.",
)
def events_view_conversion_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .select("view_id", "user_id", "purchase_id", "purchase_value")
    )


@register(
    "events_conversion_latency",
    oracle="""
        WITH conv AS (
            SELECT v.event_id,
                   CAST(date_diff('second', v.ts, MIN(p.ts)) AS BIGINT)
                       AS latency_s
            FROM events v
            JOIN events p ON p.user_id = v.user_id
                         AND v.event_type = 'view'
                         AND p.event_type = 'purchase'
                         AND p.ts >= v.ts
                         AND p.ts <= v.ts + INTERVAL 1 HOUR
            GROUP BY v.event_id, v.ts
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY latency_s) AS p50_s,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY latency_s) AS p90_s,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY latency_s) AS p99_s,
               MAX(latency_s) AS max_s
        FROM conv
    """,
    tags=("events", "A9", "J6", "funnel"),
    doc="View→purchase conversion latency distribution: per view, seconds "
        "to its FIRST in-band purchase (attribution grain), then exact "
        "percentile_disc order statistics — integer seconds end-to-end, "
        "so both engines agree bit-for-bit. Same one-shuffle user_id "
        "co-partitioned band join as events_view_purchase_pairs; the "
        "percentile agg runs over the converted-views frame (bounded by "
        "view count) and the final row is a scalar aggregate (the "
        "allowlisted SinglePartition shape). The SLA/latency dashboard "
        "view next to the funnel entry.",
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    conv = (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("view_id", "view_ts")
        .agg(F.min("purchase_ts").alias("first_purchase_ts"))
        .select(
            (
                F.unix_timestamp("first_purchase_ts") - F.unix_timestamp("view_ts")
            ).cast("long").alias("latency_s")
        )
    )
    return conv.groupBy().agg(
        F.count("*").cast("long").alias("n_converted"),
        # Spark's percentile_disc surfaces DOUBLE even over integral
        # input; the selected value IS an order statistic (an exact
        # latency), so the long cast is lossless and matches DuckDB's
        # element-typed result
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY latency_s)")
            .cast("long").alias("p50_s"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY latency_s)")
            .cast("long").alias("p90_s"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY latency_s)")
            .cast("long").alias("p99_s"),
        F.max("latency_s").alias("max_s"),
    )


@register(
    "events_props_variant",
    oracle="""
        SELECT CAST(CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS BIGINT)
                   AS k_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS k_sum,
               'OBJECT<k: BIGINT>' AS variant_schema
        FROM events
        GROUP BY 1
    """,
    tags=("events", "json", "variant"),
    doc="Semi-structured VARIANT path (Spark 4): parse_json once into "
        "the binary variant encoding, then variant_get typed extraction "
        "+ schema_of_variant introspection — the scale-path twin of "
        "events_props_extract (per-query get_json_object re-parses the "
        "string on every access; a variant column parses ONCE at ingest "
        "and serves every downstream extraction from the binary form). "
        "The oracle re-derives the same buckets via DuckDB JSON and "
        "pins the inferred schema literal.",
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    parsed = ev.select(F.parse_json("props").alias("v"))
    return (
        parsed.select(
            F.expr("CAST(variant_get(v, '$.k', 'bigint') AS BIGINT)").alias("k"),
            F.expr("schema_of_variant(v)").alias("variant_schema"),
        )
        .groupBy(F.expr("k div 10").alias("k_bucket"), "variant_schema")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("k_sum"),
        )
        .select("k_bucket", "n_events", "k_sum", "variant_schema")
    )


@register(
    "events_session_window_builtin",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id, CAST(value AS DECIMAL(12,2)) AS v,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                             OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
                           THEN 1 ELSE 0 END AS new_sess
            FROM ordered
        ),
        sess AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
                   AS session_gap_end,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(v), 2) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY user_id, session_id
    """,
    tags=("events", "W", "sessionize", "session-window"),
    doc="Gap-based sessionization via the BUILT-IN session_window "
        "aggregate (r6) — the Catalyst-native declarative spelling of "
        "events_sessionize's lag-chain (MergingSessionsExec merges "
        "per-user windows engine-side, one user-keyed shuffle, no "
        "Python). session_gap_end is last-event + gap (the engine's "
        "eviction bound). Boundary semantics, mirrored by the oracle: "
        "an exactly-30-min delta starts a NEW session here (window "
        "merge needs ts < prev end strictly) vs the lag entry's "
        "strict-greater split. Streaming twin: streaming/events.py::"
        "session_windows_builtin (equivalence-tested).",
)
def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_gap_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), pairs AS (
            SELECT prev_type, event_type AS next_type, COUNT(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT prev_type, next_type, n,
               CAST(n AS DOUBLE)
                   / SUM(n) OVER (PARTITION BY prev_type) AS prob
        FROM pairs
        ORDER BY prev_type, next_type
    """,
    tags=("events", "W", "A6", "markov"),
    doc="First-order Markov transition matrix over per-user event "
        "sequences — the behavioral model a funnel/recommendation "
        "layer trains on (and, for an LLM pipeline, the same shape as "
        "n-gram LM estimation over billions of short sequences). Scale "
        "shape: the lag is a USER-partitioned window (one user-keyed "
        "shuffle of the event scan, per-user state never crosses "
        "executors), pairs aggregate to the |types|^2 <= 25-cell grain, "
        "and row-normalization is a window over that tiny frame "
        "partitioned by prev_type. The probability is ONE IEEE "
        "division of exact counts — deterministic cross-engine. "
        "(ts, event_id) makes the per-user order strict, so lag is "
        "reproducible under any executor scheduling.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return (
        pairs.select(
            "prev_type",
            "next_type",
            "n",
            (F.col("n").cast("double") / F.sum("n").over(wp)).alias("prob"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "events_attribution_first_touch",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ), first_touch AS (
            SELECT user_id, event_type AS first_touch_type
            FROM ranked WHERE rn = 1
        ), rev AS (
            SELECT user_id,
                   SUM(CAST(value AS DECIMAL(12,2))) AS user_rev,
                   COUNT(*) AS user_purchases
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        )
        SELECT first_touch_type,
               COUNT(*) AS n_users,
               CAST(COALESCE(SUM(user_purchases), 0) AS BIGINT) AS n_purchases,
               CAST(ROUND(COALESCE(SUM(user_rev), 0), 2) AS DOUBLE)
                   AS attributed_revenue
        FROM first_touch LEFT JOIN rev USING (user_id)
        GROUP BY first_touch_type
        ORDER BY first_touch_type
    """,
    tags=("events", "W1", "J3", "A12", "attribution"),
    doc="First-touch revenue attribution: every user's lifetime "
        "purchase value is credited to the type of their FIRST event — "
        "the acquisition-channel report (the reference's dashboard has "
        "the revenue side; this adds the marketing-attribution cut). "
        "Scale shape: the first-touch pick is a user-partitioned "
        "row_number (strict (ts, event_id) order), the revenue rollup "
        "is a purchase-filtered user-grain aggregate, and the two "
        "user-grain frames join on the SAME user_id key both shuffles "
        "already produced — co-partitioned, no extra exchange; the "
        "LEFT join + COALESCE keeps zero-purchase users in their "
        "channel's denominator. Money stays exact DECIMAL until the "
        "terminal round.",
)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_touch = (
        ev.select(
            "user_id",
            F.col("event_type").alias("first_touch_type"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)")).alias("user_rev"),
            F.count("*").alias("user_purchases"),
        )
    )
    return (
        first_touch.join(rev, "user_id", "left")
        .groupBy("first_touch_type")
        .agg(
            F.count("*").alias("n_users"),
            F.coalesce(F.sum("user_purchases"), F.lit(0))
            .cast("long")
            .alias("n_purchases"),
            F.round(F.coalesce(F.sum("user_rev"), F.lit(0)), 2)
            .cast("double")
            .alias("attributed_revenue"),
        )
        .orderBy("first_touch_type")
    )


@register(
    "events_attribution_last_touch",
    oracle="""
        WITH touched AS (
            SELECT event_type, value,
                   last_value(
                       CASE WHEN event_type <> 'purchase' THEN event_type END
                       IGNORE NULLS
                   ) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_touch_type
            FROM events
        )
        SELECT COALESCE(last_touch_type, '(none)') AS last_touch_type,
               COUNT(*) AS n_purchases,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS attributed_revenue
        FROM touched
        WHERE event_type = 'purchase'
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("events", "W6", "attribution"),
    doc="Last-touch revenue attribution: each purchase is credited to "
        "the nearest PRECEDING non-purchase event of the same user — "
        "the per-conversion flip side of the first-touch report, and "
        "the as-of-join shape expressed as a window (the engine's "
        "IGNORE NULLS last_value over an unbounded-to-1-preceding ROWS "
        "frame IS a per-row as-of lookup, same semantics family as "
        "operators/scd.py's union-and-carry-forward). Scale shape: one "
        "user-partitioned window (single user-keyed shuffle, running "
        "carry-forward state is O(1) per user) then a 5-row aggregate; "
        "purchases with no prior touch land in '(none)'. Money exact "
        "DECIMAL to the terminal round.",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.select(
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_touch_type"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("last_touch_type"), F.lit("(none)")).alias(
                "last_touch_type"
            )
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("attributed_revenue"),
        )
        .orderBy("last_touch_type")
    )


@register(
    "events_rolling_7d_active_users",
    oracle="""
        WITH du AS (
            SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
        ), days AS (
            SELECT DISTINCT d FROM du
        )
        SELECT strftime(days.d, '%Y-%m-%d') AS day,
               CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS active_7d
        FROM days
        JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("events", "A3", "W4", "rolling-distinct"),
    doc="Rolling 7-day active users per day — the windowed COUNT "
        "DISTINCT no window function can express (distinct does not "
        "decompose over frames). Distributed rewrite: dedup to the "
        "(day, user) grain first, then each pair FANS OUT map-side to "
        "the <= 7 target days it keeps active (day+0..+6, clipped to "
        "observed days via a broadcast day list) and one distinct-"
        "count aggregation keys on target day — two bounded shuffles, "
        "never a per-day range join or a 7x re-scan. The oracle pins "
        "the expansion against the declarative interval join. At "
        "100 TB the (day,user) grain is the active-user table "
        "(~|users| x window), orders of magnitude under the event "
        "grain; exact, no sketch needed at this window size.",
)
def events_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    du = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    expanded = du.select(
        F.explode(
            F.expr("sequence(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)")
        ).alias("target"),
        "user_id",
    )
    return (
        expanded.join(F.broadcast(days), expanded.target == days.d)
        .groupBy("target")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .select(
            F.date_format("target", "yyyy-MM-dd").alias("day"),
            "active_7d",
        )
        .orderBy("day")
    )


@register(
    "sketch_rolling_distinct_users",
    oracle="""
        WITH du AS (
            SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
        ), days AS (
            SELECT DISTINCT d FROM du
        )
        SELECT strftime(days.d, '%Y-%m-%d') AS day,
               CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS exact_7d,
               true AS sketch_within_5pct
        FROM days
        JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("events", "sketch", "W4", "rolling-distinct"),
    doc="Rolling 7-day active users via MERGEABLE sketches: one HLL "
        "sketch per day (hll_sketch_agg over the event scan), then "
        "hll_union_agg over a 7-row window merges the daily sketches "
        "per target day — the estimate must land within 5% of the "
        "exact count (the boolean IS the oracle contract, computed "
        "against events_rolling_7d_active_users' expansion rewrite). "
        "This is the 100 TB path the exact twin cannot take at larger "
        "windows: daily sketches are a few KB each and re-mergeable to "
        "ANY window size without re-touching events, where the exact "
        "expansion re-shuffles (window x day-user-grain) rows per "
        "window change. Sketches merge by explicit day arithmetic "
        "(sequence fan-out to d..d+6, day-grain groupBy) so the frame "
        "equals the calendar window by construction even across gap "
        "days — no observed-row ROWS frame, no global window.",
)
def sketch_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    per_day = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
    )
    du = ev.select(F.date_trunc("day", "ts").alias("d"), "user_id").distinct()
    days = du.select("d").distinct()
    # Merge sketches by EXPLICIT day arithmetic (each day's sketch fans
    # out to the calendar targets d..d+6 it covers), mirroring the exact
    # side's expansion — a ROWS(-6,0) frame over OBSERVED days would
    # silently widen the calendar window across gap days.
    est = (
        per_day.select(
            F.explode(
                F.expr("sequence(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)")
            ).alias("d"),
            "sk",
        )
        .join(F.broadcast(days), "d")
        .groupBy("d")
        .agg(F.expr("hll_union_agg(sk)").alias("sk7"))
        .select("d", F.expr("hll_sketch_estimate(sk7)").alias("est_7d"))
    )
    exact = (
        du.select(
            F.explode(
                F.expr("sequence(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)")
            ).alias("d"),
            "user_id",
        )
        .join(F.broadcast(days), "d")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("exact_7d"))
    )
    return (
        exact.join(est, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "exact_7d",
            (
                F.abs(F.col("est_7d") - F.col("exact_7d"))
                <= 0.05 * F.col("exact_7d")
            ).alias("sketch_within_5pct"),
        )
        .orderBy("day")
    )


#: per-step deadline for the funnel sequence match: 3 days in
#: microseconds (sized to the fixture's ~4.5-day per-user event gap —
#: selective but non-vacuous at every test scale; a real clickstream
#: would use minutes, the plan is identical)
_SEQ_STEP_US = 3 * 86_400 * 1_000_000


@register(
    "events_sequence_match",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us
            FROM events
        ), lv AS (
            SELECT *,
                   last_value(CASE WHEN event_type = 'view' THEN us END
                              IGNORE NULLS) OVER w AS view_us
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ), lc AS (
            SELECT *,
                   last_value(CASE WHEN event_type = 'click'
                              THEN {{'us': us, 'view_us': view_us}} END
                              IGNORE NULLS) OVER w AS click
            FROM lv
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT user_id, event_id AS purchase_event_id,
               CAST(click.us - click.view_us AS BIGINT) AS view_to_click_us,
               CAST(us - click.us AS BIGINT) AS click_to_purchase_us
        FROM lc
        WHERE event_type = 'purchase'
          AND click.us IS NOT NULL AND click.view_us IS NOT NULL
          AND us - click.us <= {_SEQ_STEP_US}
          AND click.us - click.view_us <= {_SEQ_STEP_US}
        ORDER BY user_id, purchase_event_id
    """,
    tags=("events", "W6", "cep", "sequence"),
    doc="Sequential-pattern (CEP) match: view -> click -> purchase per "
        "user, each step within a per-step deadline of the previous — the "
        "MATCH_RECOGNIZE shape Spark lacks, expressed as TWO chained "
        "IGNORE-NULLS carry-forward windows (the last-touch trick "
        "squared): pass 1 carries each event's latest preceding view "
        "time; pass 2 carries the latest preceding CLICK as a struct "
        "that has FROZEN the view time as of that click — so the view "
        "provably precedes the matched click, not merely the purchase. "
        "Both passes share the one user-keyed shuffle (same partition "
        "spec, O(1) running state per user); deadlines are exact "
        "integer microsecond diffs. Emits one row per qualifying "
        "purchase with both step latencies.",
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lv = ev.withColumn(
        "view_us",
        F.last(
            F.when(F.col("event_type") == "view", F.col("us")), ignorenulls=True
        ).over(w),
    )
    lc = lv.withColumn(
        "click",
        F.last(
            F.when(
                F.col("event_type") == "click",
                F.struct(F.col("us").alias("us"), F.col("view_us").alias("view_us")),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return (
        lc.filter(
            (F.col("event_type") == "purchase")
            & F.col("click.us").isNotNull()
            & F.col("click.view_us").isNotNull()
            & (F.col("us") - F.col("click.us") <= _SEQ_STEP_US)
            & (F.col("click.us") - F.col("click.view_us") <= _SEQ_STEP_US)
        )
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            (F.col("click.us") - F.col("click.view_us"))
            .cast("long")
            .alias("view_to_click_us"),
            (F.col("us") - F.col("click.us")).cast("long").alias("click_to_purchase_us"),
        )
        .orderBy("user_id", "purchase_event_id")
    )


@register(
    "events_interarrival_stats",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
               CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1000000.0
                   AS mean_gap_s,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)
                    AS BIGINT) AS p50_gap_us,
               1000000.0 / (CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us))
                   AS poisson_rate_per_s
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("events", "W", "A4", "timeseries"),
    doc="Per-user inter-arrival statistics by the type of the ARRIVING "
        "event: mean/median gap and the implied Poisson rate — the "
        "traffic model a capacity planner or anomaly baseline fits "
        "(and, for a streaming deployment, the watermark-delay sizing "
        "input). The gap is an exact integer microsecond lag over the "
        "user-partitioned order (one user-keyed shuffle); mean and "
        "rate follow the avg2 discipline — exact integer sum over "
        "exact count, surfaced as UNROUNDED IEEE quotients (the "
        "reciprocal is one further deterministic division); the median "
        "is percentile_disc (picks an actual gap, no interpolation).",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    mean_gap_s = (
        F.sum("gap_us").cast("double") / F.count("gap_us") / F.lit(1000000.0)
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("long").alias("n_gaps"),
            mean_gap_s.alias("mean_gap_s"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)")
            .cast("long")
            .alias("p50_gap_us"),
            (
                F.lit(1000000.0)
                / (F.sum("gap_us").cast("double") / F.count("gap_us"))
            ).alias("poisson_rate_per_s"),
        )
        .orderBy("event_type")
    )


@register(
    "sketch_audience_overlap",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
            FROM events GROUP BY user_id
        )
        SELECT CAST(SUM(saw) AS BIGINT) AS exact_viewers,
               CAST(SUM(bought) AS BIGINT) AS exact_buyers,
               CAST(SUM(saw * bought) AS BIGINT) AS exact_both,
               true AS sketch_within_10pct
        FROM per_user
    """,
    tags=("events", "sketch", "A3"),
    doc="Audience-overlap estimation via HLL set algebra: |viewers ∩ "
        "buyers| by inclusion-exclusion over three mergeable sketches "
        "(est(A) + est(B) − est(A ∪ B), the union sketch from "
        "hll_union of the two per-segment sketches — HLL unions are "
        "LOSSLESS, so the only error is the two ±2% cardinality "
        "reads). The estimate must land within 10% of the exact "
        "per-user-flag intersection — the boolean IS the oracle "
        "contract, the sketch_distinct_comparison discipline. At 100 "
        "TB the sketches are the only viable path: segment audiences "
        "are pre-aggregated per day/shard and intersections of ANY "
        "segment pair come from merging fixed-size sketches, never "
        "re-scanning events.",
)
def sketch_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    is_view = F.col("event_type") == "view"
    is_buy = F.col("event_type") == "purchase"
    agg = ev.agg(
        F.countDistinct(F.when(is_view, F.col("user_id"))).cast("long").alias("exact_viewers"),
        F.countDistinct(F.when(is_buy, F.col("user_id"))).cast("long").alias("exact_buyers"),
        F.countDistinct(
            F.when(is_view | is_buy, F.col("user_id"))
        ).cast("long").alias("_exact_union"),
        F.hll_sketch_agg(F.when(is_view, F.col("user_id"))).alias("_sk_view"),
        F.hll_sketch_agg(F.when(is_buy, F.col("user_id"))).alias("_sk_buy"),
    )
    est_inter = (
        F.hll_sketch_estimate("_sk_view")
        + F.hll_sketch_estimate("_sk_buy")
        - F.hll_sketch_estimate(F.hll_union("_sk_view", "_sk_buy"))
    )
    # exact intersection by inclusion-exclusion over exact counts (the
    # same identity the sketch path uses, so the gate compares like
    # with like); the oracle derives it from per-user flags instead —
    # two independent formulations pinning the same number
    exact_inter = F.col("exact_viewers") + F.col("exact_buyers") - F.col("_exact_union")
    return agg.select(
        "exact_viewers",
        "exact_buyers",
        exact_inter.alias("exact_both"),
        (
            F.abs(est_inter - exact_inter)
            <= 0.10 * exact_inter
        ).alias("sketch_within_10pct"),
    )
