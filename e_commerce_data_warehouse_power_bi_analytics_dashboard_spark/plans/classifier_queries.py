"""Quality-classifier catalog entries: distributed logistic-regression
training + evaluation over the embeddings table.

Beyond-reference LLM-pipeline surface (the reference warehouse at
``/root/reference`` has no trainer; SURVEY.md's training-data-pipeline
mandate calls for a quality-scoring model). The DuckDB oracles unroll
the exact gradient-descent recurrence as chained CTEs — the same
cross-engine-checkable-iteration technique as the k-means and PageRank
entries (plans/llm_ops.py::_kmeans_oracle) — made possible by the
6-decimal weight rounding at every iteration boundary in
``operators/classifier.py::lr_fit``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import classifier as C
from ..sources.tpch import read_table
from .catalog import register

_ITERS = 4
_LR = 0.5
_DIM = 64


def _lr_ctes(
    iters: int = _ITERS, lr: float = _LR, dim: int = _DIM
) -> tuple[str, str]:
    """DuckDB twin of operators/classifier.py::lr_fit, unrolled: pos 0
    is the bias, pos 1..dim the weights (1-based, matching DuckDB's
    list indexing; the Spark entries emit posexplode-pos + 1). Each
    iteration rebuilds the weight list, scores every row with
    ``list_dot_product`` (the same sequential fold as the engine's
    s_dot), and applies the rounded update — so both engines walk the
    identical weight trajectory."""
    sql = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          CAST(label % 2 AS DOUBLE) AS y FROM embeddings),
        w0 AS (SELECT i.i AS pos, CAST(0 AS DOUBLE) AS wv
               FROM range(0, {dim + 1}) i(i))
    """
    prev = "w0"
    for t in range(1, iters + 1):
        sql += f""",
        p{t} AS (
            SELECT e.v, e.y,
                   1.0 / (1.0 + exp(-(b.wv + list_dot_product(w.wl, e.v)))) - e.y AS err
            FROM e,
                 (SELECT list(wv ORDER BY pos) AS wl FROM {prev} WHERE pos > 0) w,
                 (SELECT wv FROM {prev} WHERE pos = 0) b
        ),
        g{t} AS (
            SELECT i.i AS pos, avg(p.v[i.i] * p.err) AS g
            FROM p{t} p JOIN range(1, {dim + 1}) i(i) ON true
            GROUP BY i.i
            UNION ALL
            SELECT 0 AS pos, avg(err) AS g FROM p{t}
        ),
        w{t} AS (
            SELECT w.pos, round(w.wv - {lr} * g.g, 6) AS wv
            FROM {prev} w JOIN g{t} g USING (pos)
        )"""
        prev = f"w{t}"
    return sql, prev


_LR_SQL, _LR_FINAL = _lr_ctes()


@register(
    "lr_train_weights",
    oracle=_LR_SQL + f"""
        SELECT CAST(pos AS BIGINT) AS pos, wv AS weight
        FROM {_LR_FINAL}
    """,
    tags=("llm", "classifier", "iterative"),
    doc="Binary logistic-regression quality-classifier fit (full-batch "
        "gradient descent, 4 iterations, lr=0.5, zero init) over the "
        "64-dim embeddings with y = label%2 — the GPT-3/CCNet-style "
        "quality-model trainer as a pure DataFrame program. Per round: "
        "ONE corpus scan (broadcast 1-row weight frame, map-side "
        "sigmoid/error) + ONE thin 65-cell gradient shuffle with "
        "map-side partial avg; the bias gradient rides the same "
        "shuffle. 6-decimal weight rounding per iteration makes the "
        "ITERATIVE fit hash-match the unrolled-CTE oracle "
        "(operators/classifier.py::lr_fit). Output: pos 0 = bias, "
        "pos 1..64 = weights.",
)
def lr_train_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    fit = C.lr_fit(emb, iters=_ITERS, lr=_LR, dim=_DIM)
    dims = fit.select(F.posexplode("w").alias("p0", "weight")).select(
        (F.col("p0") + 1).cast("bigint").alias("pos"), "weight"
    )
    bias = fit.select(
        F.lit(0).cast("bigint").alias("pos"), F.col("b").alias("weight")
    )
    return dims.unionAll(bias)


@register(
    "lr_corpus_filter",
    oracle=_LR_SQL + f"""
        , scored AS (
            SELECT e.vec_id,
                   round(1.0 / (1.0 + exp(-(b.wv + list_dot_product(w.wl, e.v)))), 6) AS p
            FROM e,
                 (SELECT list(wv ORDER BY pos) AS wl FROM {_LR_FINAL} WHERE pos > 0) w,
                 (SELECT wv FROM {_LR_FINAL} WHERE pos = 0) b
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN s.p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
               CAST(SUM(CASE WHEN s.p >= 0.5 THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
               round(AVG(s.p), 6) AS avg_score
        FROM documents d JOIN scored s ON s.vec_id = d.doc_id
        GROUP BY d.source
    """,
    tags=("llm", "classifier", "curation", "iterative"),
    doc="Classifier-driven corpus curation (the GPT-3 quality-filter "
        "recipe end-to-end): train the LR model on the embeddings, "
        "score every document through its embedding (doc_id = vec_id), "
        "and report the keep decision per source — docs kept at "
        "p >= 0.5, surviving char volume, mean quality score. The "
        "score join is embedding-side (broadcast 1-row model, map-side "
        "sigmoid) then one doc_id equi-join to the documents table; "
        "output grain is the source dimension.",
)
def lr_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    docs = read_table(spark, sf_dir, "documents")
    fit = C.lr_fit(emb, iters=_ITERS, lr=_LR, dim=_DIM)
    scored = C.lr_score(emb, fit).select(
        F.col("vid").alias("doc_id"), "p"
    )
    keep = (F.col("p") >= 0.5).cast("bigint")
    return (
        docs.join(scored, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(keep).alias("n_keep"),
            F.sum(F.when(F.col("p") >= 0.5, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
            F.round(F.avg("p"), 6).alias("avg_score"),
        )
    )


@register(
    "lr_train_eval",
    oracle=_LR_SQL + f"""
        , scored AS (
            SELECT e.y,
                   round(1.0 / (1.0 + exp(-(b.wv + list_dot_product(w.wl, e.v)))), 6) AS p
            FROM e,
                 (SELECT list(wv ORDER BY pos) AS wl FROM {_LR_FINAL} WHERE pos > 0) w,
                 (SELECT wv FROM {_LR_FINAL} WHERE pos = 0) b
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN p >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN p >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN p < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN p < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               round(AVG(CASE WHEN (p >= 0.5) = (y = 1) THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
               round(AVG((p - y) * (p - y)), 6) AS brier
        FROM scored
    """,
    tags=("llm", "classifier", "iterative"),
    doc="Train-set evaluation of the logistic-regression quality "
        "classifier: confusion matrix, accuracy, and Brier score in a "
        "single 1-row aggregate. Scoring is map-side only (broadcast "
        "1-row model, zero shuffle besides the scalar agg); the "
        "probability is rounded to 6 decimals BEFORE the 0.5 threshold "
        "so engine and oracle agree on borderline rows by "
        "construction. Brier (not log-loss) keeps the metric total and "
        "finite even for saturated probabilities "
        "(operators/classifier.py::lr_score).",
)
def lr_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    fit = C.lr_fit(emb, iters=_ITERS, lr=_LR, dim=_DIM)
    scored = C.lr_score(emb, fit)
    return scored.groupBy().agg(
        F.count("*").alias("n_rows"),
        F.sum(((F.col("pred") == 1.0) & (F.col("y") == 1.0)).cast("bigint")).alias("tp"),
        F.sum(((F.col("pred") == 1.0) & (F.col("y") == 0.0)).cast("bigint")).alias("fp"),
        F.sum(((F.col("pred") == 0.0) & (F.col("y") == 1.0)).cast("bigint")).alias("fn"),
        F.sum(((F.col("pred") == 0.0) & (F.col("y") == 0.0)).cast("bigint")).alias("tn"),
        F.round(F.avg((F.col("pred") == F.col("y")).cast("double")), 6).alias("accuracy"),
        F.round(F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))), 6).alias("brier"),
    )


@register(
    "lr_eval_auc",
    oracle=_LR_SQL + f"""
        , scored AS (
            SELECT e.y,
                   round(1.0 / (1.0 + exp(-(b.wv + list_dot_product(w.wl, e.v)))), 6) AS p
            FROM e,
                 (SELECT list(wv ORDER BY pos) AS wl FROM {_LR_FINAL} WHERE pos > 0) w,
                 (SELECT wv FROM {_LR_FINAL} WHERE pos = 0) b
        ),
        g AS (
            SELECT p, COUNT(*) AS cnt,
                   SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos_cnt
            FROM scored GROUP BY p
        ),
        c AS (
            SELECT p, cnt, pos_cnt,
                   SUM(cnt) OVER (ORDER BY p) AS cum_inc
            FROM g
        ),
        u AS (
            SELECT SUM(pos_cnt * (2 * (cum_inc - cnt) + cnt + 1)) AS s2 FROM c
        ),
        n AS (
            SELECT COUNT(*) AS n,
                   SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n_pos,
                   SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n_neg,
                   SUM(CASE WHEN (CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) = y
                       THEN 1 ELSE 0 END) AS n_correct
            FROM scored
        )
        SELECT CAST(n.n AS BIGINT) AS n,
               CAST(n.n_pos AS BIGINT) AS n_pos,
               CAST(n.n_neg AS BIGINT) AS n_neg,
               round(CAST(u.s2 - n.n_pos * (n.n_pos + 1) AS DOUBLE)
                     / (2.0 * n.n_pos * n.n_neg), 6) AS auc,
               round(CAST(n.n_correct AS DOUBLE) / n.n, 6) AS accuracy
        FROM u, n
    """,
    tags=("llm", "classifier", "iterative"),
    doc="ROC-AUC + accuracy for the trained quality classifier — the "
        "eval metric a corpus-filter model publishes. AUC computed by "
        "the tie-corrected Mann-Whitney rank-sum ENTIRELY in exact "
        "integers: scores collapse to 6-dec groups (the already-"
        "engine-stable domain), the doubled average rank of a tie "
        "group is the integer 2*cum_before + cnt + 1, and "
        "AUC = (U2 - n_pos(n_pos+1)) / (2*n_pos*n_neg) is ONE IEEE "
        "division of exact integers — no float rank arithmetic "
        "anywhere. The cumulative group count runs through "
        "operators/ranking.py::ordered_prefix_sum (range-partitioned, "
        "never a single-partition window over the score groups).",
)
def lr_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import ordered_prefix_sum

    emb = read_table(spark, sf_dir, "embeddings")
    fit = C.lr_fit(emb, iters=_ITERS, lr=_LR, dim=_DIM)
    sc = C.lr_score(emb, fit)
    g = sc.groupBy("p").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("pos_cnt"),
    )
    c = ordered_prefix_sum(g, [("p", "asc")], "cnt", out="cum_inc")
    u = c.agg(
        F.sum(
            F.col("pos_cnt")
            * (2 * (F.col("cum_inc") - F.col("cnt")) + F.col("cnt") + 1)
        ).alias("s2")
    )
    n = sc.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).cast("long").alias("n_neg"),
        F.sum(
            F.when(F.col("pred").cast("double") == F.col("y"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    )
    # hint kept: the other side is small too, and unhinted the planner builds it
    return u.crossJoin(F.broadcast(n)).select(
        "n",
        "n_pos",
        "n_neg",
        F.round(
            (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
        F.round(F.col("n_correct").cast("double") / F.col("n"), 6).alias("accuracy"),
    )


@register(
    "lr_eval_calibration",
    oracle=_LR_SQL + f"""
        , scored AS (
            SELECT e.y,
                   round(1.0 / (1.0 + exp(-(b.wv + list_dot_product(w.wl, e.v)))), 6) AS p
            FROM e,
                 (SELECT list(wv ORDER BY pos) AS wl FROM {_LR_FINAL} WHERE pos > 0) w,
                 (SELECT wv FROM {_LR_FINAL} WHERE pos = 0) b
        ),
        cuts AS (
            SELECT {", ".join(
                f"percentile_disc(0.{d}) WITHIN GROUP (ORDER BY p) AS c{d}"
                for d in range(1, 10)
            )}
            FROM scored
        ),
        binned AS (
            SELECT {" + ".join(f"(CASE WHEN s.p > c.c{d} THEN 1 ELSE 0 END)" for d in range(1, 10))}
                       AS bin,
                   CAST(round(s.p * 1000000) AS BIGINT) AS pm,
                   s.y
            FROM scored s, cuts c
        )
        SELECT CAST(bin AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pm) AS DOUBLE) / (COUNT(*) * 1000000.0) AS mean_predicted,
               CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                   AS actual_rate
        FROM binned GROUP BY bin
    """,
    tags=("llm", "classifier", "iterative"),
    doc="Reliability diagram for the quality classifier: scores bucket "
        "into score-DECILE bins (equal-count, via nine broadcast "
        "percentile_disc cutpoints — equal-width bins would put this "
        "model's tightly-clustered scores in one bucket), each "
        "reporting mean predicted probability vs actual positive rate "
        "— the calibration check that explains lr_eval_auc's "
        "threshold behavior (the model ranks well, AUC 0.69, while "
        "every score sits near 0.5 — ranking signal without "
        "calibration). Exactness end-to-end: the 6-dec scores become "
        "exact MICRO-unit integers (round(p*1e6)), so mean_predicted "
        "and actual_rate are single IEEE divisions of exact integer "
        "sums — never a float mean or rounded quotient — and the "
        "decile edges are percentile_disc values drawn from the "
        "already-rounded score domain (strict >, engine-stable). "
        "Scoring and binning are map-side against the broadcast "
        "model + cutpoint rows; one 10-group aggregation.",
)
def lr_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pins import fresh_pins, pin

    emb = read_table(spark, sf_dir, "embeddings")
    fit = C.lr_fit(emb, iters=_ITERS, lr=_LR, dim=_DIM)
    fresh_pins()
    sc = pin(C.lr_score(emb, fit).select("p", "y"))
    cuts = sc.agg(
        *[
            F.expr(
                f"percentile_disc(0.{d}) WITHIN GROUP (ORDER BY p)"
            ).alias(f"c{d}")
            for d in range(1, 10)
        ]
    )
    bin_col = sum(
        (F.col("p") > F.col(f"c{d}")).cast("int") for d in range(1, 10)
    )
    # hint kept: the other side is small too, and unhinted the planner builds it
    binned = sc.crossJoin(F.broadcast(cuts)).select(
        bin_col.alias("bin"),
        F.round(F.col("p") * 1000000).cast("long").alias("pm"),
        "y",
    )
    n = F.count("*")
    return binned.groupBy("bin").agg(
        n.cast("long").alias("n"),
        (F.sum("pm").cast("double") / (n * 1000000.0)).alias("mean_predicted"),
        (
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("double") / n
        ).alias("actual_rate"),
    ).select(F.col("bin").cast("int").alias("bin"), "n", "mean_predicted", "actual_rate")
