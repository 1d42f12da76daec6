"""Deterministic corpus sampling, mixture weighting, and token-budget
packing over the documents table — the selection layer of a training-data
pipeline (beyond the reference's surface, per the LLM-ops north star).

Everything is HASH-deterministic, never rand(): a sample must be stable
across retries, executors, and engine versions, and re-runnable on the
oracle — the same reason the dedup layer keys on md5. At 100 TB each of
these is one scan + one (or zero) shuffles: Bernoulli sampling is a
map-side filter, stratified top-k is a single window per stratum, and
mixture planning aggregates per-lang counts (a few hundred groups) before
a broadcast of the tiny weight table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..operators.ranking import uniform_key_global_rank
from ..sources.tpch import read_table
from .catalog import register

#: stable per-doc hash in [0, 100): the sampling coin. 8 hex chars of
#: md5(doc_id) — uniform, engine-independent, and independent of the
#: 7-char dedup hashes (different width ⇒ different modulus stream).
_S_COIN = f"({T.s_md5_long('CAST(doc_id AS STRING)', 8)}) % 100"
_O_COIN = f"({T.o_md5_long('CAST(doc_id AS VARCHAR)', 8)}) % 100"


@register(
    "sample_bernoulli_hash",
    oracle=f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE {_O_COIN} < 10
    """,
    tags=("llm", "sampling"),
    doc="Stable 10% Bernoulli sample: md5(doc_id) mod 100 < 10 — "
        "deterministic across retries/executors (unlike rand()-based "
        "TABLESAMPLE), map-side only, no shuffle",
)
def sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "documents")
        .filter(F.expr(_S_COIN) < 10)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "sample_stratified_source",
    oracle=f"""
        SELECT doc_id, source, strat_rank FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY {_O_COIN}, doc_id) AS strat_rank
            FROM documents
        ) WHERE strat_rank <= 3
    """,
    tags=("llm", "sampling"),
    doc="Stratified sample: 3 docs per source stratum in hash order "
        "(equal-allocation stratified sampling; hash order makes the "
        "within-stratum pick uniform AND stable). One window per stratum.",
)
def sample_stratified_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.expr(_S_COIN).asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("strat_rank"))
        .filter(F.col("strat_rank") <= 3)
    )


#: target language mixture for corpus assembly (weights sum to 1)
MIXTURE_WEIGHTS = {"en": 0.40, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}


@register(
    "corpus_mixture_plan",
    oracle=f"""
        WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        w(lang, weight) AS (VALUES {", ".join(
            f"('{k}', CAST({v} AS DOUBLE))" for k, v in MIXTURE_WEIGHTS.items()
        )}),
        j AS (SELECT w.lang, CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs, weight
              FROM w LEFT JOIN counts USING (lang)),
        corpus AS (SELECT MIN(FLOOR(n_docs / weight)) AS c FROM j)
        SELECT lang, n_docs, weight,
               CAST(FLOOR(weight * c) AS BIGINT) AS take_n,
               CASE WHEN n_docs = 0 THEN CAST(0 AS DOUBLE)
                    ELSE CAST(FLOOR(weight * c) AS DOUBLE) / n_docs END AS sample_rate
        FROM j, corpus
    """,
    tags=("llm", "sampling"),
    doc="Mixture planning: given target per-language weights, the largest "
        "corpus achievable WITHOUT upsampling is min over langs of "
        "floor(n/w); emit per-lang take_n and sample_rate. The binding "
        "(rate=1) language is the mixture bottleneck; a weighted language "
        "with NO corpus docs pins the whole plan to take_n=0 (left join "
        "from the weight table — it must not silently drop out of the "
        "min). Aggregates to a handful of groups then broadcasts — the "
        "planning step ahead of a hash-threshold sampling pass.",
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [(k, float(v)) for k, v in MIXTURE_WEIGHTS.items()], ["lang", "weight"]
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    j = (
        # weights drives the join: a weighted lang absent from the corpus
        # stays in frame with n_docs=0 and becomes the binding constraint
        weights.join(F.broadcast(counts), "lang", "left")
        .select(
            "lang",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            "weight",
        )
        # |langs| rows, referenced by both the corpus min-agg and the
        # final select — persist so the documents scan runs once
        .persist()
    )
    corpus = j.agg(F.min(F.floor(F.col("n_docs") / F.col("weight"))).alias("c"))
    return (
        j.crossJoin(corpus)
        .select(
            "lang", "n_docs", "weight",
            F.floor(F.col("weight") * F.col("c")).cast("long").alias("take_n"),
            F.when(F.col("n_docs") == 0, F.lit(0.0))
            .otherwise(
                F.floor(F.col("weight") * F.col("c")).cast("double") / F.col("n_docs")
            )
            .alias("sample_rate"),
        )
    )


TOKEN_BUDGET = 2000


@register(
    "pack_token_budget",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(len({T.o_tokens('text')}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS cum_before
            FROM toks
        )
        SELECT source,
               CAST(FLOOR(cum_before / {TOKEN_BUDGET}) AS BIGINT) AS bin_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM cum
        GROUP BY 1, 2
    """,
    tags=("llm", "sampling", "packing"),
    doc=f"Sequence packing for training batches: greedy sequential "
        f"bin-packing of docs into ~{TOKEN_BUDGET}-token bins per source "
        "(bin = floor(cumulative-tokens-before / budget) over a doc_id-"
        "ordered window). One window + one group-by, both partitioned by "
        "source — packing never crosses the stratum, so partitions stay "
        "independent at scale.",
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.expr(f"size({T.s_tokens('text')})").cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        cum.groupBy(
            "source",
            F.floor(F.col("cum_before") / TOKEN_BUDGET).cast("long").alias("bin_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@register(
    "sample_training_order",
    oracle=f"""
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY {T.o_md5_long("'ep1:' || CAST(doc_id AS VARCHAR)", 12)},
                            doc_id) AS BIGINT) AS train_pos
        FROM documents
    """,
    tags=("llm", "sampling", "T1"),
    doc="Deterministic global training order: rank by md5('ep1:'||id) — "
        "a seeded, reproducible shuffle of the corpus (change the epoch "
        "prefix for a fresh permutation). Computed DISTRIBUTED: the hash "
        "is uniform, so its high 8 bits are 256 balanced, order-preserving "
        "blocks — rank within block (partitioned window) + broadcast "
        "block offsets = the exact global row_number, with no single-"
        "partition stage (operators/ranking.py). Emitting shard_id = "
        "train_pos div shard_size turns this into the shard writer.",
)
def sample_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    key = F.expr(T.s_md5_long("concat('ep1:', CAST(doc_id AS STRING))", 12))
    return uniform_key_global_rank(
        docs.select("doc_id"),
        key,
        [F.col("doc_id")],
        key_bits=48,  # 12 md5 hex chars
        block_bits=8,
        out="train_pos",
    ).select("doc_id", "train_pos")


@register(
    "sample_shard_manifest",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, n_chars,
                   row_number() OVER (
                       ORDER BY {T.o_md5_long("'ep1:' || CAST(doc_id AS VARCHAR)", 12)},
                                doc_id) AS train_pos
            FROM documents
        )
        SELECT CAST((train_pos - 1) % 8 AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(bit_xor({T.o_md5_long('CAST(doc_id AS VARCHAR)', 12)}) AS BIGINT)
                   AS content_hash
        FROM ranked GROUP BY 1
    """,
    tags=("llm", "sampling", "A6"),
    doc="Balanced training-shard manifest: round-robin shard assignment "
        "over the deterministic training order (8 shards, within-1 "
        "balanced by construction) with per-shard doc counts, char "
        "totals, and an order-insensitive bit_xor content checksum — "
        "what a shard writer publishes so a trainer can verify every "
        "shard before reading it. Rank is the distributed block rank "
        "(operators/ranking.py), the manifest is one tiny groupBy; at "
        "100 TB this is partitionBy(shard_id) on the write plus this "
        "exact aggregate.",
)
def sample_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    key = F.expr(T.s_md5_long("concat('ep1:', CAST(doc_id AS STRING))", 12))
    ranked = uniform_key_global_rank(
        docs.select("doc_id", "n_chars"),
        key,
        [F.col("doc_id")],
        key_bits=48,
        block_bits=8,
        out="train_pos",
    )
    doc_hash = F.expr(T.s_md5_long("CAST(doc_id AS STRING)", 12))
    return (
        ranked.withColumn("shard_id", (F.col("train_pos") - 1) % 8)
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.bit_xor(doc_hash).cast("long").alias("content_hash"),
        )
    )


#: priority-sampling coin: 32-bit md5 word at offset 9 (independent of the
#: 8-hex bernoulli coin and the 9-hex batch coin by width+offset), +1 so
#: u ∈ [1, 2^32] is never zero
_S_PRIO_U = f"({T.s_md5_long_at('CAST(doc_id AS STRING)', 9, 8)}) + 1"
_O_PRIO_U = f"({T.o_md5_long_at('CAST(doc_id AS VARCHAR)', 9, 8)}) + 1"


@register(
    "sample_weighted_priority",
    oracle=f"""
        SELECT doc_id, lang, n_chars,
               CAST(n_chars * 4294967296 AS DOUBLE)
                   / CAST({_O_PRIO_U} AS DOUBLE) AS priority
        FROM documents
        ORDER BY priority DESC, doc_id
        LIMIT 200
    """,
    tags=("llm", "sampling", "weighted", "T2"),
    doc="Weight-proportional sample via priority sampling (Duffield-Lund-"
        "Thorup): priority = w/u with w = n_chars and u a stable uniform "
        "md5 coin in (0,1]; the top-k by priority is a fixed-size sample "
        "whose inclusion probability is proportional to weight (long "
        "docs oversampled — the char-budget-aware selection a token-"
        "budget corpus cut needs). Priorities are ONE IEEE division of "
        "exact integers (w·2^32 / u32) — no transcendentals, so no "
        "cross-engine libm drift; selection is orderBy().limit() = "
        "TakeOrderedAndProject, each partition keeps its local top-k.",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    prio = (F.col("n_chars") * F.lit(4294967296).cast("long")).cast("double") / F.expr(
        _S_PRIO_U
    ).cast("double")
    return (
        docs.select("doc_id", "lang", "n_chars", prio.alias("priority"))
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(200)
    )


@register(
    "sample_train_val_test",
    oracle=f"""
        SELECT CASE WHEN {_O_COIN} < 90 THEN 'train'
                    WHEN {_O_COIN} < 95 THEN 'val'
                    ELSE 'test' END AS split,
               lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM documents
        GROUP BY 1, 2
    """,
    tags=("llm", "sampling", "split"),
    doc="Deterministic 90/5/5 train/val/test split manifest: the same "
        "md5 coin as the bernoulli sampler thresholded at 90/95, so a "
        "doc's split is a pure function of doc_id (stable across "
        "retries, executors, and reruns — rand()-based randomSplit is "
        "none of those). Output is the per-split per-language manifest "
        "(counts + char totals) a data loader audits before training; "
        "map-side coin, one ≤3·|lang| -row aggregate.",
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    coin = F.expr(_S_COIN)
    split = (
        F.when(coin < 90, "train").when(coin < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
        )
    )


@register(
    "sample_shard_write_roundtrip",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, n_chars,
                   row_number() OVER (
                       ORDER BY {T.o_md5_long("'ep1:' || CAST(doc_id AS VARCHAR)", 12)},
                                doc_id) AS train_pos
            FROM documents
        )
        SELECT CAST((train_pos - 1) % 8 AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(bit_xor({T.o_md5_long('CAST(doc_id AS VARCHAR)', 12)}) AS BIGINT)
                   AS content_hash,
               true AS one_file_per_shard
        FROM ranked GROUP BY 1
    """,
    tags=("llm", "sampling", "sink", "layout"),
    doc="PHYSICAL shard materialization: write the deterministic "
        "training order as hive-partitioned parquet "
        "(partitionBy(shard_id), repartition(shard_id) first so each "
        "shard is ONE file — the trainer-facing layout), read the "
        "shards back, and recompute the manifest from the FILES. The "
        "oracle is the logical manifest (sample_shard_manifest's "
        "formula): hash-matching it proves the write→read round-trip "
        "lost nothing and shuffled nothing across shards; the "
        "one_file_per_shard flag pins the file layout via "
        "input_file_name distinct-count. At 100 TB the same plan holds "
        "— shard count scales with corpus/shard-size, each file written "
        "by exactly one task.",
)
def sample_shard_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .layout import scratch_path

    docs = read_table(spark, sf_dir, "documents")
    key = F.expr(T.s_md5_long("concat('ep1:', CAST(doc_id AS STRING))", 12))
    ranked = uniform_key_global_rank(
        docs.select("doc_id", "n_chars"),
        key,
        [F.col("doc_id")],
        key_bits=48,
        block_bits=8,
        out="train_pos",
    ).withColumn("shard_id", ((F.col("train_pos") - 1) % 8).cast("long"))

    # repo-scratch path (layout.py convention): repeated invocations
    # overwrite in place instead of leaking tmp dirs
    path = scratch_path(sf_dir, "training_shards")
    (
        ranked.repartition(8, "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    # input_file_name() is non-deterministic to the analyzer — project it
    # into a column BEFORE aggregating over it
    back = spark.read.parquet(path).withColumn("_file", F.input_file_name())
    doc_hash = F.expr(T.s_md5_long("CAST(doc_id AS STRING)", 12))
    return back.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.bit_xor(doc_hash).cast("long").alias("content_hash"),
        (F.countDistinct("_file") == 1).alias("one_file_per_shard"),
    )


# DSIR hashed-feature space: unigrams hashed into this many buckets.
_DSIR_BUCKETS = 64
#: target-domain proxy: one source stream stands in for the high-quality
#: target corpus (DSIR needs only a target/raw split, not labels)
_DSIR_TARGET = "src0"
#: keep fraction — the top-30% cut on the length-normalized log ratio
_DSIR_KEEP_Q = 0.70


@register(
    "sample_importance_dsir",
    oracle=f"""
        WITH tok AS (
            SELECT d.doc_id, d.source, t AS w
            FROM documents d, unnest(string_split(d.text, ' ')) AS u(t)
            WHERE t <> ''
        ),
        b AS (
            SELECT doc_id, source,
                   ({T.o_md5_long('w', 7)}) % {_DSIR_BUCKETS} AS bucket
            FROM tok
        ),
        db AS (
            SELECT doc_id, source, bucket, COUNT(*) AS c
            FROM b GROUP BY 1, 2, 3
        ),
        sb AS (SELECT bucket, SUM(c) AS s_c FROM db GROUP BY bucket),
        tb AS (
            SELECT bucket, SUM(c) AS t_c FROM db
            WHERE source = '{_DSIR_TARGET}' GROUP BY bucket
        ),
        tot AS (
            SELECT (SELECT SUM(s_c) FROM sb) AS s_n,
                   (SELECT COALESCE(SUM(t_c), 0) FROM tb) AS t_n
        ),
        lam AS (
            SELECT sb.bucket,
                   ln(COALESCE(tb.t_c, 0) + 1) - ln(tot.t_n + {_DSIR_BUCKETS})
                 - ln(sb.s_c + 1) + ln(tot.s_n + {_DSIR_BUCKETS}) AS lam
            FROM sb LEFT JOIN tb USING (bucket), tot
        ),
        scored AS (
            SELECT db.doc_id, db.source,
                   CAST(SUM(db.c) AS BIGINT) AS n_tokens,
                   round(SUM(db.c * lam.lam) / SUM(db.c), 6) AS avg_log_ratio
            FROM db JOIN lam USING (bucket)
            GROUP BY db.doc_id, db.source
        ),
        cut AS (
            SELECT percentile_disc({_DSIR_KEEP_Q}) WITHIN GROUP
                       (ORDER BY avg_log_ratio) AS q
            FROM scored
        )
        SELECT s.doc_id, s.source, s.n_tokens, s.avg_log_ratio,
               CAST(CASE WHEN s.avg_log_ratio > cut.q THEN 1 ELSE 0 END
                    AS BIGINT) AS keep
        FROM scored s, cut
    """,
    tags=("llm", "sampling", "quality"),
    doc="DSIR-style importance resampling (Xie et al. 2023): hashed "
        f"unigram features ({_DSIR_BUCKETS} md5 buckets), add-1-smoothed "
        "bucket distributions for the target domain (the "
        f"'{_DSIR_TARGET}' stream as target proxy) vs the raw corpus, "
        "per-document length-normalized log importance ratio "
        "sum(c_b*ln(p_t(b)/p_s(b)))/n, and a deterministic top-30% keep "
        "cut. Scale shape: one (doc,bucket) count shuffle (fan-in "
        f"{_DSIR_BUCKETS} buckets/doc), two {_DSIR_BUCKETS}-row "
        "distribution aggs broadcast back as the log-ratio table, "
        "scoring map-side, one percentile_disc cutpoint row broadcast "
        "for the keep flag — no window over the corpus. The keep "
        "boundary compares 6-dec-rounded doubles against a cutpoint "
        "drawn from the same rounded domain (strict >, so the boundary "
        "doc itself is excluded identically in both engines).",
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pins import fresh_pins, pin

    docs = read_table(spark, sf_dir, "documents")
    db = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split("text", " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            "source",
            (F.expr(T.s_md5_long("w", 7)) % _DSIR_BUCKETS).alias("bucket"),
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count("*").alias("c"))
    )
    fresh_pins()
    db = pin(db)
    sb = db.groupBy("bucket").agg(F.sum("c").alias("s_c"))
    tb = (
        db.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.sum("c").alias("t_c"))
    )
    tot = sb.agg(F.sum("s_c").alias("s_n")).crossJoin(
        tb.agg(F.coalesce(F.sum("t_c"), F.lit(0)).alias("t_n"))
    )
    lam = (
        sb.join(tb, "bucket", "left")
        .crossJoin(tot)
        .select(
            "bucket",
            (
                F.log(F.coalesce(F.col("t_c"), F.lit(0)) + 1)
                - F.log(F.col("t_n") + _DSIR_BUCKETS)
                - F.log(F.col("s_c") + 1)
                + F.log(F.col("s_n") + _DSIR_BUCKETS)
            ).alias("lam"),
        )
    )
    scored = pin(
        db.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("c") * F.col("lam")) / F.sum("c"), 6
            ).alias("avg_log_ratio"),
        )
    )
    cut = scored.agg(
        F.expr(
            f"percentile_disc({_DSIR_KEEP_Q}) WITHIN GROUP (ORDER BY avg_log_ratio)"
        ).alias("q")
    )
    return scored.crossJoin(cut).select(
        "doc_id",
        "source",
        "n_tokens",
        "avg_log_ratio",
        F.when(F.col("avg_log_ratio") > F.col("q"), 1)
        .otherwise(0)
        .cast("long")
        .alias("keep"),
    )


#: negative-sampling knobs: k negatives per anchor, NB hash buckets
_NEG_K = 2
_NEG_NB = 64


@register(
    "sample_contrastive_negatives",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id,
                   ({T.o_md5_long("CAST(doc_id AS VARCHAR)", 8)}) % {_NEG_NB}
                       AS bucket,
                   ROW_NUMBER() OVER (
                       PARTITION BY ({T.o_md5_long("CAST(doc_id AS VARCHAR)", 8)})
                                    % {_NEG_NB}
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM documents
        ), mins AS (
            SELECT bucket,
                   MAX(CASE WHEN rn = 1 THEN doc_id END) AS min1,
                   MAX(CASE WHEN rn = 2 THEN doc_id END) AS min2
            FROM ranked WHERE rn <= 2 GROUP BY bucket
        ), probes AS (
            SELECT doc_id AS anchor_id, j AS slot,
                   ({T.o_md5_long(
                       "'neg:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)",
                       8,
                   )}) % {_NEG_NB} AS bucket
            FROM documents, unnest(generate_series(0, {_NEG_K - 1})) AS u(j)
            WHERE ({T.o_md5_long("CAST(doc_id AS VARCHAR)", 8)}) % 100 < 5
        )
        SELECT anchor_id, CAST(slot AS INT) AS slot,
               CASE WHEN min1 = anchor_id THEN min2 ELSE min1 END
                   AS negative_id
        FROM probes JOIN mins USING (bucket)
        ORDER BY anchor_id, slot
    """,
    tags=("llm", "sampling", "contrastive"),
    doc="Deterministic negative sampling for contrastive training: "
        "every anchor (a stable 5% md5 cohort) draws k pseudo-random "
        "negatives by hashing (anchor, slot) to one of NB corpus "
        "buckets and taking that bucket's md5-minimal document — "
        "hash-deterministic like every sampler here (stable across "
        "retries/executors/engines, re-runnable on the oracle), "
        "self-collision handled by falling to the bucket's second "
        "minimum. Scale shape: the bucket representatives reduce the "
        "corpus to an NB-row table in one bucket-keyed window pass "
        "(rank-within-bucket, partitioned, never global), probes are "
        "map-side explode of the anchor cohort, and the lookup is an "
        "equi-join against the NB-row frame (broadcast at any NB a "
        "driver can hold; NB scales with corpus size to keep buckets "
        "executor-sized). No all-pairs anything.",
)
def sample_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.expr(
        f"({T.s_md5_long('CAST(doc_id AS STRING)', 8)}) % {_NEG_NB}"
    )
    ranked = docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("bucket").orderBy("_h", "doc_id")
        ),
    )
    mins = (
        ranked.filter(F.col("rn") <= 2)
        .groupBy("bucket")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("min1"),
            F.max(F.when(F.col("rn") == 2, F.col("doc_id"))).alias("min2"),
        )
    )
    probes = (
        docs.filter(F.expr(f"{_S_COIN} < 5"))
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("slot"),
        )
        .withColumn(
            "bucket",
            F.expr(
                "("
                + T.s_md5_long(
                    "concat('neg:', CAST(anchor_id AS STRING), ':',"
                    " CAST(slot AS STRING))",
                    8,
                )
                + f") % {_NEG_NB}"
            ),
        )
    )
    return (
        probes.join(F.broadcast(mins), "bucket")
        .select(
            "anchor_id",
            F.col("slot").cast("int").alias("slot"),
            F.when(F.col("min1") == F.col("anchor_id"), F.col("min2"))
            .otherwise(F.col("min1"))
            .alias("negative_id"),
        )
        .orderBy("anchor_id", "slot")
    )


#: group-split coin: md5 of the GROUP key (user), not the row key
_S_UCOIN = f"({T.s_md5_long('CAST(user_id AS STRING)', 8)}) % 100"
_O_UCOIN = f"({T.o_md5_long('CAST(user_id AS VARCHAR)', 8)}) % 100"


@register(
    "sample_group_split_events",
    oracle=f"""
        WITH s AS (
            SELECT CASE WHEN {_O_UCOIN} < 80 THEN 'train'
                        WHEN {_O_UCOIN} < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   user_id
            FROM events
        ), leak AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS leaky_users FROM (
                SELECT user_id FROM s GROUP BY user_id
                HAVING COUNT(DISTINCT split) > 1
            )
        )
        SELECT split,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               leaky_users
        FROM s CROSS JOIN leak
        GROUP BY split, leaky_users
        ORDER BY split
    """,
    tags=("llm", "sampling", "split", "leakage"),
    doc="GROUP-aware 80/10/10 split of the event stream: the coin hashes "
        "the USER, not the event, so every user's whole history lands in "
        "one fold — the leakage guard row-level splits cannot give "
        "(a user in both train and test lets the model memorize its "
        "way to inflated eval metrics). The output carries its own "
        "audit: leaky_users counts users observed in >1 fold and must "
        "be 0 BY CONSTRUCTION (a pure function of user_id cannot "
        "disagree with itself) — the oracle re-derives it rather than "
        "trusting it. Map-side coin, one split-grain aggregate plus a "
        "user-grain distinct; everything deterministic across "
        "retries/executors/engines.",
)
def sample_group_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_events

    ev = read_events(spark, sf_dir)
    coin = F.expr(_S_UCOIN)
    s = ev.select(
        F.when(coin < 80, "train")
        .when(coin < 90, "val")
        .otherwise("test")
        .alias("split"),
        "user_id",
    )
    leak = (
        s.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .groupBy()
        .agg(F.count("*").cast("long").alias("leaky_users"))
    )
    return (
        s.groupBy("split")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count("*").cast("long").alias("n_events"),
        )
        .crossJoin(leak)
        .select("split", "n_users", "n_events", "leaky_users")
        .orderBy("split")
    )
