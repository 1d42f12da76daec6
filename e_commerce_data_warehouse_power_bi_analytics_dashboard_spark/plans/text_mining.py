"""Text-mining / retrieval operators over the documents corpus
(beyond-reference LLM-data extensions): BM25 ranked search, TF-IDF term
extraction, and a BPE vocabulary-induction step.

All three are pure JVM expression pipelines over the shared tokenizer
(functions/text.py s_tokens/o_tokens — identical normalization in Spark
and the DuckDB oracle). Scale design:

  - term statistics flow through vocabulary-sized shuffles (term keys),
    never document-pair joins;
  - BPE pair counting runs on the word-TYPE table (distinct word ×
    frequency), the classic trick that makes merge-step cost independent
    of corpus token count;
  - query-term tables are broadcast (a query has a handful of terms);
  - scores are rounded to 6 decimals BEFORE ranking so the top-k cut is
    engine-stable (Spark and DuckDB sum per-term doubles in different
    orders; ULP drift must not reorder the boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T2
from ..functions.text import o_tokens, s_md5_long, s_tokens
from ..operators import text_index as TX
from ..sources.artifacts import persisted
from ..sources.tpch import read_table
from .catalog import register

#: Okapi BM25 constants (standard defaults)
_K1, _B = 1.2, 0.75

#: fixed demo query — terms chosen from the corpus vocabulary
QUERY_TERMS = ("spark", "merge", "vector")


def _term_freqs(docs: DataFrame, term_filter: DataFrame | None = None) -> DataFrame:
    """(doc_id, term, tf, dl): per-document term frequency + doc length.
    One explode + one (term, doc) shuffle; dl rides along map-side.

    ``term_filter`` (a broadcast-sized (term) frame) is joined BEFORE
    the aggregation, so non-matching tokens die map-side in the
    broadcast hash join and the tf shuffle carries only the terms of
    interest — for a handful of query terms that shrinks the shuffle by
    the vocabulary ratio (~20× on this corpus)."""
    toks = docs.select(
        "doc_id",
        F.expr(s_tokens("text")).alias("toks"),
    ).select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    if term_filter is not None:
        toks = toks.join(F.broadcast(term_filter), "term")
    return toks.groupBy("doc_id", "term", "dl").agg(F.count("*").alias("tf"))


def tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, toks): the tokenized corpus, persisted per session.

    Session-scoped parsed corpus, keyed by (application, sf_dir) — the
    retrieval analog of the reference's load-time index build (its FTS /
    B-tree indexes are created before any timed query; BASELINE.md) and
    of llm_ops._doc_shingles. One regex-normalize+split scan per
    session."""
    return persisted(
        spark, ("tokenized_docs", sf_dir),
        lambda: read_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(s_tokens("text")).alias("toks"))
        .select("doc_id", F.size("toks").alias("dl"), "toks")
        .persist(),
    )


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = QUERY_TERMS,
    k: int = 10,
    tokd: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 top-k documents for a bag-of-terms query.

    idf = ln(1 + (N - df + .5)/(df + .5));
    score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Shuffles: (term,doc) tf agg → term-keyed df agg (vocab-sized) →
    doc-keyed score agg; corpus scalars (N, avgdl) broadcast.
    """
    spark = docs.sparkSession
    qt = spark.createDataFrame([(t,) for t in terms], "term string")
    # tokenize the corpus ONCE: the (doc_id, dl, toks) frame feeds both
    # the corpus stats and the tf branch (without it each branch re-runs
    # the regex-normalize+split scan — the dominant cost of this query).
    # Callers serving many queries pass the session-scoped
    # ``tokenized_docs`` artifact; ad-hoc callers pay a query-internal
    # pin, evicted per bench rep / session teardown.
    if tokd is None:
        tokd = (
            docs.select("doc_id", F.expr(s_tokens("text")).alias("toks"))
            .select("doc_id", F.size("toks").alias("dl"), "toks")
            .persist()
        )
    # N and avgdl over the whole corpus: one row, broadcast by the planner
    stats = tokd.select(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        tokd.select("doc_id", "dl", F.explode("toks").alias("term"))
        # non-query tokens die map-side in the broadcast hash join, so
        # the tf shuffle carries only the handful of query terms
        .join(F.broadcast(qt), "term")
        .groupBy("doc_id", "term", "dl")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(stats)
        .select(
            "doc_id",
            (
                F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (_K1 + 1))
                / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(k)


def _o_bm25_ctes(terms: tuple[str, ...]) -> str:
    qlist = ", ".join(f"('{t}')" for t in terms)
    return f"""
        toks AS (
            SELECT doc_id, len({o_tokens("text")}) AS dl,
                   unnest({o_tokens("text")}) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, dl, count(*) AS tf
            FROM toks WHERE term IN (SELECT term FROM (VALUES {qlist}) q(term))
            GROUP BY doc_id, term, dl
        ),
        stats AS (
            SELECT count(*)::DOUBLE AS n_docs,
                   avg(len({o_tokens("text")})) AS avgdl
            FROM documents
        ),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
    """


#: the BM25 top-10 oracle — shared verbatim by the inline entry and the
#: persisted-index serve entry (identical semantics; a hash match on
#: both pins the index lossless)
_O_BM25_TOPK = f"""
        WITH {_o_bm25_ctes(QUERY_TERMS)}
        SELECT doc_id, score FROM (
            SELECT t.doc_id,
                   round(sum(
                       ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (t.tf * ({_K1} + 1))
                       / (t.tf + {_K1} * (1 - {_B} + {_B} * t.dl / s.avgdl))
                   ), 6) AS score
            FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s
            GROUP BY t.doc_id
        )
        ORDER BY score DESC, doc_id LIMIT 10
    """


@register(
    "bm25_topk_search",
    oracle=_O_BM25_TOPK,
    tags=("llm", "text", "search", "T2"),
    doc="Okapi BM25 ranked retrieval (k1=1.2, b=0.75) for a broadcast "
        "bag-of-terms query over the documents corpus — term-keyed "
        "(vocab-sized) statistics shuffles only, top-10 via "
        "TakeOrderedAndProject; scores rounded before ranking so the "
        "cut is engine-stable.",
)
def bm25_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(
        read_table(spark, sf_dir, "documents"),
        tokd=tokenized_docs(spark, sf_dir),
    )


@register(
    "bm25_index_serve_topk",
    oracle=_O_BM25_TOPK,
    tags=("llm", "text", "search", "T2", "serve", "lifecycle"),
    doc="BM25 served from the PERSISTED inverted index (r7 — the "
        "text-retrieval member of the train/serve family): postings "
        "(term, doc_id, tf, dl) built once, term-sorted so the query's "
        "literal IN-list prunes parquet row groups; per-term df and the "
        "corpus scalars joined broadcast. No tokenization, no "
        "corpus-wide aggregation at query time — the only data-sized "
        "work is the doc-keyed score sum over matched postings. Same "
        "oracle as bm25_topk_search verbatim: a hash match on both "
        "pins the index lossless. operators/text_index.py.",
)
def bm25_index_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.bm25_serve_topk(
        TX.read_artifact(spark, sf_dir, "postings"),
        TX.read_artifact(spark, sf_dir, "term_stats"),
        TX.read_artifact(spark, sf_dir, "stats"),
        QUERY_TERMS, k=10, k1=_K1, b=_B,
    )


@register(
    "bm25_index_manifest",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, len({o_tokens("text")}) AS dl,
                   unnest({o_tokens("text")}) AS term
            FROM documents
        ),
        pfull AS (
            SELECT term, doc_id, count(*) AS tf, dl
            FROM toks GROUP BY term, doc_id, dl
        ),
        ts AS (SELECT term, count(*) AS df FROM pfull GROUP BY term),
        st AS (
            SELECT count(*)::DOUBLE AS n_docs,
                   avg(len({o_tokens("text")})) AS avgdl
            FROM documents
        )
        SELECT * FROM (
            SELECT 'postings' AS artifact,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS key_sum,
                   CAST(SUM({T2.o_md5_long('term', 7)} + tf * 31 + dl * 7)
                        AS BIGINT) AS payload_sum
            FROM pfull
            UNION ALL
            SELECT 'stats',
                   CAST(1 AS BIGINT),
                   CAST(n_docs AS BIGINT),
                   CAST(FLOOR(avgdl * 1e6) AS BIGINT)
            FROM st
            UNION ALL
            SELECT 'term_stats',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM({T2.o_md5_long('term', 7)}) AS BIGINT),
                   CAST(SUM(df) AS BIGINT)
            FROM ts
        ) ORDER BY artifact
    """,
    tags=("llm", "text", "search", "lifecycle"),
    doc="BM25 index TRAIN step + integrity manifest (r7): reads the "
        "persisted postings / term_stats / stats artifacts and emits "
        "row counts + exact integer checksums (md5-derived term sums, "
        "tf/dl mixes, FLOOR(avgdl*1e6)); the oracle re-derives the "
        "whole inverted index from the raw corpus — a hash match "
        "proves persisted == re-tokenized, so every query served from "
        "the index inherits from-scratch semantics.",
)
def bm25_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    postings = TX.read_artifact(spark, sf_dir, "postings")
    term_stats = TX.read_artifact(spark, sf_dir, "term_stats")
    stats = TX.read_artifact(spark, sf_dir, "stats")
    p_row = postings.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("key_sum"),
        F.sum(
            F.expr(s_md5_long("term", 7)) + F.col("tf") * 31 + F.col("dl") * 7
        ).cast("long").alias("payload_sum"),
    ).select(F.lit("postings").alias("artifact"), "n_rows", "key_sum", "payload_sum")
    s_row = stats.select(
        F.lit("stats").alias("artifact"),
        F.lit(1).cast("long").alias("n_rows"),
        F.col("n_docs").cast("long").alias("key_sum"),
        F.floor(F.col("avgdl") * 1e6).cast("long").alias("payload_sum"),
    )
    t_row = term_stats.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.expr(s_md5_long("term", 7))).cast("long").alias("key_sum"),
        F.sum("df").cast("long").alias("payload_sum"),
    ).select(F.lit("term_stats").alias("artifact"), "n_rows", "key_sum", "payload_sum")
    return p_row.unionAll(s_row).unionAll(t_row).orderBy("artifact")


@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({o_tokens("text")}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY term),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.term,
                   round(t.tf * ln(n.n_docs / d.df), 6) AS tfidf
            FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, CAST(rnk AS INT) AS rnk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
            FROM scored
        ) WHERE rnk <= 3 AND doc_id < 20
    """,
    tags=("llm", "text", "W6"),
    doc="TF-IDF top-3 characteristic terms per document (docs 0-19): "
        "document frequency computed over the FULL corpus (global df is "
        "the point of idf), per-doc ranking via a doc-partitioned "
        "window — never a global sort.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.expr(s_tokens("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").cast("double").alias("df"))
    n = docs.select(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(n)
        .select(
            "doc_id", "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 3) & (F.col("doc_id") < 20))
        .select("doc_id", "term", "tfidf", "rnk")
    )


@register(
    "bpe_pair_merge_step",
    oracle=f"""
        WITH words AS (
            SELECT w, count(*) AS freq FROM (
                SELECT unnest({o_tokens("text")}) AS w FROM documents
            ) GROUP BY w
        ),
        pairs AS (
            -- range can't be laterally correlated in DuckDB: enumerate a
            -- fixed positions table and filter to each word's length
            SELECT substring(w, i.i::INT, 2) AS pair, freq
            FROM words JOIN range(1, 64) i(i) ON i.i < len(words.w)
            WHERE len(w) >= 2
        )
        SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair LIMIT 20
    """,
    tags=("llm", "text", "bpe"),
    doc="One BPE vocabulary-induction step: most frequent adjacent "
        "character pairs across the corpus. Counted on the word-TYPE "
        "table (distinct word × corpus frequency) so the pair explosion "
        "is vocabulary-sized, independent of corpus token count — the "
        "standard trick that makes BPE training feasible at 100 TB. "
        "Pure JVM transform/sequence expressions, no UDFs.",
)
def bpe_pair_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(s_tokens("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


_BPE_ROUNDS = 6


def _o_bpe_trainer(rounds: int = _BPE_ROUNDS) -> str:
    """DuckDB twin of bpe_train_merges: the same ``rounds`` greedy merge
    iterations unrolled as chained CTEs. The per-word merge application
    is a list_reduce over 1-element lists (DuckDB's reduce requires
    acc-type == element-type, so symbols ride as [x]) implementing the
    identical greedy left-to-right scan as the Spark aggregate() fold —
    pop-last-and-push-merged whenever (last, current) == (l, r)."""
    sql = """
        WITH words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(""" + o_tokens("text") + """) AS w FROM documents
            ) GROUP BY w HAVING w <> ''
        ),
        w0 AS (
            SELECT w, freq,
                   list_transform(range(1, len(w) + 1),
                                  i -> substring(w, i::INT, 1)) AS s
            FROM words
        )"""
    for i in range(1, rounds + 1):
        sql += f""",
        p{i} AS (
            SELECT s[j.j] AS l, s[j.j + 1] AS r, SUM(freq) AS n
            FROM w{i - 1} JOIN range(1, 64) j(j) ON j.j < len(s)
            GROUP BY 1, 2
        ),
        b{i} AS (SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1),
        w{i} AS (
            SELECT w, freq,
                   list_reduce(
                       list_transform(s, x -> [x]),
                       (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
                                   THEN list_concat(acc[1:len(acc) - 1],
                                                    [b.l || b.r])
                                   ELSE list_concat(acc, x) END
                   ) AS s
            FROM w{i - 1}, b{i} b
        )"""
    steps = " UNION ALL ".join(
        f"SELECT {i} AS step, l AS sym_left, r AS sym_right, "
        f"CAST(n AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, rounds + 1)
    )
    return sql + f" SELECT * FROM ({steps}) ORDER BY step"


@register(
    "bpe_train_merges",
    oracle=_o_bpe_trainer(),
    tags=("llm", "text", "bpe", "iterative"),
    doc=f"Iterative BPE trainer ({_BPE_ROUNDS} greedy merge rounds — the "
        "full version of bpe_pair_merge_step, and the third iterative "
        "algorithm next to k-means and PageRank): per round, count "
        "adjacent symbol pairs on the word-TYPE table (vocabulary-"
        "sized, token-count-independent), pick the most frequent pair "
        "(deterministic count-then-lexicographic tiebreak, 1-row "
        "TakeOrdered), and apply the greedy left-to-right merge to "
        "every word via a JVM aggregate() fold with the winning pair "
        "broadcast as columns — NO driver-side collect anywhere (the "
        "winning pair stays a 1-row frame, never a Python literal); "
        "lineage is cut per round with localCheckpoint (the k-means "
        "pattern, O(R) not O(R²) work), and the whole fit hash-matches "
        "the unrolled-CTE DuckDB twin. Emits the merge table "
        "(step, sym_left, sym_right, pair_count). End-of-word markers "
        "omitted (documented simplification).",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    steps, _ = _bpe_fit(spark, sf_dir)
    return steps.orderBy("step")


def _bpe_fit(
    spark: SparkSession, sf_dir: str, rounds: int = _BPE_ROUNDS
) -> tuple[DataFrame, DataFrame]:
    """The shared trainer loop: returns (the merge-step frame
    (step, sym_left, sym_right, pair_count), the final word-type symbol
    table (w, freq, s)) — consumed by both the trainer entry and the
    encoder entry.

    r12 (guide §1.2 — the driver-state pattern of the pca/lr/k-means
    fits): the winning pair is ONE ROW per round — the old plan
    broadcast it back as a frame AND re-executed every round's pair
    aggregation a second time when the trainer entry unioned the step
    frames. It is now collected per round (the same single row the
    BroadcastExchange shipped anyway), inlined into the merge fold as
    string literals, and the step table is one single-slice local
    frame. The corpus-sized work (pair explode + sum per round over
    the word-type table) is unchanged and stays distributed."""
    docs = read_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(s_tokens("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    cur = words.select(
        "w", "freq",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias("s"),
    )
    steps: list[tuple] = []
    for i in range(1, _BPE_ROUNDS + 1):
        pairs = cur.select(
            F.explode(
                F.expr(
                    "IF(size(s) >= 2, transform(sequence(1, size(s) - 1), "
                    "j -> struct(element_at(s, j) AS l, element_at(s, j + 1) AS r)), "
                    "CAST(array() AS array<struct<l: string, r: string>>))"
                )
            ).alias("p"),
            "freq",
        )
        rows = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not rows:
            # corpus degenerated to single-symbol words before the round
            # budget ran out (r12 advisory): no pairs left to merge —
            # emit the steps gathered so far, like the old
            # broadcast-frame plan's graceful empty-round degradation
            break
        best = rows[0]
        steps.append((i, best["l"], best["r"], int(best["n"])))
        # the winning pair rides into the fold as lit() columns (never
        # string-interpolated SQL — symbols are corpus text), keeping
        # the fold expression byte-identical to the broadcast-frame plan
        cur = cur.withColumns({"l": F.lit(best["l"]), "r": F.lit(best["r"])}).select(
            "w", "freq",
            F.expr(
                "aggregate(s, CAST(array() AS array<string>), "
                "(acc, x) -> IF(size(acc) > 0 AND try_element_at(acc, -1) = l "
                "AND x = r, "
                "concat(slice(acc, 1, size(acc) - 1), array(concat(l, r))), "
                "concat(acc, array(x))))"
            ).alias("s"),
        )
        # cut the growing lineage per round (the k-means pattern): without
        # this, round i re-executes every earlier round's pair count +
        # fold — O(R²) over the vocabulary instead of O(R)
        cur = cur.localCheckpoint(eager=True)
    steps_df = spark.createDataFrame(
        spark.sparkContext.parallelize(steps, 1),
        schema="step int, sym_left string, sym_right string, pair_count long",
    )
    return steps_df, cur


@register(
    "bpe_encode_token_counts",
    oracle=_o_bpe_trainer().split(" SELECT * FROM (")[0] + f"""
        , wl AS (SELECT w, len(s) AS n_sub FROM w{_BPE_ROUNDS}),
        dt AS (
            SELECT doc_id, unnest({o_tokens("text")}) AS w FROM documents
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
               CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
        FROM dt JOIN wl USING (w)
        GROUP BY doc_id
    """,
    tags=("llm", "text", "bpe", "iterative"),
    doc="BPE ENCODER closing the trainer loop: apply the trained merge "
        "table to the corpus and count per-document subword tokens "
        "(n_bpe_tokens) next to whitespace tokens. Encoding cost is "
        "paid once per word TYPE (the final symbol table from the "
        "trainer), then each document just sums its words' subword "
        "counts through a vocabulary join — token-count work never "
        "touches the merge machinery. Empty tokens drop in the join "
        "(mirrored by the oracle).",
)
def bpe_encode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, vocab = _bpe_fit(spark, sf_dir)
    wl = vocab.select("w", F.size("s").alias("n_sub"))
    docs = read_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.expr(s_tokens("text"))).alias("w")
    )
    return (
        dt.join(wl, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_ws_tokens"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        )
    )


@register(
    "text_unigram_perplexity",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, t AS w
            FROM documents, unnest(string_split(text, ' ')) AS u(t)
            WHERE t <> ''
        ),
        wf AS (
            SELECT doc_id, lang, w, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3
        ),
        vocab AS (SELECT w, SUM(c) AS cw FROM wf GROUP BY w),
        n AS (SELECT SUM(cw) AS n_total FROM vocab),
        scored AS (
            SELECT wf.doc_id, wf.lang,
                   CAST(SUM(wf.c) AS BIGINT) AS n_tokens,
                   round(ln(n.n_total) - SUM(wf.c * ln(v.cw)) / SUM(wf.c), 6)
                       AS cross_entropy_nats
            FROM wf JOIN vocab v USING (w), n
            GROUP BY wf.doc_id, wf.lang, n.n_total
        ),
        cuts AS (
            SELECT lang,
                   percentile_disc(0.3333333333) WITHIN GROUP
                       (ORDER BY cross_entropy_nats) AS c1,
                   percentile_disc(0.6666666667) WITHIN GROUP
                       (ORDER BY cross_entropy_nats) AS c2
            FROM scored GROUP BY lang
        )
        SELECT s.doc_id, s.lang, s.n_tokens, s.cross_entropy_nats,
               CASE WHEN s.cross_entropy_nats <= c.c1 THEN 'head'
                    WHEN s.cross_entropy_nats <= c.c2 THEN 'middle'
                    ELSE 'tail' END AS ccnet_bucket
        FROM scored s JOIN cuts c USING (lang)
    """,
    tags=("llm", "text", "quality"),
    doc="CCNet-style unigram-LM quality scoring (Wenzek et al. 2020): "
        "train a corpus unigram model (word counts / total), score each "
        "document's cross-entropy under it, and bucket head/middle/tail "
        "per language at the 1/3 and 2/3 percentiles — the classic "
        "LM-perplexity corpus filter with the LM reduced to its unigram "
        "core so the DuckDB twin is exact. Scale shape: one (doc,word) "
        "count shuffle, one vocabulary-sized word shuffle, the scoring "
        "join keys on word (group size = document frequency), N and the "
        "per-lang cutpoints ride broadcast 1-row/|langs| frames; no "
        "global window. Scores are rounded to 6 decimals BEFORE the "
        "percentile cut so bucket boundaries are engine-stable "
        "(cutpoints are percentile_disc values drawn from the identical "
        "rounded domain).",
)
def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pins import fresh_pins, pin

    docs = read_table(spark, sf_dir, "documents")
    wf = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "lang", "w")
        .agg(F.count("*").alias("c"))
    )
    vocab = wf.groupBy("w").agg(F.sum("c").alias("cw"))
    n_total = vocab.agg(F.sum("cw").alias("n_total"))
    fresh_pins()
    scored = pin(
        wf.join(vocab, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.log("cw")).alias("_s"),
        )
        .crossJoin(n_total)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(
                F.log("n_total") - F.col("_s") / F.col("n_tokens"), 6
            ).alias("cross_entropy_nats"),
        )
    )
    cuts = scored.groupBy("lang").agg(
        F.expr(
            "percentile_disc(0.3333333333) WITHIN GROUP (ORDER BY cross_entropy_nats)"
        ).alias("c1"),
        F.expr(
            "percentile_disc(0.6666666667) WITHIN GROUP (ORDER BY cross_entropy_nats)"
        ).alias("c2"),
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "cross_entropy_nats",
        F.when(F.col("cross_entropy_nats") <= F.col("c1"), "head")
        .when(F.col("cross_entropy_nats") <= F.col("c2"), "middle")
        .otherwise("tail")
        .alias("ccnet_bucket"),
    )


#: number of head terms the Zipf fit runs over
_ZIPF_TOP = 100


@register(
    "text_zipf_slope",
    oracle=f"""
        WITH vocab AS (
            SELECT t AS w, COUNT(*) AS c
            FROM documents, unnest(string_split(text, ' ')) AS u(t)
            WHERE t <> '' GROUP BY t
        ),
        top AS (
            SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank
            FROM vocab
            ORDER BY c DESC, w LIMIT {_ZIPF_TOP}
        ),
        pts AS (SELECT ln(rank) AS x, ln(c) AS y FROM top),
        m AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_terms,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
               round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
                   AS intercept,
               round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        FROM m
    """,
    tags=("llm", "text", "analytics", "T2"),
    doc=f"Zipf's-law fit over the corpus vocabulary: OLS slope of "
        f"ln(count) vs ln(rank) for the top-{_ZIPF_TOP} terms (a "
        "healthy natural-language corpus sits near -1; synthetic or "
        "templated corpora flatten — a corpus-level quality diagnostic "
        "next to the per-doc entropy/perplexity signals). Scale shape: "
        "one vocabulary-sized count shuffle, the head selected by "
        f"TakeOrderedAndProject (top_k_ranked — each partition keeps "
        "its local top-k, NO global window), moment sums over the "
        f"{_ZIPF_TOP}-row frame, closed-form slope/intercept/R² on one "
        "1-row frame. 6-dec rounding absorbs cross-engine ln()/"
        "summation-order noise (the entropy-entry discipline).",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import top_k_ranked

    docs = read_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    top = top_k_ranked(vocab, [("c", "desc"), ("w", "asc")], _ZIPF_TOP, out="rank")
    pts = top.select(
        F.log("rank").alias("x"), F.log("c").alias("y")
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


#: bigram assembly over the empty-filtered token array; guarded so a
#: 0/1-token doc yields an empty array (Spark's sequence(1,0) would
#: COUNT DOWN, not return empty)
_S_BIGRAMS = (
    "CASE WHEN size(_toks) < 2 THEN array() "
    "ELSE transform(sequence(1, size(_toks) - 1),"
    " i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1))) END"
)


@register(
    "text_bigram_perplexity",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents
        ), bg AS (
            SELECT doc_id, b
            FROM toks, unnest(
                list_transform(
                    generate_series(1, len(l) - 1),
                    i -> l[i] || ' ' || l[i + 1]
                )
            ) AS u(b)
        ), df AS (
            SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2
        ), lm AS (
            SELECT b, SUM(c) AS cb FROM df GROUP BY b
        ), ctx AS (
            SELECT split_part(b, ' ', 1) AS w1, SUM(cb) AS cw1
            FROM lm GROUP BY 1
        ), v AS (
            SELECT COUNT(DISTINCT t) AS vsize
            FROM toks, unnest(l) AS u(t)
        )
        SELECT df.doc_id,
               CAST(SUM(df.c) AS BIGINT) AS n_bigrams,
               round(-SUM(df.c * ln(
                   CAST(lm.cb + 1 AS DOUBLE) / (ctx.cw1 + v.vsize)
               )) / SUM(df.c), 6) AS cross_entropy_nats,
               round(exp(-SUM(df.c * ln(
                   CAST(lm.cb + 1 AS DOUBLE) / (ctx.cw1 + v.vsize)
               )) / SUM(df.c)), 2) AS perplexity
        FROM df
        JOIN lm USING (b)
        JOIN ctx ON ctx.w1 = split_part(df.b, ' ', 1)
        CROSS JOIN v
        GROUP BY df.doc_id
    """,
    tags=("llm", "text", "quality"),
    doc="Bigram-LM perplexity scoring (the order-sensitive upgrade of "
        "text_unigram_perplexity): train an add-one-smoothed bigram "
        "model on the corpus — p(w2|w1) = (c(w1w2)+1)/(c(w1.)+V) — and "
        "score each document's cross-entropy/perplexity under it. "
        "Context counts derive from the bigram table itself (so the "
        "model is self-consistent at token-sequence boundaries) and V "
        "is the distinct-unigram vocabulary. Scale shape: bigrams are "
        "assembled MAP-SIDE from each doc's token array (never a "
        "positions self-join), doc-bigram counts shuffle on (doc, "
        "bigram), the model tables are bigram-/context-vocabulary-"
        "sized, the scoring join keys on bigram (group size = bigram "
        "document frequency), and V broadcasts as one row. Same float "
        "discipline as the unigram entry: per-doc log-sums round to 6 "
        "decimals (sub-1e-12 reorder noise vs 1e-6 grid), perplexity "
        "to 2.",
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pins import fresh_pins, pin

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t <> '')").alias("_toks"),
    )
    # pin the per-doc bigram counts (r12 — guide §1.2): the frame feeds
    # the LM sum, the context sum AND the scoring join, so unpinned the
    # tokenize+bigram explode over the full corpus executed three times
    fresh_pins()
    df_counts = pin(
        toks.select("doc_id", F.explode(F.expr(_S_BIGRAMS)).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
    )
    lm = df_counts.groupBy("b").agg(F.sum("c").alias("cb"))
    ctx = (
        lm.groupBy(F.split("b", " ").getItem(0).alias("w1"))
        .agg(F.sum("cb").alias("cw1"))
    )
    v = (
        toks.select(F.explode("_toks").alias("t"))
        .agg(F.countDistinct("t").alias("vsize"))
    )
    scored = (
        df_counts.join(lm, "b")
        .join(
            ctx,
            F.split(F.col("b"), " ").getItem(0) == F.col("w1"),
        )
        .crossJoin(v)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            (
                -F.sum(
                    F.col("c")
                    * F.log(
                        (F.col("cb") + 1).cast("double")
                        / (F.col("cw1") + F.col("vsize"))
                    )
                )
                / F.sum("c")
            ).alias("_ce"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("_ce", 6).alias("cross_entropy_nats"),
        F.round(F.exp("_ce"), 2).alias("perplexity"),
    )


#: PMI collocation knobs: candidate floor and report size
_PMI_MIN_COUNT = 25
_PMI_TOP = 20


@register(
    "text_bigram_pmi",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents
        ),
        uni AS (
            SELECT t AS w, COUNT(*) AS cu
            FROM toks, unnest(l) AS u(t) GROUP BY t
        ),
        n AS (SELECT SUM(cu) AS n_tokens FROM uni),
        bg AS (
            SELECT b, COUNT(*) AS cb
            FROM toks, unnest(
                list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])
            ) AS u(b)
            GROUP BY b
            HAVING COUNT(*) >= {_PMI_MIN_COUNT}
        ),
        scored AS (
            SELECT bg.b AS bigram, bg.cb, u1.cu AS c_w1, u2.cu AS c_w2,
                   (CAST(bg.cb AS DOUBLE) * n.n_tokens)
                   / (CAST(u1.cu AS DOUBLE) * u2.cu) AS pmi_ratio
            FROM bg
            JOIN uni u1 ON u1.w = split_part(bg.b, ' ', 1)
            JOIN uni u2 ON u2.w = split_part(bg.b, ' ', 2)
            CROSS JOIN n
        )
        SELECT bigram, CAST(cb AS BIGINT) AS c_bigram,
               CAST(c_w1 AS BIGINT) AS c_w1, CAST(c_w2 AS BIGINT) AS c_w2,
               pmi_ratio,
               CAST(ROW_NUMBER() OVER (ORDER BY pmi_ratio DESC, bigram)
                    AS BIGINT) AS rank
        FROM scored
        ORDER BY pmi_ratio DESC, bigram
        LIMIT {_PMI_TOP}
    """,
    tags=("llm", "text", "analytics", "T2"),
    doc=f"PMI collocation mining: the top-{_PMI_TOP} bigrams by pointwise "
        "mutual information with a count floor of "
        f"{_PMI_MIN_COUNT} — the standard phrase/collocation detector "
        "(Church & Hanks 1990) a tokenizer or phrase-vocab builder runs "
        "before merging multiword units. The statistic is surfaced as "
        "the RAW probability ratio p(xy)/(p(x)p(y)) — ln of it is PMI "
        "and is monotone in it, so the ranking is identical and libm "
        "stays out of the contract; the ratio itself is one fixed-shape "
        "IEEE expression of exact counts. Scale: bigrams assemble "
        "map-side from token arrays (the text_bigram_perplexity "
        "discipline), two vocabulary-keyed count joins, N broadcast, "
        "head via TakeOrderedAndProject — no global window.",
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import top_k_ranked

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(F.split("text", " "), lambda t: t != "").alias("_toks")
    )
    uni = (
        toks.select(F.explode("_toks").alias("w"))
        .groupBy("w").agg(F.count("*").alias("cu"))
    )
    n = uni.agg(F.sum("cu").alias("n_tokens"))
    bg = (
        toks.select(F.explode(F.expr(_S_BIGRAMS)).alias("b"))
        .groupBy("b").agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= _PMI_MIN_COUNT)
    )
    u1 = uni.select(F.col("w").alias("_w1"), F.col("cu").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("_w2"), F.col("cu").alias("c_w2"))
    scored = (
        bg.withColumn("_w1", F.split("b", " ").getItem(0))
        .withColumn("_w2", F.split("b", " ").getItem(1))
        .join(u1, "_w1")
        .join(u2, "_w2")
        .crossJoin(n)
        .select(
            F.col("b").alias("bigram"),
            F.col("cb").cast("long").alias("c_bigram"),
            F.col("c_w1").cast("long").alias("c_w1"),
            F.col("c_w2").cast("long").alias("c_w2"),
            (
                (F.col("cb").cast("double") * F.col("n_tokens"))
                / (F.col("c_w1").cast("double") * F.col("c_w2"))
            ).alias("pmi_ratio"),
        )
    )
    return top_k_ranked(
        scored, [("pmi_ratio", "desc"), ("bigram", "asc")], _PMI_TOP, out="rank"
    ).withColumn("rank", F.col("rank").cast("long"))
