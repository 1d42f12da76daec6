"""LLM-data-pipeline catalog entries: text analysis, deduplication,
similarity search over the documents/embeddings tables (extensions beyond
the reference's surface, per BASELINE.json's north star).

Thresholds are grounded in the testdata's structure (measured at sf0.01):
planted near-dup document pairs sit at Jaccard ≥ 0.7 with background
pairs < 0.3 (τ=0.5 separates cleanly); embeddings have no near-identical
pairs (max cosine ≈ 0.51), so the pair query uses τ=0.4 and the top-k
queries carry the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..functions import vectors as V
from ..operators import ann_index as IX
from ..operators import dedup as D
from ..operators import minhash_index as MI
from ..operators import similarity as S
from ..sources.artifacts import persisted
from ..sources.tpch import read_table
from .catalog import register

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    oracle=f"""
        SELECT doc_id,
               CAST(len({T.o_tokens('text')}) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_raw
        FROM documents
    """,
    tags=("llm", "text"),
    doc="Whitespace token count + raw char length per document",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"size({T.s_tokens('text')})").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_raw"),
    )


@register(
    "text_quality_score",
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len({T.o_tokens('text')}) AS BIGINT) AS n_tokens,
                   CAST(length(replace({T.o_normalize('text')}, ' ', '')) AS BIGINT) AS n_alpha,
                   CAST({T.o_stopword_count('text')} AS BIGINT) AS n_stop
            FROM documents
        )
        SELECT doc_id, n_tokens,
               CAST(n_alpha AS DOUBLE) / n_tokens AS avg_token_len,
               CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
               least(n_tokens, 100) / 100.0 * 0.5
                 + CAST(n_stop AS DOUBLE) / n_tokens * 0.5 AS quality_score
        FROM base
    """,
    tags=("llm", "text"),
    doc="Document quality heuristic: length + stopword-density mix "
        "(C4/Gopher-style rule-based filter, SQL-expressible)",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(f"size({T.s_tokens('text')})").cast("long").alias("n_tokens"),
        F.expr(f"length(replace({T.s_normalize('text')}, ' ', ''))").cast("long").alias("n_alpha"),
        F.expr(T.s_stopword_count("text")).cast("long").alias("n_stop"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        (F.col("n_alpha").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stopword_ratio"),
        (
            F.least(F.col("n_tokens"), F.lit(100)) / 100.0 * 0.5
            + F.col("n_stop").cast("double") / F.col("n_tokens") * 0.5
        ).alias("quality_score"),
    )


@register(
    "text_language_id",
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len({T.o_tokens('text')}) AS BIGINT) AS n_tokens,
                   CAST({T.o_stopword_count('text')} AS BIGINT) AS n_stop
            FROM documents
        )
        SELECT doc_id,
               CAST(n_stop AS DOUBLE) / n_tokens AS en_ratio,
               CASE WHEN n_tokens > 0 AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.05
                    THEN 'en' ELSE 'und' END AS pred_lang
        FROM base
    """,
    tags=("llm", "text"),
    doc="N-gram/function-word language-ID heuristic (en vs undetermined)",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(f"size({T.s_tokens('text')})").cast("long").alias("n_tokens"),
        F.expr(T.s_stopword_count("text")).cast("long").alias("n_stop"),
    )
    ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return base.select(
        "doc_id",
        ratio.alias("en_ratio"),
        F.when((F.col("n_tokens") > 0) & (ratio >= 0.05), "en").otherwise("und").alias("pred_lang"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id, md5({T.o_normalize('text')}) AS fingerprint
        FROM documents
    """,
    tags=("llm", "text"),
    doc="Content fingerprint: md5 of whitespace/punct-normalized text",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.expr(f"md5({T.s_normalize('text')})").alias("fingerprint"))


@register(
    "text_word_entropy",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t AS w
            FROM documents, unnest(string_split(text, ' ')) AS u(t)
            WHERE t <> ''
        ),
        wf AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
               round(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy_nats,
               round(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS type_token_ratio
        FROM wf GROUP BY doc_id
    """,
    tags=("llm", "text"),
    doc="Per-document word-distribution Shannon entropy (nats) and "
        "type/token ratio — the unigram-diversity quality signal "
        "(low-entropy docs are repetitive boilerplate; a standard "
        "corpus-curation filter alongside text_quality_score). "
        "H = ln(N) - sum(c*ln c)/N over the per-doc word-frequency "
        "table: one explode to (doc, word) grain with map-side partial "
        "counts (the shingle-explode scale shape — linear in corpus "
        "size, no all-pairs), then a doc-keyed agg; 6-decimal rounding "
        "absorbs cross-engine ln() reduction-order noise.",
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    total = F.sum("c")
    return wf.groupBy("doc_id").agg(
        total.alias("total_tokens"),
        F.count("*").alias("distinct_tokens"),
        F.round(
            F.log(total) - F.sum(F.col("c") * F.log("c")) / total, 6
        ).alias("entropy_nats"),
        F.round(F.count("*") / total.cast("double"), 6).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped persisted 2-word shingle set over the documents
    table, keyed (application, sf_dir) — the Jaccard, MinHash-LSH, and
    corpus-curation entries all start from the same (doc, g) frame, and
    the tokenize+explode+distinct is the expensive part of every one of
    them. At 100 TB this persist becomes a parquet checkpoint feeding
    every dedup consumer."""
    return persisted(
        spark, ("doc_shingles", sf_dir),
        lambda: D.shingle_set(
            read_table(spark, sf_dir, "documents"), "doc_id", "text", k=2
        ).persist(),
    )


@register(
    "dedup_exact_documents",
    oracle=f"""
        SELECT md5({T.o_normalize('text')}) AS fingerprint,
               COUNT(*) AS n_docs,
               MIN(doc_id) AS keep_doc_id
        FROM documents
        GROUP BY 1
    """,
    tags=("llm", "dedup"),
    doc="Exact dedup groups on the normalized-content fingerprint "
        "(hash-groupBy; keep lowest doc_id)",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "dedup_latest_order_per_customer",
    oracle="""
        SELECT o_custkey AS customer_key,
               CAST(o_orderkey AS VARCHAR) AS invoiceid,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               CAST(o_totalprice AS DOUBLE) AS totalprice
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
    tags=("llm", "dedup", "W1"),
    doc="Latest-wins dedup (the reference's W1 window dedup, ETL.sql:95-107) "
        "applied to orders: latest order per customer",
)
def dedup_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return D.latest_wins(orders, "o_custkey", "o_orderdate", "o_orderkey").select(
        F.col("o_custkey").alias("customer_key"),
        F.col("o_orderkey").cast("string").alias("invoiceid"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_totalprice").cast("double").alias("totalprice"),
    )


#: the incremental-batch coin (now shared with the persisted MinHash
#: corpus index — operators/minhash_index.py defines the split)
_S_BATCH_COIN = MI.S_BATCH_COIN
_O_BATCH_COIN = MI.O_BATCH_COIN


@register(
    "dedup_incremental_new_batch",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, md5({T.o_normalize('text')}) AS fingerprint
            FROM documents WHERE {_O_BATCH_COIN} < 10
        ),
        c AS (
            SELECT DISTINCT md5({T.o_normalize('text')}) AS fingerprint
            FROM documents WHERE {_O_BATCH_COIN} >= 10
        ),
        r AS (
            SELECT b.doc_id, b.fingerprint,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.fingerprint ORDER BY b.doc_id) AS rn,
                   c.fingerprint IS NOT NULL AS in_corpus
            FROM b LEFT JOIN c USING (fingerprint)
        )
        SELECT doc_id, fingerprint,
               CASE WHEN in_corpus THEN 'dup_of_corpus'
                    WHEN rn > 1 THEN 'dup_within_batch'
                    ELSE 'new' END AS status
        FROM r
    """,
    tags=("llm", "dedup", "incremental"),
    doc="Incremental dedup of an arriving batch against the standing "
        "corpus — the shape every continuously-ingesting training "
        "pipeline runs (new crawl vs. what's already in the lake). A "
        "deterministic 10% hash-split stands in for the batch; each "
        "batch doc is classified new / dup_within_batch (latest-wins "
        "inside the batch) / dup_of_corpus (fingerprint already in the "
        "corpus). One left join on 16-byte fingerprints + one window "
        "over the batch only; at 100 TB the corpus side is a "
        "fingerprint-bucketed table so the probe is exchange-free.",
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    fp = F.expr(f"md5({T.s_normalize('text')})").alias("fingerprint")
    coin = F.expr(_S_BATCH_COIN)
    batch = docs.filter(coin < 10).select("doc_id", fp)
    corpus_fps = docs.filter(coin >= 10).select(fp).distinct()
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        batch.withColumn("rn", F.row_number().over(w))
        .join(corpus_fps.withColumn("in_corpus", F.lit(True)), "fingerprint", "left")
        .select(
            "doc_id",
            "fingerprint",
            F.when(F.col("in_corpus"), F.lit("dup_of_corpus"))
            .when(F.col("rn") > 1, F.lit("dup_within_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


@register(
    "dedup_incremental_minhash",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, text, ({_O_BATCH_COIN}) AS coin FROM documents
        ),
        shb AS (
            SELECT DISTINCT doc_id AS doc, unnest({T.o_shingles('text', 2)}) AS g
            FROM d WHERE coin < {MI.BATCH_PCT}
        ),
        shc AS (
            SELECT DISTINCT doc_id AS doc, unnest({T.o_shingles('text', 2)}) AS g
            FROM d WHERE coin >= {MI.BATCH_PCT}
        ),
        szb AS (SELECT doc, COUNT(*) AS sz FROM shb GROUP BY doc),
        szc AS (SELECT doc, COUNT(*) AS sz FROM shc GROUP BY doc),
        inter AS (
            SELECT b.doc AS doc_a, c.doc AS doc_b, COUNT(*) AS inter
            FROM shb b JOIN shc c ON b.g = c.g
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / (szb.sz + szc.sz - inter) AS jaccard
        FROM inter
        JOIN szb ON szb.doc = inter.doc_a
        JOIN szc ON szc.doc = inter.doc_b
        WHERE CAST(inter AS DOUBLE) / (szb.sz + szc.sz - inter) >= 0.5
    """,
    tags=("llm", "dedup", "lsh", "incremental", "serve"),
    doc="Incremental MINHASH dedup (r7 — the near-dup twin of "
        "dedup_incremental_new_batch): the arriving batch's band "
        "signatures LSH-probe the corpus's PERSISTED band table "
        "(operators/minhash_index.py — built once per corpus, like a "
        "real ingest pipeline stamps signatures at write time), so "
        "candidates are batch×corpus ONLY — the standing corpus never "
        "re-pays its own quadratic, is never re-shingled for the probe "
        "(pure columnar scan of (doc, band_idx, bh), bucketed on the "
        "band key at 100 TB for an exchange-free probe), and only "
        "candidate-matched corpus docs are touched by the exact-Jaccard "
        "verify. Oracle re-derives the batch×corpus near-dup pairs "
        "from scratch — exact given LSH recall (>1-1e-4 at τ=0.5 for "
        "16×2 banding). operators/dedup.py::incremental_minhash_near_dups.",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    batch = docs.filter(F.expr(_S_BATCH_COIN) < MI.BATCH_PCT)
    return D.incremental_minhash_near_dups(
        batch, MI.corpus_docs(spark, sf_dir), "doc_id", "text",
        k=2, n_hashes=32, bands=16, threshold=0.5,
        corpus_bands=MI.read_artifact(spark, sf_dir, "bands"),
        corpus_sigs=MI.read_artifact(spark, sf_dir, "sigs"),
        shingles=_doc_shingles(spark, sf_dir),
    )


def _o_minhash_sig_ctes(where_sql: str | None = None) -> str:
    """DuckDB twin of operators/dedup.py::minhash_signatures_from_shingles
    + band_rows over the CORPUS split (or any ``where_sql`` slice of
    documents — the fold manifest passes TRUE for the union corpus):
    the same md5-derived 28-bit
    shingle hash, the same 32 LCG-derived affine permutations (inlined
    as literals), min per permutation, and the same md5-of-'m0,m1' band
    hashes. Ends in CTEs ``msig`` (doc, m0..m31) and ``mbands``
    (doc, band_idx, bh)."""
    coeffs = D.minhash_coefficients(32)
    p = D.MINHASH_PRIME
    if where_sql is None:
        where_sql = f"({_O_BATCH_COIN}) >= {MI.BATCH_PCT}"
    mins = ",\n".join(
        f"MIN(({a} * h + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc, {b} AS band_idx, "
        f"md5(CAST(m{2 * b} AS VARCHAR) || ',' || CAST(m{2 * b + 1} AS VARCHAR)) AS bh "
        "FROM msig"
        for b in range(16)
    )
    return f"""
        WITH d AS (
            SELECT doc_id, text FROM documents
            WHERE {where_sql}
        ),
        msh AS (
            SELECT DISTINCT doc_id AS doc, unnest({T.o_shingles('text', 2)}) AS g
            FROM d
        ),
        mh AS (SELECT doc, {T.o_md5_long('g', 7)} AS h FROM msh),
        msig AS (SELECT doc, {mins} FROM mh GROUP BY doc),
        mbands AS ({band_selects})
    """


@register(
    "minhash_index_manifest",
    oracle=_o_minhash_sig_ctes() + f"""
        SELECT * FROM (
            SELECT 'bands' AS artifact,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc * 17 + band_idx) AS BIGINT) AS key_sum,
                   CAST(SUM({T.o_md5_long('bh', 7)}) AS BIGINT) AS payload_sum
            FROM mbands
            UNION ALL
            SELECT 'sigs' AS artifact,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc) AS BIGINT) AS key_sum,
                   CAST(SUM({' + '.join(f'm{i}' for i in range(32))}) AS BIGINT)
                       AS payload_sum
            FROM msig
        ) ORDER BY artifact
    """,
    tags=("llm", "dedup", "lsh", "lifecycle"),
    doc="MinHash index TRAIN step + integrity manifest (r7 — the "
        "dedup twin of ann_index_build_manifest): reads the PERSISTED "
        "corpus band + signature artifacts (operators/minhash_index.py) "
        "and emits per-artifact row counts and exact integer checksums "
        "(key mixes + md5-derived band-hash sums — order-independent "
        "BIGINT arithmetic), while the oracle re-derives both artifacts "
        "FROM SCRATCH: the same 28-bit md5 shingle hash, the same 32 "
        "LCG affine permutations inlined as literals, min per "
        "permutation, the same md5('m0,m1') banding. A hash match "
        "proves the persisted index equals retraining, so every probe "
        "served from it inherits the from-scratch semantics.",
)
def minhash_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = MI.read_artifact(spark, sf_dir, "bands")
    sigs = MI.read_artifact(spark, sf_dir, "sigs")
    b_row = (
        bands.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("doc") * 17 + F.col("band_idx")).cast("long").alias("key_sum"),
            F.sum(F.expr(T.s_md5_long("bh", 7))).cast("long").alias("payload_sum"),
        )
        .select(F.lit("bands").alias("artifact"), "n_rows", "key_sum", "payload_sum")
    )
    s_row = (
        sigs.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc").cast("long").alias("key_sum"),
            F.sum(F.expr("aggregate(sig, 0L, (a, x) -> a + x)"))
            .cast("long")
            .alias("payload_sum"),
        )
        .select(F.lit("sigs").alias("artifact"), "n_rows", "key_sum", "payload_sum")
    )
    return b_row.unionAll(s_row).orderBy("artifact")


#: shared CTE text: exact 2-shingle Jaccard pairs at τ=0.5 as `jpairs`
#: (reused by the pair entries and as the edge set of the clustering
#: oracle's transitive closure)
_O_JACCARD_CTES = f"""
    sh AS (
        SELECT DISTINCT doc_id AS doc, unnest({T.o_shingles('text', 2)}) AS g
        FROM documents
    ),
    sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
    inter AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc < b.doc
        GROUP BY 1, 2
    ),
    jpairs AS (
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    )
"""

_O_JACCARD = f"WITH {_O_JACCARD_CTES} SELECT doc_a, doc_b, jaccard FROM jpairs"


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=_O_JACCARD,
    tags=("llm", "dedup"),
    doc="Exact 2-word-shingle Jaccard near-dup pairs (τ=0.5) via the "
        "prefix-filtered inverted shingle index (AllPairs bound: only "
        "each doc's ⌈(1−τ)·sz⌉+1 globally-rarest shingles self-join, "
        "lossless at the threshold — hot shingles never explode)",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_pairs(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", k=2, threshold=0.5,
        shingles=_doc_shingles(spark, sf_dir),
    )


@register(
    "dedup_minhash_lsh",
    oracle=_O_JACCARD,
    tags=("llm", "dedup", "lsh"),
    doc="MinHash(32)+LSH(16 bands × 2 rows) near-dup pairs with exact-Jaccard "
        "verification at τ=0.5 — the 100 TB-scale dedup path. Oracle = the "
        "exact-Jaccard answer: verification makes output exact given LSH "
        "recall, which is >1-1e-4 at τ=0.5 for this banding (and asserted "
        "independently in tests/test_dedup.py).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_near_dups(
        read_table(spark, sf_dir, "documents"), "doc_id", "text",
        k=2, n_hashes=32, bands=16, threshold=0.5,
        shingles=_doc_shingles(spark, sf_dir),
    )


def _o_simhash_cte() -> str:
    """64-bit two-word SimHash twin: words from md5 hex chars 1-8 / 9-16."""
    vl = ",\n".join(
        f"SUM(CASE WHEN (h_lo >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS vl{b}" for b in range(32)
    )
    vh = ",\n".join(
        f"SUM(CASE WHEN (h_hi >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS vh{b}" for b in range(32)
    )
    lo = " + ".join(f"(CASE WHEN vl{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32))
    hi = " + ".join(f"(CASE WHEN vh{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32))
    return f"""
        WITH toks AS (
            SELECT doc_id AS doc, unnest({T.o_tokens('text')}) AS w FROM documents
        ),
        h AS (SELECT doc, {T.o_md5_long_at('w', 1, 8)} AS h_lo,
                     {T.o_md5_long_at('w', 9, 8)} AS h_hi FROM toks),
        votes AS (SELECT doc, {vl}, {vh} FROM h GROUP BY doc),
        sim AS (SELECT doc, CAST({hi} AS BIGINT) AS simhash_hi,
                       CAST({lo} AS BIGINT) AS simhash_lo FROM votes)
    """


@register(
    "dedup_simhash_signatures",
    oracle=_o_simhash_cte() + "SELECT doc, simhash_hi, simhash_lo FROM sim",
    tags=("llm", "dedup"),
    doc="64-bit token-frequency SimHash signature per document, as two "
        "32-bit words from independent md5 slices (operators/dedup.py)",
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(read_table(spark, sf_dir, "documents"), "doc_id", "text", bits=64)


@register(
    "dedup_simhash_near_pairs",
    oracle=_o_simhash_cte() + """
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               CAST(bit_count(xor(a.simhash_hi, b.simhash_hi))
                    + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS INT) AS hamming
        FROM sim a JOIN sim b ON a.doc < b.doc
        WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
              + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= 6
    """,
    tags=("llm", "dedup"),
    doc="SimHash near-dup pairs: hamming ≤ 6 of 64 bits via word-aligned "
        "8-11-bit pigeonhole blocks (lossless, never all-pairs); the "
        "oracle is the brute-force all-pairs answer",
)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = D.simhash(read_table(spark, sf_dir, "documents"), "doc_id", "text", bits=64)
    return D.simhash_near_pairs(sim, max_hamming=6, bits=64).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


@register(
    "dedup_cluster_components",
    oracle=f"""
        WITH RECURSIVE {_O_JACCARD_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM jpairs
        ),
        reach(node, m) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m
        )
        SELECT node AS doc_id, MIN(m) AS cluster_id
        FROM reach GROUP BY node
    """,
    tags=("llm", "dedup", "cluster"),
    doc="Transitive near-dup clustering: LSH pairs closed into connected "
        "components (min-label propagation, operators/dedup.py::"
        "connected_components); cluster_id = min doc_id reachable, "
        "singletons map to themselves. The oracle computes the same "
        "closure via a recursive CTE over the exact-Jaccard edge set — "
        "pairs alone don't dedupe (a~b, b~c must share one keep decision).",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_near_dups(
        docs, "doc_id", "text", k=2, n_hashes=32, bands=16, threshold=0.5,
        shingles=_doc_shingles(spark, sf_dir),
    )
    comp = D.connected_components(
        pairs.select("doc_a", "doc_b"), docs.select(F.col("doc_id").alias("node"))
    )
    return comp.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))


@register(
    "dedup_canonical_keep",
    oracle=f"""
        WITH RECURSIVE {_O_JACCARD_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM jpairs
        ),
        reach(node, m) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m
        ),
        comp AS (SELECT node AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY node)
        SELECT c.doc_id, c.cluster_id,
               CAST(row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id) = 1 AS INT) AS keep
        FROM comp c JOIN documents d USING (doc_id)
    """,
    tags=("llm", "dedup", "cluster"),
    doc="Dedup last-mile: canonical-document selection per near-dup "
        "cluster — keep the longest doc (ties → lowest id), flag the "
        "rest for purge. Composes the LSH pair mining and connected-"
        "components closure with a CLUSTER-partitioned window (cluster "
        "sizes are bounded by the dedup radius, so the window never "
        "degenerates); the purge filter is then `keep = 0`.",
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # exact-Jaccard pairs (prefix-filtered inverted index), not the LSH
    # miner: the per-cluster argmax amplifies a single missed edge into
    # wrong keep flags for the whole cluster, so this entry keeps the
    # pair source exact and bit-identical to the oracle's edge set (the
    # LSH recall trade-off is exercised by dedup_cluster_components
    # instead). Prefix filtering keeps exactness while bounding the
    # self-join to each doc's rare-shingle prefix (r5 — the r4 verdict's
    # hot-posting-list hazard is gone).
    pairs = D.jaccard_pairs(
        docs, "doc_id", "text", k=2, threshold=0.5,
        shingles=_doc_shingles(spark, sf_dir),
    )
    comp = D.connected_components(
        pairs.select("doc_a", "doc_b"), docs.select(F.col("doc_id").alias("node"))
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
    sized = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return sized.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_O_EMB = "SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings"


@register(
    "ann_cosine_topk",
    oracle=f"""
        WITH e AS ({_O_EMB}),
        q AS (SELECT * FROM e WHERE vec_id < 10),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(q.v, e.v) AS score
            FROM e, q WHERE e.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, rank, score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
    doc="Brute-force exact cosine top-5 for query vectors vec_id<10 "
        "(broadcast queries × corpus scan; the exactness baseline for ANN)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter("vec_id < 10"), k=5)


@register(
    "ann_cosine_topk_arrow",
    oracle=f"""
        WITH e AS ({_O_EMB}),
        q AS (SELECT * FROM e WHERE vec_id < 10),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(q.v, e.v) AS score
            FROM e, q WHERE e.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    tags=("llm", "similarity", "arrow", "pandas-udf"),
    doc="Arrow/numpy GEMM twin of ann_cosine_topk: per-Arrow-batch BLAS "
        "matmul against the broadcast query matrix with a per-partition "
        "top-k combiner (operators/similarity.py::brute_force_topk_arrow) "
        "— the batch-amortized scale path for LARGE query sets. Output "
        "hashes ids/ranks (deterministic across engines); raw scores are "
        "float-summation-order-dependent and are equivalence-tested "
        "against the JVM fold in tests/test_text_mining.py instead.",
)
def ann_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    topk = S.brute_force_topk_arrow(emb, emb.filter("vec_id < 10"), k=5)
    return topk.select("query_id", "neighbor_id", "rank")


@register(
    "ann_ivf_topk",
    oracle=f"""
        WITH e AS ({_O_EMB}),
        c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        assigned AS (
            SELECT vid, v, centroid_id FROM (
                SELECT e.vec_id AS vid, e.v, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
                FROM e, c
            ) WHERE rn = 1
        ),
        q AS (SELECT vid AS query_id, v AS qv, centroid_id FROM assigned WHERE vid < 10),
        scored AS (
            SELECT q.query_id, a.vid AS neighbor_id,
                   list_cosine_similarity(q.qv, a.v) AS score
            FROM assigned a JOIN q USING (centroid_id)
            WHERE a.vid <> q.query_id
        )
        SELECT query_id, neighbor_id, rank, score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    tags=("llm", "similarity", "ivf"),
    doc="IVF (coarse-quantized) approximate top-3: centroids = vec_id%50==0, "
        "nprobe=1 — the √N-scan scale path for ANN",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter(IX.COARSE_RULE), "vec_id < 10", k=3,
                      assigned=IX.read_artifact(spark, sf_dir, "assign"))


def _o_srp_sig_cte(nbits: int = 32, dim: int = 64, lead: str = "WITH") -> str:
    """DuckDB twin of operators/similarity.py::srp_signatures — same
    hash-derived ±1 planes, same sequential dot-product fold.
    ``lead=","`` lets callers splice these CTEs into an existing WITH."""
    planes = V.srp_planes(nbits, dim)
    sig = " + ".join(
        f"(CASE WHEN list_dot_product(v, {V.o_plane_array(p)}) >= 0 THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    return f"""
        {lead} e AS ({_O_EMB}),
        sig AS (SELECT vec_id AS doc, v, CAST({sig} AS BIGINT) AS srp_sig FROM e)
    """


@register(
    "ann_srp_signatures",
    oracle=_o_srp_sig_cte() + "SELECT doc AS vec_id, srp_sig FROM sig",
    tags=("llm", "similarity", "lsh"),
    doc="32-bit signed-random-projection LSH signature per embedding "
        "(deterministic Rademacher hyperplanes; bit b = [v·plane_b >= 0])",
)
def ann_srp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.srp_signatures(read_table(spark, sf_dir, "embeddings")).select(
        F.col("doc").alias("vec_id"), "srp_sig"
    )


@register(
    "ann_srp_near_pairs",
    oracle=_o_srp_sig_cte() + """
        SELECT a.doc AS id_a, b.doc AS id_b,
               CAST(bit_count(xor(a.srp_sig, b.srp_sig)) AS INT) AS hamming,
               list_cosine_similarity(a.v, b.v) AS score
        FROM sig a JOIN sig b ON a.doc < b.doc
        WHERE bit_count(xor(a.srp_sig, b.srp_sig)) <= 8
          AND list_cosine_similarity(a.v, b.v) >= 0.4
    """,
    tags=("llm", "similarity", "lsh"),
    doc="SRP-LSH near-pair search: pigeonhole-blocked hamming<=8 screen "
        "(9 blocks of 3-4 bits — lossless for the radius, never "
        "all-pairs) + exact-cosine verify at τ=0.4; the label-free "
        "scale path for embedding near-dup (operators/similarity.py::"
        "srp_near_pairs). Oracle = brute-force over the same "
        "deterministic signatures.",
)
def ann_srp_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.srp_near_pairs(
        read_table(spark, sf_dir, "embeddings"), nbits=32, dim=64,
        max_hamming=8, threshold=0.4,
    )


@register(
    "embedding_similar_pairs",
    oracle=f"""
        WITH e AS ({_O_EMB})
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_cosine_similarity(a.v, b.v) AS score
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """,
    tags=("llm", "similarity"),
    doc="Embedding-cosine similar pairs within label blocks (τ=0.4; blocking "
        "bounds the quadratic join)",
)
def embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.similar_pairs(read_table(spark, sf_dir, "embeddings"), threshold=0.4)


def _kmeans_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """DuckDB twin of operators/similarity.py::kmeans_fit — the same
    deterministic seeding, cosine argmax assignment, and per-iteration
    6-decimal-rounded element-wise mean, unrolled into chained CTEs.
    The rounding at every iteration boundary is what makes an ITERATIVE
    float algorithm cross-engine checkable: raw means differ at ~1e-13
    (reduction order), but both engines agree after round(·, 6), so the
    iterations never diverge."""
    sql = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        m0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT {k})
    """
    prev = "m0"
    for i in range(1, iters + 1):
        sql += f""",
        a{i} AS (
            SELECT vid, centroid_id FROM (
                SELECT e.vec_id AS vid, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM e, {prev} c
            ) WHERE rn = 1
        ),
        m{i} AS (
            -- empty-cluster carry-forward: a centroid with no members
            -- keeps its previous vector (mirrors kmeans_fit exactly)
            SELECT p.centroid_id, COALESCE(nm.cv, p.cv) AS cv
            FROM {prev} p
            LEFT JOIN (
                SELECT centroid_id, list(m ORDER BY pos) AS cv FROM (
                    SELECT a.centroid_id, i.i AS pos,
                           round(avg(e.v[i.i]), 6) AS m
                    FROM a{i} a JOIN e ON e.vec_id = a.vid
                    JOIN range(1, {dim + 1}) i(i) ON true
                    GROUP BY a.centroid_id, i.i
                ) GROUP BY centroid_id
            ) nm ON nm.centroid_id = p.centroid_id
        )"""
        prev = f"m{i}"
    return sql + f""",
        afinal AS (
            SELECT vid, centroid_id FROM (
                SELECT e.vec_id AS vid, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM e, {prev} c
            ) WHERE rn = 1
        )
        SELECT c.centroid_id,
               CAST(COALESCE(s.n_members, 0) AS BIGINT) AS n_members,
               round(sqrt(list_dot_product(c.cv, c.cv)), 6) AS centroid_norm
        FROM {prev} c
        LEFT JOIN (SELECT centroid_id, COUNT(*) AS n_members
                   FROM afinal GROUP BY centroid_id) s USING (centroid_id)
    """


@register(
    "kmeans_train_clusters",
    oracle=_kmeans_oracle(),
    tags=("llm", "similarity", "iterative", "kmeans"),
    doc="Lloyd's k-means fit (k=8, 3 iterations, cosine assignment, "
        "deterministic min-id seeding) over the embeddings — the "
        "trained-centroid path for IVF/SemDeDup. Iterative driver loop "
        "with localCheckpoint per round (the CC-dedup pattern); the "
        "update shuffles THIN (centroid, dim, value) rows with map-side "
        "partial means, never grouped vectors. Per-iteration 6-decimal "
        "mean rounding re-synchronizes float reduction order so even an "
        "iterative algorithm stays oracle-checkable "
        "(operators/similarity.py::kmeans_fit).",
)
def kmeans_train_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    fit = S.kmeans_fit(emb, k=8, iters=3)
    return fit.select(
        "centroid_id",
        "n_members",
        F.round(F.expr(V.s_norm("cv")), 6).alias("centroid_norm"),
    )


_SEM_CAP = 48  # binding at BOTH test scales (cluster sizes run 35-59)
_SEM_TH = 0.4


def _o_semdedup_ctes(
    cap: int = _SEM_CAP, th: float = _SEM_TH,
    nbits: int = 32, dim: int = 64, max_hamming: int = 8,
) -> str:
    """DuckDB twin of the CAPPED operators/similarity.py::semdedup_keep
    pipeline (assign → size split → exact small-cluster pairs → SRP
    representative screen → hamming-screened survivor pairs), as CTEs
    ending in ``dropped_capped`` + ``dropped_exact`` (the uncapped rule,
    for the agreement audit). Same hash-derived planes as the engine, so
    signatures — and therefore both stage screens — are bit-identical."""
    planes = V.srp_planes(nbits, dim)
    sig = " + ".join(
        f"(CASE WHEN list_dot_product(v, {V.o_plane_array(p)}) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    return f"""
        WITH e AS ({_O_EMB}),
        c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        assigned AS (
            SELECT vid, v, centroid_id FROM (
                SELECT e.vec_id AS vid, e.v, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
                FROM e, c
            ) WHERE rn = 1
        ),
        sizes AS (SELECT centroid_id, COUNT(*) AS csize FROM assigned GROUP BY 1),
        small AS (
            SELECT a.vid, a.v, a.centroid_id FROM assigned a
            JOIN sizes s USING (centroid_id) WHERE s.csize <= {cap}
        ),
        big AS (
            SELECT a.vid, a.v, a.centroid_id FROM assigned a
            JOIN sizes s USING (centroid_id) WHERE s.csize > {cap}
        ),
        small_drop AS (
            SELECT DISTINCT b.vid
            FROM small a JOIN small b USING (centroid_id)
            WHERE a.vid < b.vid AND list_cosine_similarity(a.v, b.v) >= {th}
        ),
        bsig AS (
            SELECT vid, v, centroid_id, CAST({sig} AS BIGINT) AS srp_sig FROM big
        ),
        reps AS (
            SELECT centroid_id, srp_sig, MIN(vid) AS rep_id
            FROM bsig GROUP BY 1, 2
        ),
        drop_a AS (
            SELECT DISTINCT m.vid
            FROM bsig m
            JOIN reps r ON m.centroid_id = r.centroid_id AND m.srp_sig = r.srp_sig
            JOIN bsig rv ON rv.vid = r.rep_id
            WHERE m.vid <> r.rep_id
              AND list_cosine_similarity(rv.v, m.v) >= {th}
        ),
        surv AS (
            SELECT * FROM bsig WHERE vid NOT IN (SELECT vid FROM drop_a)
        ),
        drop_b AS (
            SELECT DISTINCT b.vid
            FROM surv a JOIN surv b USING (centroid_id)
            WHERE a.vid < b.vid
              AND bit_count(xor(a.srp_sig, b.srp_sig)) <= {max_hamming}
              AND list_cosine_similarity(a.v, b.v) >= {th}
        ),
        dropped_capped AS (
            SELECT vid FROM small_drop
            UNION SELECT vid FROM drop_a
            UNION SELECT vid FROM drop_b
        ),
        dropped_exact AS (
            SELECT DISTINCT b.vid
            FROM assigned a JOIN assigned b USING (centroid_id)
            WHERE a.vid < b.vid AND list_cosine_similarity(a.v, b.v) >= {th}
        )
    """


@register(
    "semdedup_cluster_keep",
    oracle=_o_semdedup_ctes() + """
        SELECT a.vid AS vec_id, a.centroid_id, d.vid IS NULL AS keep
        FROM assigned a LEFT JOIN dropped_capped d ON a.vid = d.vid
    """,
    tags=("llm", "similarity", "dedup"),
    doc="SemDeDup-style semantic dedup (arXiv:2303.09540): coarse "
        "cosine clustering (centroids = vec_id%50==0), then drop "
        "within-cluster semantic near-dups (cos >= 0.4, min-id "
        "survivor). Cluster-size-CAPPED 100 TB path (cap=48, binding "
        "at both test scales): oversized clusters route through an SRP "
        "exact-signature representative screen (linear kill of "
        "near-identical mass) plus a pigeonhole hamming screen for the "
        "survivors — no uncapped within-cluster quadratic anywhere "
        "(operators/similarity.py::semdedup_keep / "
        "semdedup_capped_frames; hot-cluster property test bounds the "
        "candidate volume).",
)
def semdedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.semdedup_keep(
        emb, emb.filter("vec_id % 50 = 0"), threshold=_SEM_TH,
        max_cluster_size=_SEM_CAP,
    )


@register(
    "semdedup_cap_agreement",
    oracle=_o_semdedup_ctes() + """
        SELECT cd.vid IS NULL AS keep_capped,
               ed.vid IS NULL AS keep_exact,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM assigned a
        LEFT JOIN dropped_capped cd ON a.vid = cd.vid
        LEFT JOIN dropped_exact ed ON a.vid = ed.vid
        GROUP BY 1, 2
    """,
    tags=("llm", "similarity", "dedup", "eval"),
    doc="Recall audit for the capped SemDeDup path: keep decisions of "
        "the capped pipeline vs the paper-exact within-cluster rule, "
        "bucketed by (keep_capped, keep_exact) — quantifies exactly "
        "what the SRP screens trade away (capped-kept/exact-dropped = "
        "recall loss; the reverse bucket must be empty because every "
        "capped drop is cosine-verified). The exact side is the "
        "EVAL-ONLY baseline (the kNN-eval pattern): quadratic within "
        "clusters, run at audit scale, never the production path.",
)
def semdedup_cap_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    cents = emb.filter("vec_id % 50 = 0")
    capped = S.semdedup_keep(
        emb, cents, threshold=_SEM_TH, max_cluster_size=_SEM_CAP
    ).select("vec_id", F.col("keep").alias("keep_capped"))
    exact = S.semdedup_keep(emb, cents, threshold=_SEM_TH).select(
        "vec_id", F.col("keep").alias("keep_exact")
    )
    return (
        capped.join(exact, "vec_id")
        .groupBy("keep_capped", "keep_exact")
        .agg(F.count("*").cast("long").alias("n"))
    )


@register(
    "dedup_method_agreement",
    oracle=f"""
        WITH {_O_JACCARD_CTES}
        {_o_srp_sig_cte(lead=",")},
        epairs AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b
            FROM sig a JOIN sig b ON a.doc < b.doc
            WHERE bit_count(xor(a.srp_sig, b.srp_sig)) <= 8
              AND list_cosine_similarity(a.v, b.v) >= 0.4
        ),
        u AS (
            SELECT t.doc_a IS NOT NULL AS in_text,
                   e2.doc_a IS NOT NULL AS in_emb
            FROM jpairs t
            FULL OUTER JOIN epairs e2
              ON t.doc_a = e2.doc_a AND t.doc_b = e2.doc_b
        )
        SELECT CASE WHEN in_text AND in_emb THEN 'both'
                    WHEN in_text THEN 'text_only'
                    ELSE 'embedding_only' END AS method,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM u GROUP BY 1
    """,
    tags=("llm", "dedup", "eval"),
    doc="Dedup-method agreement audit: near-dup pairs found by exact "
        "2-shingle Jaccard (τ=0.5) vs SRP-LSH embedding near-pairs "
        "(cos≥0.4, hamming≤8), bucketed both / text_only / "
        "embedding_only — the cross-method QA a pipeline runs before "
        "trusting either dedup signal alone. Both pair frames are the "
        "already-bounded candidate outputs (inverted index / pigeonhole "
        "blocks), so the full-outer join is pair-grain, never "
        "corpus-grain.",
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    text_p = D.jaccard_pairs(
        read_table(spark, sf_dir, "documents"), "doc_id", "text",
        k=2, threshold=0.5, shingles=_doc_shingles(spark, sf_dir),
    ).select("doc_a", "doc_b", F.lit(True).alias("in_text"))
    emb_p = S.srp_near_pairs(
        read_table(spark, sf_dir, "embeddings"), nbits=32, dim=64,
        max_hamming=8, threshold=0.4,
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(True).alias("in_emb"),
    )
    return (
        text_p.join(emb_p, ["doc_a", "doc_b"], "full_outer")
        .select(
            F.when(F.col("in_text").isNotNull() & F.col("in_emb").isNotNull(), "both")
            .when(F.col("in_text").isNotNull(), "text_only")
            .otherwise("embedding_only")
            .alias("method")
        )
        .groupBy("method")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


@register(
    "ann_knn_label_consistency",
    oracle=f"""
        WITH e AS ({_O_EMB}),
        q AS (SELECT * FROM e WHERE vec_id < 20),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.label,
                   list_cosine_similarity(q.v, e.v) AS score
            FROM e, q WHERE e.vec_id <> q.vec_id
        ),
        topk AS (
            SELECT query_id, neighbor_id, label FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
                FROM scored
            ) WHERE rank <= 5
        ),
        votes AS (
            SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
            FROM topk GROUP BY 1, 2
        ),
        top_vote AS (
            SELECT query_id, label AS knn_label, n_votes FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY n_votes DESC, label) AS rn
                FROM votes
            ) WHERE rn = 1
        )
        SELECT t.query_id, q.label AS true_label, t.knn_label, t.n_votes,
               CAST(t.knn_label = q.label AS INT) AS label_match
        FROM top_vote t JOIN q ON t.query_id = q.vec_id
    """,
    tags=("llm", "similarity", "eval"),
    doc="kNN label-consistency evaluation: majority label of each query's "
        "exact cosine top-5 vs its own label — the embedding-space purity "
        "diagnostic a training-data pipeline runs before trusting "
        "embedding-based dedup/filtering. The vote aggregation and "
        "majority window run over the q×k pair frame (tiny at any corpus "
        "size); neighbor labels come from a broadcast of that frame "
        "against the corpus, so the full embedding table is never "
        "shuffled.",
)
def ann_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 20")
    topk = S.brute_force_topk(emb, queries, k=5)
    labeled = emb.select(F.col("vec_id").alias("neighbor_id"), "label").join(
        F.broadcast(topk.select("query_id", "neighbor_id")), "neighbor_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count("*").cast("long").alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    top_vote = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("query_id", F.col("label").alias("knn_label"), "n_votes")
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return top_vote.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "true_label",
        "knn_label",
        "n_votes",
        (F.col("knn_label") == F.col("true_label")).cast("int").alias("label_match"),
    )


#: BPE-ish pre-tokenizer: letter runs, single digits, single
#: punctuation — the GPT-2-style split shape, written in the
#: Java/RE2-common regex subset so both engines agree
_BPE_ISH = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


@register(
    "text_bpe_token_count",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_BPE_ISH}')) AS BIGINT) AS n_bpe_tokens,
               CAST(len({T.o_tokens('text')}) AS BIGINT) AS n_ws_tokens
        FROM documents
    """,
    tags=("llm", "text", "tokenize"),
    doc="BPE-ish regex token count (letter runs / single digits / "
        "punctuation, the GPT-2 pre-tokenizer shape) next to the "
        "whitespace count — per-token-budget accounting for training-data "
        "pipelines, pure JVM regex",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{_BPE_ISH}', 0))")
        .cast("long")
        .alias("n_bpe_tokens"),
        F.expr(f"size({T.s_tokens('text')})").cast("long").alias("n_ws_tokens"),
    )


@register(
    "llm_corpus_curation",
    oracle=f"""
        WITH quality AS (
            SELECT doc_id, text,
                   least(CAST(len({T.o_tokens('text')}) AS BIGINT), 100) / 100.0 * 0.5
                     + CAST({T.o_stopword_count('text')} AS DOUBLE)
                       / len({T.o_tokens('text')}) * 0.5 AS q
            FROM documents
        ),
        passed AS (SELECT doc_id, text FROM quality WHERE q >= 0.5),
        exact_keep AS (
            SELECT MIN(doc_id) AS doc_id
            FROM passed
            GROUP BY md5({T.o_normalize('text')})
        ),
        sh AS (
            SELECT DISTINCT doc_id AS doc, unnest({T.o_shingles('text', 2)}) AS g
            FROM passed WHERE doc_id IN (SELECT doc_id FROM exact_keep)
        ),
        sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
        near_drop AS (
            SELECT DISTINCT b.doc AS doc_id
            FROM (SELECT a.doc AS da, b.doc AS db, COUNT(*) AS inter
                  FROM sh a JOIN sh b ON a.g = b.g AND a.doc < b.doc
                  GROUP BY 1, 2) p
            JOIN sizes sa ON sa.doc = p.da
            JOIN sizes sb ON sb.doc = p.db
            JOIN (SELECT doc FROM sh GROUP BY doc) b ON b.doc = p.db
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        )
        SELECT e.doc_id
        FROM exact_keep e
        WHERE e.doc_id NOT IN (SELECT doc_id FROM near_drop)
    """,
    tags=("llm", "pipeline", "dedup", "text"),
    doc="End-to-end corpus curation: quality filter (score >= 0.5) -> "
        "exact dedup (min-id survivor per normalized fingerprint) -> "
        "near-dup removal (Jaccard >= 0.5, higher doc_id dropped) -> "
        "surviving doc_ids. The canonical training-data pipeline as ONE "
        "composed DataFrame plan - every stage is an already-verified "
        "operator",
)
def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    q = (
        F.least(F.expr(f"size({T.s_tokens('text')})").cast("long"), F.lit(100)) / 100.0 * 0.5
        + F.expr(T.s_stopword_count("text")).cast("double")
        / F.expr(f"size({T.s_tokens('text')})") * 0.5
    )
    passed = docs.filter(q >= 0.5).select("doc_id", "text")
    exact_keep = (
        D.exact_dedup_groups(passed, "doc_id", "text")
        .select(F.col("keep_doc_id").alias("doc_id"))
    )
    survivors = passed.join(exact_keep, "doc_id", "left_semi")
    # restrict the session shingle cache to the surviving docs — a
    # doc's shingle set is independent of which other docs survive, so
    # the semi-join is exactly shingle_set(survivors) without re-running
    # tokenization
    sh = _doc_shingles(spark, sf_dir).join(
        survivors.select(F.col("doc_id").alias("doc")), "doc", "left_semi"
    )
    near = D.minhash_lsh_near_dups(survivors, "doc_id", "text", threshold=0.5, shingles=sh)
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    return exact_keep.join(drop, "doc_id", "left_anti")


@register(
    "dedup_edit_distance_pairs",
    oracle="""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(substr(a.text, 1, 120),
                                substr(b.text, 1, 120)) AS INT) AS edit_dist
        FROM documents a
        JOIN documents b
          ON substr(a.text, 1, 12) = substr(b.text, 1, 12)
         AND a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= 8
        WHERE levenshtein(substr(a.text, 1, 120), substr(b.text, 1, 120)) <= 8
    """,
    tags=("llm", "dedup", "edit-distance"),
    doc="Edit-distance near-dup: Levenshtein <= 8 over the first 120 "
        "chars, candidates blocked by 12-char-prefix equality + length "
        "band |Δchars| <= 8. The EQUI-join on the prefix block key is the "
        "scale contract — the quadratic DP (O(120²) per pair, "
        "JVM-side F.levenshtein with early-exit threshold) runs only "
        "inside blocks, never all-pairs; a 100 TB corpus adds a "
        "block-frequency cap exactly like the shingle df-cap in the "
        "prefix-filtered Jaccard join. Prefix blocking trades recall for "
        "boundedness (edits inside the first 12 chars move a doc out of "
        "its block) — the documented standard tradeoff; the "
        "MinHash/SimHash entries are the recall-robust alternatives.",
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 12).alias("block"),
        F.substring("text", 1, 120).alias("head"),
        "n_chars",
    )
    a = docs.alias("a")
    b = docs.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"), 8)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 8),
        )
        # thresholded levenshtein returns -1 past the bound (early exit —
        # the DP row never fills), so the predicate is >= 0
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


@register(
    "ann_ivf_recall_audit",
    oracle=f"""
        WITH e AS ({_O_EMB}),
        q AS (SELECT * FROM e WHERE vec_id < 10),
        exact3 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.v, e.v) DESC,
                                    e.vec_id) AS rank
                FROM e, q WHERE e.vec_id <> q.vec_id
            ) WHERE rank <= 3
        ),
        c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        assigned AS (
            SELECT vid, v, centroid_id FROM (
                SELECT e.vec_id AS vid, e.v, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM e, c
            ) WHERE rn = 1
        ),
        qa AS (SELECT vid AS query_id, v AS qv, centroid_id
               FROM assigned WHERE vid < 10),
        ivf3 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT qa.query_id, a.vid AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY qa.query_id
                           ORDER BY list_cosine_similarity(qa.qv, a.v) DESC,
                                    a.vid) AS rank
                FROM assigned a JOIN qa USING (centroid_id)
                WHERE a.vid <> qa.query_id
            ) WHERE rank <= 3
        )
        SELECT x.query_id,
               CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
               CAST(COUNT(i.neighbor_id) AS DOUBLE) / 3 AS recall_at_3
        FROM exact3 x
        LEFT JOIN ivf3 i USING (query_id, neighbor_id)
        GROUP BY x.query_id
    """,
    tags=("llm", "similarity", "ivf", "eval"),
    doc="ANN quality gate: per-query recall@3 of the IVF (nprobe=1) "
        "index against the exact brute-force baseline — the evaluation "
        "every approximate index must publish before it replaces an "
        "exact scan. Joins the two top-k sets at (query, neighbor) "
        "grain (both deterministic under the score-then-id tiebreak, "
        "cross-engine-stable doubles), counts hits per query including "
        "zero-recall queries via the left join. The audit is itself "
        "distributed: both inputs are the existing candidate-bounded "
        "plans; the overlap join touches only 2·k·|Q| rows.",
)
def ann_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    exact = S.brute_force_topk(emb, emb.filter("vec_id < 10"), k=3).select(
        "query_id", "neighbor_id"
    )
    approx = (
        S.ivf_topk(emb, emb.filter(IX.COARSE_RULE), "vec_id < 10", k=3,
                   assigned=IX.read_artifact(spark, sf_dir, "assign"))
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / 3
            ).alias("recall_at_3"),
        )
    )


# ---------------------------------------------------------------------------
# IVF+PQ: product quantization (r6) — codebooks, ADC scan, recall audit
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM = 4, 8, 2, 64
_PQ_QPRED = "vec_id < 10"
_PQ_TOPK = 5


def _o_pq_ctes(
    m: int = _PQ_M, k: int = _PQ_K, iters: int = _PQ_ITERS, dim: int = _PQ_DIM,
    src: str = "e", head: str | None = None,
    ofn: str = "list_cosine_similarity",
    encode_src: str | None = None,
) -> str:
    """DuckDB twin of operators/similarity.py::pq_fit_codebooks /
    pq_encode / pq_adc_topk: per subspace, the same unrolled Lloyd's
    CTEs as _kmeans_oracle (min-id seeding, cosine argmax, 6-decimal
    mean re-sync, empty-cluster carry-forward) over the SUBvector slice,
    then code assignment, the query LUT, and the fixed-order ADC sum.
    Ends in CTEs ``codes``, ``lut``, ``adc``. ``encode_src`` (r11)
    splits train from encode: codebooks still train on ``src``, but the
    ``codes`` CTE encodes THAT relation instead — the frozen-quantizer
    fold shape of the incremental index."""
    sd = dim // m
    sql = head if head is not None else f"WITH e AS ({_O_EMB})"
    for s in range(m):
        a, b = s * sd + 1, (s + 1) * sd
        enc_rel = f"x{s}" if encode_src else f"e{s}"
        sql += f""",
        e{s} AS (SELECT vec_id, v[{a}:{b}] AS v FROM {src}),
        m{s}_0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e{s}
                   ORDER BY vec_id LIMIT {k})"""
        if encode_src:
            sql += f""",
        x{s} AS (SELECT vec_id, v[{a}:{b}] AS v FROM {encode_src})"""
        for i in range(1, iters + 1):
            sql += f""",
        a{s}_{i} AS (
            SELECT vid, centroid_id FROM (
                SELECT e{s}.vec_id AS vid, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e{s}.vec_id
                           ORDER BY {ofn}(e{s}.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM e{s}, m{s}_{i - 1} c
            ) WHERE rn = 1
        ),
        m{s}_{i} AS (
            SELECT p.centroid_id, COALESCE(nm.cv, p.cv) AS cv
            FROM m{s}_{i - 1} p
            LEFT JOIN (
                SELECT centroid_id, list(mm ORDER BY pos) AS cv FROM (
                    SELECT a.centroid_id, i.i AS pos,
                           round(avg(es.v[i.i]), 6) AS mm
                    FROM a{s}_{i} a JOIN e{s} es ON es.vec_id = a.vid
                    JOIN range(1, {sd + 1}) i(i) ON true
                    GROUP BY a.centroid_id, i.i
                ) GROUP BY centroid_id
            ) nm ON nm.centroid_id = p.centroid_id
        )"""
        sql += f""",
        codes{s} AS (
            SELECT vid, {s} AS subspace, centroid_id AS code FROM (
                SELECT {enc_rel}.vec_id AS vid, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY {enc_rel}.vec_id
                           ORDER BY {ofn}({enc_rel}.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM {enc_rel}, m{s}_{iters} c
            ) WHERE rn = 1
        ),
        lut{s} AS (
            SELECT q.vec_id AS query_id, {s} AS subspace,
                   b.centroid_id AS code,
                   list_dot_product(q.v[{a}:{b}], b.cv) AS lut
            FROM {src} q, m{s}_{iters} b WHERE q.{_PQ_QPRED}
        )"""
    codes_u = " UNION ALL ".join(f"SELECT * FROM codes{s}" for s in range(m))
    lut_u = " UNION ALL ".join(f"SELECT * FROM lut{s}" for s in range(m))
    adc_sum = " + ".join(
        f"SUM(CASE WHEN c.subspace = {s} THEN l.lut END)" for s in range(m)
    )
    sql += f""",
        codes AS ({codes_u}),
        lut AS ({lut_u}),
        adc AS (
            SELECT l.query_id, c.vid AS neighbor_id, {adc_sum} AS adc_score
            FROM codes c
            JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
            WHERE c.vid <> l.query_id
            GROUP BY l.query_id, c.vid
        )
    """
    return sql


#: residual-IVFADC oracle head: coarse quantizer, assignment, residuals
_O_RES_HEAD = f"""WITH e AS ({_O_EMB}),
        cq AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        car AS (
            SELECT vid, centroid_id FROM (
                SELECT e.vec_id AS vid, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM e, cq c
            ) WHERE rn = 1
        ),
        er AS (
            SELECT e.vec_id,
                   list_transform(generate_series(1, 64),
                                  i -> e.v[i] - c.cv[i]) AS v
            FROM e
            JOIN car ON car.vid = e.vec_id
            JOIN cq c ON c.centroid_id = car.centroid_id
        )"""


def _o_manifest_row(artifact: str, ctes: str, rel: str,
                    key_expr: str, pay_from: str, pay_expr: str) -> str:
    """One manifest row as a self-contained nested-WITH subquery (CTE
    names stay local, so the raw and residual PQ machineries — which
    share CTE names — can coexist in one UNION ALL oracle)."""
    return f"""
        SELECT '{artifact}' AS artifact, n_rows, key_sum, payload_sum
        FROM (
            {ctes},
            base_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                             CAST({key_expr} AS BIGINT) AS key_sum
                      FROM {rel}),
            pay_ AS (SELECT CAST({pay_expr} AS BIGINT) AS payload_sum
                     FROM {pay_from})
            SELECT base_.n_rows, base_.key_sum, pay_.payload_sum
            FROM base_, pay_
        )
    """


def _o_books_union(iters: int = _PQ_ITERS, m: int = _PQ_M) -> str:
    return " UNION ALL ".join(
        f"SELECT {s} AS subspace, centroid_id, cv FROM m{s}_{iters}"
        for s in range(m)
    )


#: integer mixing constants for the manifest checksums — shared
#: verbatim by the Spark side and the DuckDB oracle below.
_MAN_VAL_SCALE = "1e6"
_MAN_ASSIGN_MIX = 53
_MAN_CODE_MIX = (37, 11)
_MAN_BOOK_MIX = 1000

_O_MAN_COARSE_CTES = f"""WITH e AS ({_O_EMB}),
            cq AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                   WHERE vec_id % 50 = 0)"""

_O_MAN_ASSIGN_CTES = _O_RES_HEAD  # e, cq, car, er — car is the assignment


@register(
    "ann_index_build_manifest",
    oracle="SELECT * FROM (" + " UNION ALL ".join([
        _o_manifest_row(
            "coarse", _O_MAN_COARSE_CTES, "cq",
            "SUM(centroid_id)",
            "cq, UNNEST(cq.cv) AS t(x)",
            f"SUM(CAST(FLOOR(t.x * {_MAN_VAL_SCALE}) AS BIGINT))",
        ),
        _o_manifest_row(
            "assign", _O_MAN_ASSIGN_CTES, "car",
            "SUM(vid)",
            "car",
            f"SUM(vid * {_MAN_ASSIGN_MIX} + centroid_id)",
        ),
        _o_manifest_row(
            "books_raw",
            _o_pq_ctes() + f", b_ AS ({_o_books_union()})", "b_",
            f"SUM(subspace * {_MAN_BOOK_MIX} + centroid_id)",
            "b_, UNNEST(b_.cv) AS t(x)",
            f"SUM(CAST(FLOOR(t.x * {_MAN_VAL_SCALE}) AS BIGINT))",
        ),
        _o_manifest_row(
            "codes_raw", _o_pq_ctes(), "codes",
            "SUM(vid)",
            "codes",
            f"SUM(vid * {_MAN_CODE_MIX[0]} + subspace * {_MAN_CODE_MIX[1]}"
            " + code)",
        ),
        _o_manifest_row(
            "books_res",
            _o_pq_ctes(src="er", head=_O_RES_HEAD, ofn="list_dot_product")
            + f", b_ AS ({_o_books_union()})", "b_",
            f"SUM(subspace * {_MAN_BOOK_MIX} + centroid_id)",
            "b_, UNNEST(b_.cv) AS t(x)",
            f"SUM(CAST(FLOOR(t.x * {_MAN_VAL_SCALE}) AS BIGINT))",
        ),
        _o_manifest_row(
            "codes_res",
            _o_pq_ctes(src="er", head=_O_RES_HEAD, ofn="list_dot_product"),
            "codes",
            "SUM(vid)",
            "codes",
            f"SUM(vid * {_MAN_CODE_MIX[0]} + subspace * {_MAN_CODE_MIX[1]}"
            " + code)",
        ),
    ]) + ") ORDER BY artifact",
    tags=("llm", "similarity", "pq", "lifecycle", "iterative"),
    doc="ANN index TRAIN step + integrity manifest (r7 — the "
        "train/serve split): operators/ann_index.py builds the coarse "
        "centroids, corpus bucket assignment, raw + residual PQ "
        "codebooks and codes ONCE per scale factor and persists them "
        "as parquet (FAISS's train/add/search lifecycle); the five ANN "
        "serve entries are pure scans over these artifacts. This entry "
        "reads the PERSISTED artifacts and emits one row per artifact "
        "(row count + two order-independent integer checksums: keys, "
        "and payload values scaled by FLOOR(x*1e6) — exact BIGINT "
        "sums, no float-order hazard), while the oracle re-derives "
        "every artifact FROM SCRATCH via the unrolled-CTE k-means "
        "twins — so a hash match proves the persisted index is "
        "bit-identical to retraining, i.e. serve-time results cannot "
        "drift from the from-scratch semantics the other oracles pin.",
)
def ann_index_build_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    scale = F.lit(1_000_000.0)

    def _row(name: str, key_sum, pay_df: DataFrame, pay_sum) -> DataFrame:
        df = IX.read_artifact(spark, sf_dir, name)
        if pay_df is None:
            # payload rides the SAME aggregate as the key/count when it
            # needs no explode (r12 — guide §1.2: one artifact scan and
            # one scalar agg instead of two plus a crossJoin; identical
            # exact-integer sums)
            return df.agg(
                F.count("*").cast("long").alias("n_rows"),
                key_sum.cast("long").alias("key_sum"),
                pay_sum.cast("long").alias("payload_sum"),
            ).select(
                F.lit(name).alias("artifact"), "n_rows", "key_sum", "payload_sum"
            )
        base = df.agg(
            F.count("*").cast("long").alias("n_rows"),
            key_sum.cast("long").alias("key_sum"),
        )
        payload = pay_df.agg(pay_sum.cast("long").alias("payload_sum"))
        return base.crossJoin(payload).select(
            F.lit(name).alias("artifact"), "n_rows", "key_sum", "payload_sum"
        )

    def _vec_payload(name: str) -> DataFrame:
        return IX.read_artifact(spark, sf_dir, name).select(
            F.explode("cv").alias("x")
        )

    vec_pay = F.sum(F.floor(F.col("x") * scale))
    book_key = F.sum(
        F.col("subspace") * _MAN_BOOK_MIX + F.col("centroid_id")
    )
    code_pay = F.sum(
        F.col("vid") * _MAN_CODE_MIX[0]
        + F.col("subspace") * _MAN_CODE_MIX[1]
        + F.col("code")
    )
    parts = [
        _row("coarse", F.sum("centroid_id"), _vec_payload("coarse"), vec_pay),
        _row("assign", F.sum("vid"), None,
             F.sum(F.col("vid") * _MAN_ASSIGN_MIX + F.col("centroid_id"))),
        _row("books_raw", book_key, _vec_payload("books_raw"), vec_pay),
        _row("codes_raw", F.sum("vid"), None, code_pay),
        _row("books_res", book_key, _vec_payload("books_res"), vec_pay),
        _row("codes_res", F.sum("vid"), None, code_pay),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("artifact")


# ---------------------------------------------------------------------------
# Incremental index maintenance (r11 — verdict #1)
# ---------------------------------------------------------------------------

#: oracle head for the incremental index: e = all embeddings,
#: ec = the standing-corpus split the base generation trained on
_O_INCR_HEAD = f"""WITH e AS ({_O_EMB}),
        ec AS (SELECT * FROM e WHERE ({IX.O_EMB_COIN}) >= {IX.EMB_BATCH_PCT})"""

_O_INCR_CQ = """,
        cq AS (SELECT vec_id AS centroid_id, v AS cv FROM ec
               WHERE vec_id % 50 = 0)"""

_O_INCR_CAR = """,
        car AS (
            SELECT vid, centroid_id FROM (
                SELECT e.vec_id AS vid, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM e, cq c
            ) WHERE rn = 1
        )"""


@register(
    "ann_index_fold_manifest",
    oracle="SELECT * FROM (" + " UNION ALL ".join([
        _o_manifest_row(
            "coarse", _O_INCR_HEAD + _O_INCR_CQ, "cq",
            "SUM(centroid_id)",
            "cq, UNNEST(cq.cv) AS t(x)",
            f"SUM(CAST(FLOOR(t.x * {_MAN_VAL_SCALE}) AS BIGINT))",
        ),
        _o_manifest_row(
            "assign", _O_INCR_HEAD + _O_INCR_CQ + _O_INCR_CAR, "car",
            "SUM(vid)",
            "car",
            f"SUM(vid * {_MAN_ASSIGN_MIX} + centroid_id)",
        ),
        _o_manifest_row(
            "books_raw",
            _o_pq_ctes(src="ec", head=_O_INCR_HEAD)
            + f", b_ AS ({_o_books_union()})", "b_",
            f"SUM(subspace * {_MAN_BOOK_MIX} + centroid_id)",
            "b_, UNNEST(b_.cv) AS t(x)",
            f"SUM(CAST(FLOOR(t.x * {_MAN_VAL_SCALE}) AS BIGINT))",
        ),
        _o_manifest_row(
            "codes_raw",
            _o_pq_ctes(src="ec", head=_O_INCR_HEAD, encode_src="e"),
            "codes",
            "SUM(vid)",
            "codes",
            f"SUM(vid * {_MAN_CODE_MIX[0]} + subspace * {_MAN_CODE_MIX[1]}"
            " + code)",
        ),
    ]) + ") ORDER BY artifact",
    tags=("llm", "similarity", "pq", "lifecycle", "incremental", "iterative"),
    doc="Incremental ANN index FOLD + integrity manifest (r11 — verdict "
        "#1, making the persisted index OPERABLE, not just buildable): "
        "the base generation trains coarse centroids + PQ codebooks on "
        "the standing-corpus split and encodes it; the arriving batch "
        "is then FOLDED in with the quantizers FROZEN — assigned to the "
        "existing centroids, encoded with the existing codebooks, "
        "landed as new delta files next to the base generation (base "
        "files byte-untouched, pinned in tests/test_ann_index.py) — "
        "FAISS's add() after train(), the shape a real ingest pipeline "
        "runs every batch. This entry checksums the FOLDED artifacts "
        "(frozen coarse + books, union assign + codes) while the "
        "oracle re-derives them from scratch: quantizers trained on "
        "the corpus split, assignment/encode over the UNION corpus. A "
        "hash match proves folded == rebuilt-with-frozen-quantizers "
        "exactly — encode-only folds drift zero; the RESIDUAL quality "
        "drift of frozen quantizers vs a full retrain is what "
        "ann_index_append_recall_audit measures. "
        "operators/ann_index.py::fold_incr_batch.",
)
def ann_index_fold_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    scale = F.lit(1_000_000.0)

    def _row(name: str, key_sum, pay_df: DataFrame | None, pay_sum) -> DataFrame:
        df = IX.read_incr_artifact(spark, sf_dir, name)
        base = df.agg(
            F.count("*").cast("long").alias("n_rows"),
            key_sum.cast("long").alias("key_sum"),
        )
        pay = pay_df if pay_df is not None else df
        payload = pay.agg(pay_sum.cast("long").alias("payload_sum"))
        return base.crossJoin(payload).select(
            F.lit(name).alias("artifact"), "n_rows", "key_sum", "payload_sum"
        )

    vec_pay = F.sum(F.floor(F.col("x") * scale))
    parts = [
        _row(
            "coarse", F.sum("centroid_id"),
            IX.read_incr_artifact(spark, sf_dir, "coarse").select(
                F.explode("cv").alias("x")
            ),
            vec_pay,
        ),
        _row("assign", F.sum("vid"), None,
             F.sum(F.col("vid") * _MAN_ASSIGN_MIX + F.col("centroid_id"))),
        _row(
            "books_raw",
            F.sum(F.col("subspace") * _MAN_BOOK_MIX + F.col("centroid_id")),
            IX.read_incr_artifact(spark, sf_dir, "books_raw").select(
                F.explode("cv").alias("x")
            ),
            vec_pay,
        ),
        _row(
            "codes_raw", F.sum("vid"), None,
            F.sum(
                F.col("vid") * _MAN_CODE_MIX[0]
                + F.col("subspace") * _MAN_CODE_MIX[1]
                + F.col("code")
            ),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("artifact")


#: the recall audit's query set: batch members with small ids — 19
#: queries at every shipped scale (id range fixed, coin deterministic)
_INCR_QPRED = f"vec_id < 200 AND ({IX.S_EMB_COIN}) < {IX.EMB_BATCH_PCT}"
_O_INCR_QPRED = f"vec_id < 200 AND ({IX.O_EMB_COIN}) < {IX.EMB_BATCH_PCT}"


def _o_incr_ivf_arm(tag: str, cq_sql: str) -> str:
    """One recall arm: coarse set ``cq_sql``, full-corpus assignment,
    same-bucket IVF top-3 for the query set, hits vs exact."""
    return f""",
        cq_{tag} AS ({cq_sql}),
        car_{tag} AS (
            SELECT vid, centroid_id FROM (
                SELECT e.vec_id AS vid, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM e, cq_{tag} c
            ) WHERE rn = 1
        ),
        ivf_{tag} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT qa.vid AS query_id, a.vid AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY qa.vid
                           ORDER BY list_cosine_similarity(qe.v, ne.v) DESC,
                                    a.vid) AS rn
                FROM car_{tag} qa
                JOIN q qe ON qe.vec_id = qa.vid
                JOIN car_{tag} a ON a.centroid_id = qa.centroid_id
                                AND a.vid <> qa.vid
                JOIN e ne ON ne.vec_id = a.vid
            ) WHERE rn <= 3
        ),
        hits_{tag} AS (
            SELECT COUNT(*) AS hits
            FROM exact JOIN ivf_{tag} USING (query_id, neighbor_id)
        )"""


@register(
    "ann_index_append_recall_audit",
    oracle=_O_INCR_HEAD + f""",
        q AS (SELECT * FROM e WHERE {_O_INCR_QPRED}),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.v, e.v) DESC,
                                    e.vec_id) AS rn
                FROM q, e WHERE e.vec_id <> q.vec_id
            ) WHERE rn <= 3
        ),
        nq AS (SELECT COUNT(*) AS n_queries FROM q)"""
    + _o_incr_ivf_arm(
        "a",
        "SELECT vec_id AS centroid_id, v AS cv FROM ec WHERE vec_id % 50 = 0",
    )
    + _o_incr_ivf_arm(
        "r",
        "SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0",
    )
    + """
        SELECT * FROM (
            SELECT 'appended' AS path,
                   CAST(n_queries AS BIGINT) AS n_queries,
                   CAST(hits AS BIGINT) AS hits,
                   CAST(hits AS DOUBLE) / (3 * n_queries) AS recall_at_3
            FROM hits_a, nq
            UNION ALL
            SELECT 'retrained',
                   CAST(n_queries AS BIGINT), CAST(hits AS BIGINT),
                   CAST(hits AS DOUBLE) / (3 * n_queries)
            FROM hits_r, nq
        ) ORDER BY path
    """,
    tags=("llm", "similarity", "ivf", "lifecycle", "incremental", "serve"),
    doc="Appended-vs-retrained RECALL drift (r11 — the retrain trigger "
        "a real ANN deployment publishes): IVF recall@3 over the batch "
        "query set through TWO indexes — 'appended' probes the "
        "incremental index whose coarse centroids never saw the batch "
        "(frozen at the base build, batch folded in by assignment "
        "only), 'retrained' probes the v2 full index whose centroids "
        "trained on the union corpus. Both arms are pure scans of "
        "persisted assignments (the serve shape); exact brute-force "
        "cosine is the shared ground truth. The gap between the two "
        "recall rows IS the quality cost of appending instead of "
        "retraining — when it exceeds the SLO, you schedule the "
        "retrain. Oracle re-derives both arms from scratch.",
)
def ann_index_append_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(_INCR_QPRED)
    exact = S.brute_force_topk(emb, queries, k=3).select(
        "query_id", "neighbor_id"
    )

    def _arm(path: str, assigned: DataFrame, centroids: DataFrame) -> DataFrame:
        approx = (
            S.ivf_topk(emb, centroids, _INCR_QPRED, k=3, assigned=assigned)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        agg = (
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .agg(
                F.countDistinct("query_id").cast("long").alias("n_queries"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("hits"),
            )
        )
        return agg.select(
            F.lit(path).alias("path"), "n_queries", "hits",
            (F.col("hits").cast("double") / (3 * F.col("n_queries")))
            .alias("recall_at_3"),
        )

    incr_coarse = IX.read_incr_artifact(spark, sf_dir, "coarse").select(
        F.col("centroid_id").alias("vec_id"), F.col("cv").alias("embedding")
    )
    appended = _arm(
        "appended",
        IX.read_incr_artifact(spark, sf_dir, "assign"),
        incr_coarse,
    )
    retrained = _arm(
        "retrained",
        IX.read_artifact(spark, sf_dir, "assign"),
        emb.filter(IX.COARSE_RULE),
    )
    return appended.unionAll(retrained).orderBy("path")


@register(
    "minhash_index_fold_manifest",
    oracle=_o_minhash_sig_ctes(where_sql="TRUE") + f"""
        SELECT * FROM (
            SELECT 'bands' AS artifact,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc * 17 + band_idx) AS BIGINT) AS key_sum,
                   CAST(SUM({T.o_md5_long('bh', 7)}) AS BIGINT) AS payload_sum
            FROM mbands
            UNION ALL
            SELECT 'sigs' AS artifact,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc) AS BIGINT) AS key_sum,
                   CAST(SUM({' + '.join(f'm{i}' for i in range(32))}) AS BIGINT)
                       AS payload_sum
            FROM msig
        ) ORDER BY artifact
    """,
    tags=("llm", "dedup", "lsh", "lifecycle", "incremental"),
    doc="MinHash band-index FOLD + integrity manifest (r11 — verdict "
        "#1, the dedup twin of ann_index_fold_manifest): the arriving "
        "batch's band rows are APPENDED bucket-aligned into the "
        "standing bucketed band table (Spark's bucket id is the same "
        "murmur3 for every writer, so delta files land in the right "
        "buckets; base files byte-untouched — pinned in "
        "tests/test_minhash_index.py) and its signatures appended to "
        "the sig store — the ingest-time stamp a real pipeline runs "
        "per accepted batch instead of re-shingling the corpus. "
        "Because band signatures are per-document deterministic, "
        "folded == rebuilt-from-scratch holds EXACTLY: the oracle "
        "re-derives both artifacts from the UNION corpus (all "
        "documents) and the checksums must hash-match. The documented "
        "trade: each fold adds one file per bucket, so probes re-sort "
        "in-bucket (never re-shuffle) until the periodic re-bucket "
        "compaction rewrites one sorted file per bucket. "
        "operators/minhash_index.py::fold_incr_batch.",
)
def minhash_index_fold_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = MI.read_folded_artifact(spark, sf_dir, "bands")
    sigs = MI.read_folded_artifact(spark, sf_dir, "sigs")
    b_row = (
        bands.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("doc") * 17 + F.col("band_idx")).cast("long").alias("key_sum"),
            F.sum(F.expr(T.s_md5_long("bh", 7))).cast("long").alias("payload_sum"),
        )
        .select(F.lit("bands").alias("artifact"), "n_rows", "key_sum", "payload_sum")
    )
    s_row = (
        sigs.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc").cast("long").alias("key_sum"),
            F.sum(F.expr("aggregate(sig, 0L, (a, x) -> a + x)"))
            .cast("long")
            .alias("payload_sum"),
        )
        .select(F.lit("sigs").alias("artifact"), "n_rows", "key_sum", "payload_sum")
    )
    return b_row.unionAll(s_row).orderBy("artifact")


@register(
    "ann_pq_adc_topk",
    oracle=_o_pq_ctes() + f"""
        SELECT query_id, neighbor_id, rank, adc_score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY adc_score DESC, neighbor_id) AS rank
            FROM adc
        ) WHERE rank <= {_PQ_TOPK}
    """,
    tags=("llm", "similarity", "pq", "serve"),
    doc="IVF+PQ completion (r6): product-quantization ADC top-5 — "
        "4 subspaces × 8-centroid codebooks trained by the kmeans_fit "
        "machinery on subvector slices, corpus compressed to 4 thin "
        "code rows per vector, queries scored via a broadcast "
        "dot-product lookup table summed in fixed subspace order "
        "(bit-stable vs the unrolled-CTE oracle). Query-time cost is "
        "LUT build (|Q|·m·k dots) + a broadcast join over codes — no "
        "per-corpus-row vector math. SERVE-TIME entry (r7): codebooks "
        "and codes come from the persisted index built once by "
        "ann_index_build_manifest (operators/ann_index.py) — no "
        "training inside the query; the oracle still re-derives from "
        "scratch, pinning persisted == retrained "
        "(operators/similarity.py::pq_adc_topk).",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    books = IX.read_artifact(spark, sf_dir, "books_raw")
    codes = IX.read_artifact(spark, sf_dir, "codes_raw")
    return S.pq_adc_topk(
        emb, books, _PQ_QPRED, k=_PQ_TOPK, m=_PQ_M, dim=_PQ_DIM, codes=codes
    )


#: the combined IVF+PQ oracle — shared verbatim by the unpartitioned
#: scan and the DPP list-file scan (identical semantics, different
#: physical access path; a hash match on both pins the layout lossless)
_O_IVFPQ = _o_pq_ctes() + f"""
        , c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        cassigned AS (
            SELECT vid, centroid_id FROM (
                SELECT e.vec_id AS vid, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.centroid_id) AS rn
                FROM e, c
            ) WHERE rn = 1
        ),
        qb AS (SELECT vid AS query_id, centroid_id FROM cassigned WHERE vid < 10),
        cand AS (
            SELECT q.query_id, a.vid
            FROM cassigned a JOIN qb q USING (centroid_id)
            WHERE a.vid <> q.query_id
        ),
        adc_ivf AS (
            SELECT cand.query_id, cand.vid AS neighbor_id,
                   {" + ".join(f"SUM(CASE WHEN cd.subspace = {s} THEN l.lut END)" for s in range(_PQ_M))} AS adc_score
            FROM cand
            JOIN codes cd ON cd.vid = cand.vid
            JOIN lut l ON l.query_id = cand.query_id
                      AND l.subspace = cd.subspace AND l.code = cd.code
            GROUP BY cand.query_id, cand.vid
        )
        SELECT query_id, neighbor_id, rank, adc_score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY adc_score DESC, neighbor_id) AS rank
            FROM adc_ivf
        ) WHERE rank <= {_PQ_TOPK}
    """


@register(
    "ann_ivfpq_topk",
    oracle=_O_IVFPQ,
    tags=("llm", "similarity", "ivf", "pq", "serve"),
    doc="The COMBINED IVF+PQ scan (the classical billion-scale ANN "
        "layout, Jégou et al. 2011 §V): coarse quantizer "
        "(centroids = vec_id%50==0, nprobe=1) prunes the corpus to the "
        "query's bucket, then only surviving candidates are ADC-scored "
        "through their PQ codes — candidate-bounded joins end-to-end, "
        "no raw-vector math at query time. Codebooks trained on raw "
        "subvectors (IVFFlat-style, not residuals — documented "
        "deviation; quantization loss is audited by the recall "
        "entries). SERVE-TIME entry (r7): bucket assignment, codebooks "
        "and codes are pure scans of the persisted index — the plan "
        "touches raw vectors only for the |Q| query rows. "
        "operators/similarity.py::ivfpq_adc_topk.",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    books = IX.read_artifact(spark, sf_dir, "books_raw")
    codes = IX.read_artifact(spark, sf_dir, "codes_raw")
    assigned = IX.read_artifact(spark, sf_dir, "assign")
    return S.ivfpq_adc_topk(
        emb, emb.filter(IX.COARSE_RULE), books, _PQ_QPRED,
        k=_PQ_TOPK, m=_PQ_M, dim=_PQ_DIM, assigned=assigned, codes=codes,
    )


@register(
    "ann_ivfpq_partitioned_scan",
    oracle=_O_IVFPQ,
    tags=("llm", "similarity", "ivf", "pq", "serve", "layout"),
    doc="IVF+PQ over the LIST-FILE layout (r7): the persisted codes "
        "table hive-partitioned on centroid_id (the classical inverted "
        "list, operators/ann_index.py::codes_ivf), probed by an "
        "equi-join on the PARTITION column against the broadcast query "
        "buckets — Catalyst's dynamic partition pruning restricts the "
        "scan to the probed buckets' FILES (plan-pinned: dynamicpruning "
        "subquery in tests/test_ann_index.py). Same oracle as "
        "ann_ivfpq_topk verbatim: a hash match on both entries proves "
        "the layout is lossless while the access path drops from "
        "whole-index to nprobe/nlist of the files — the 100 TB serve "
        "shape. operators/similarity.py::ivfpq_partitioned_scan.",
)
def ann_ivfpq_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.ivfpq_partitioned_scan(
        emb,
        IX.read_artifact(spark, sf_dir, "codes_ivf"),
        IX.read_artifact(spark, sf_dir, "books_raw"),
        IX.read_artifact(spark, sf_dir, "assign"),
        _PQ_QPRED, k=_PQ_TOPK, m=_PQ_M, dim=_PQ_DIM,
    )


@register(
    "ann_ivfpq_residual_topk",
    oracle=_o_pq_ctes(src="er", head=_O_RES_HEAD, ofn="list_dot_product") + f"""
        , qb AS (
            SELECT e.vec_id AS query_id, car.centroid_id,
                   list_dot_product(e.v, c.cv) AS qc
            FROM e
            JOIN car ON car.vid = e.vec_id
            JOIN cq c ON c.centroid_id = car.centroid_id
            WHERE e.{_PQ_QPRED}
        ),
        cand AS (
            SELECT qb.query_id, car.vid
            FROM car JOIN qb USING (centroid_id)
            WHERE car.vid <> qb.query_id
        )
        SELECT query_id, neighbor_id, rank, adc_score FROM (
            SELECT a.query_id, a.neighbor_id,
                   qb.qc + a.adc_score AS adc_score,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.query_id
                       ORDER BY qb.qc + a.adc_score DESC, a.neighbor_id) AS rank
            FROM adc a
            JOIN cand ON cand.query_id = a.query_id AND cand.vid = a.neighbor_id
            JOIN qb ON qb.query_id = a.query_id
        ) WHERE rank <= {_PQ_TOPK}
    """,
    tags=("llm", "similarity", "ivf", "pq", "serve"),
    doc="IVFADC with RESIDUAL encoding (Jegou et al. 2011 sec V.A — the "
        "classical recipe ann_ivfpq_topk's documented deviation skips): "
        "vectors PQ-encode as x - c(x), codebooks train on the "
        "residuals (which concentrate near the origin — exactly what a "
        "small codebook quantizes well), queries build their LUT from "
        "q - c(q), and the within-bucket score adds back the per-query "
        "constant dot(q, c) for a faithful approximation of dot(q, x). "
        "Residual training/encoding use the division-free DOT-product "
        "argmax (the metric ADC approximates anyway): a vector that IS "
        "a coarse centroid has the exactly-zero residual, whose cosine "
        "is 0/0 — under dot it scores 0 everywhere and ties to the min "
        "centroid id, identically in both engines. Plan "
        "shape identical to the raw-code scan. SERVE-TIME entry (r7): "
        "assignment, residual codebooks and residual codes are scans "
        "of the persisted index; only the |Q| query residuals are "
        "computed in-query (one broadcast join + map-side zip_with). "
        "operators/similarity.py::ivfpq_residual_topk.",
)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.ivfpq_residual_topk(
        emb, emb.filter(IX.COARSE_RULE), _PQ_QPRED,
        k=_PQ_TOPK, m=_PQ_M, kk=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM,
        assigned=IX.read_artifact(spark, sf_dir, "assign"),
        books=IX.read_artifact(spark, sf_dir, "books_res"),
        codes=IX.read_artifact(spark, sf_dir, "codes_res"),
    )


@register(
    "ann_residual_recall_audit",
    oracle=_o_pq_ctes(src="er", head=_O_RES_HEAD, ofn="list_dot_product") + f"""
        , qb AS (
            SELECT e.vec_id AS query_id, car.centroid_id,
                   list_dot_product(e.v, c.cv) AS qc
            FROM e
            JOIN car ON car.vid = e.vec_id
            JOIN cq c ON c.centroid_id = car.centroid_id
            WHERE e.{_PQ_QPRED}
        ),
        cand AS (
            SELECT qb.query_id, car.vid
            FROM car JOIN qb USING (centroid_id)
            WHERE car.vid <> qb.query_id
        ),
        res5 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT a.query_id, a.neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.query_id
                           ORDER BY qb.qc + a.adc_score DESC,
                                    a.neighbor_id) AS rank
                FROM adc a
                JOIN cand ON cand.query_id = a.query_id
                         AND cand.vid = a.neighbor_id
                JOIN qb ON qb.query_id = a.query_id
            ) WHERE rank <= {_PQ_TOPK}
        ),
        exact5 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.v, e.v) DESC,
                                    e.vec_id) AS rank
                FROM e, e q WHERE q.{_PQ_QPRED} AND e.vec_id <> q.vec_id
            ) WHERE rank <= {_PQ_TOPK}
        )
        SELECT x.query_id,
               CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
               CAST(COUNT(p.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall_at_5
        FROM exact5 x
        LEFT JOIN res5 p USING (query_id, neighbor_id)
        GROUP BY x.query_id
    """,
    tags=("llm", "similarity", "ivf", "pq", "eval", "serve"),
    doc="Residual-IVFADC quality gate (the ann_pq_recall_audit pattern "
        "applied to the classical-recipe scan): per-query recall@5 of "
        "the residual-encoded bucket scan against the exact dot-product "
        "brute force — quantifies BOTH loss sources at once, the "
        "nprobe=1 bucket prune and the residual-codebook quantization, "
        "so it reads head-to-head against ann_ivf_recall_audit (prune "
        "only) and ann_pq_recall_audit (quantization only); zero-recall "
        "queries kept via the left join.",
)
def ann_residual_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    dv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(V.s_to_double("embedding")).alias("nv"),
    )
    qv = emb.filter(_PQ_QPRED).select(
        F.col("vec_id").alias("query_id"),
        F.expr(V.s_to_double("embedding")).alias("qv"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    exact = (
        dv.join(F.broadcast(qv), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(V.s_dot("qv", "nv")).alias("dot"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id")
    )
    approx = (
        S.ivfpq_residual_topk(
            emb, emb.filter(IX.COARSE_RULE), _PQ_QPRED,
            k=_PQ_TOPK, m=_PQ_M, kk=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM,
            assigned=IX.read_artifact(spark, sf_dir, "assign"),
            books=IX.read_artifact(spark, sf_dir, "books_res"),
            codes=IX.read_artifact(spark, sf_dir, "codes_res"),
        )
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / _PQ_TOPK
            ).alias("recall_at_5"),
        )
    )


@register(
    "ann_pq_recall_audit",
    oracle=_o_pq_ctes() + f"""
        , exact5 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.v, e.v) DESC,
                                    e.vec_id) AS rank
                FROM e, e q WHERE q.{_PQ_QPRED} AND e.vec_id <> q.vec_id
            ) WHERE rank <= {_PQ_TOPK}
        ),
        pq5 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY adc_score DESC, neighbor_id) AS rank
                FROM adc
            ) WHERE rank <= {_PQ_TOPK}
        )
        SELECT x.query_id,
               CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
               CAST(COUNT(p.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall_at_5
        FROM exact5 x
        LEFT JOIN pq5 p USING (query_id, neighbor_id)
        GROUP BY x.query_id
    """,
    tags=("llm", "similarity", "pq", "eval", "serve"),
    doc="PQ quality gate (the ann_ivf_recall_audit pattern): per-query "
        "recall@5 of the ADC scan against the exact DOT-product "
        "brute-force baseline — dot, not cosine, because ADC "
        "approximates the inner product; quantifies codebook "
        "quantization loss including zero-recall queries via the left "
        "join. Both sides deterministic under the score-then-id "
        "tiebreak.",
)
def ann_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    dv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(V.s_to_double("embedding")).alias("nv"),
    )
    qv = emb.filter(_PQ_QPRED).select(
        F.col("vec_id").alias("query_id"),
        F.expr(V.s_to_double("embedding")).alias("qv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    exact = (
        dv.join(F.broadcast(qv), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(V.s_dot("qv", "nv")).alias("dot"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id")
    )
    books = IX.read_artifact(spark, sf_dir, "books_raw")
    codes = IX.read_artifact(spark, sf_dir, "codes_raw")
    approx = (
        S.pq_adc_topk(emb, books, _PQ_QPRED, k=_PQ_TOPK, m=_PQ_M,
                      dim=_PQ_DIM, codes=codes)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / _PQ_TOPK
            ).alias("recall_at_5"),
        )
    )


# Winnowing fingerprint parameters (Schleimer et al. 2003, SIGMOD):
# k-word shingles hashed, then the minimum hash of every w-consecutive
# window is selected — guarantees any shared run of >= w + k - 1 tokens
# produces at least one shared fingerprint.
_WINNOW_K = 3
_WINNOW_W = 4
#: fingerprints appearing in more than this many documents are dropped
#: before the overlap self-join (MOSS's over-common-fingerprint cull):
#: boilerplate shared by everything is not overlap signal, and the cap
#: bounds the join's per-key fan-out.
_WINNOW_DF_CAP = 20

#: shared CTE prefix: token rows -> lead-built shingles -> hashed ->
#: per-window minima (doc-partitioned windows only). ROW-BASED on
#: purpose: the array-comprehension spelling re-evaluates the shingle
#: pipeline inside every window lambda after optimizer inlining
#: (O(tokens^3) per doc in BOTH engines — measured 37 s on 500 docs);
#: rows + lag/min windows evaluate each stage once and stream long
#: documents instead of materializing per-row arrays.
_O_WINNOW_CTES = f"""
    toks AS (
        SELECT doc_id, {T.o_tokens('text')} AS t FROM documents
    ),
    tok AS (
        SELECT doc_id, s.pos AS pos, t[s.pos] AS w
        FROM toks, unnest(range(1, len(t) + 1)) AS s(pos)
    ),
    le AS (
        SELECT doc_id, pos, w,
               LEAD(w, 1) OVER win AS w1, LEAD(w, 2) OVER win AS w2,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_tok
        FROM tok
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT doc_id, pos, n_tok - {_WINNOW_K - 1} AS n_sh,
               {T.o_md5_long("(w || ' ' || w1 || ' ' || w2)")} AS h
        FROM le WHERE pos <= n_tok - {_WINNOW_K - 1}
    ),
    wm AS (
        SELECT doc_id, pos, n_sh,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
                   AS wmin
        FROM sh
    ),
    fps AS (
        SELECT doc_id, n_sh, wmin FROM wm
        WHERE pos <= greatest(n_sh - {_WINNOW_W - 1}, 1)
    )
"""


def _winnow_fp_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, n_sh, wmin) winnowing fingerprint rows (with repeats —
    callers dedupe at their grain). Spark twin of ``_O_WINNOW_CTES``."""
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id", F.posexplode(F.expr(T.s_tokens("text"))).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    win = Window.partitionBy("doc_id").orderBy("pos")
    le = tok.select(
        "doc_id",
        "pos",
        "w",
        F.lead("w", 1).over(win).alias("w1"),
        F.lead("w", 2).over(win).alias("w2"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_tok"),
    )
    sh = le.filter(F.col("pos") <= F.col("n_tok") - (_WINNOW_K - 1)).select(
        "doc_id",
        "pos",
        (F.col("n_tok") - (_WINNOW_K - 1)).alias("n_sh"),
        F.expr(T.s_md5_long("concat_ws(' ', w, w1, w2)")).alias("h"),
    )
    wmin = F.min("h").over(
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WINNOW_W - 1)
    )
    return (
        sh.withColumn("wmin", wmin)
        .filter(F.col("pos") <= F.greatest(F.col("n_sh") - (_WINNOW_W - 1), F.lit(1)))
        .select("doc_id", "n_sh", "wmin")
    )


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
        WITH {_O_WINNOW_CTES}
        SELECT doc_id,
               CAST(MAX(n_sh) AS BIGINT) AS n_shingles,
               CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fingerprints,
               round(COUNT(DISTINCT wmin) / CAST(MAX(n_sh) AS DOUBLE), 6)
                   AS density,
               CAST(bit_xor(DISTINCT wmin) AS BIGINT) AS fp_xor
        FROM fps GROUP BY doc_id
    """,
    tags=("llm", "text", "dedup", "W1"),
    doc=f"Winnowing document fingerprints (Schleimer et al. 2003, the "
        f"MOSS algorithm): {_WINNOW_K}-word shingle hashes, minimum "
        f"hash per {_WINNOW_W}-window, distinct minima kept — "
        f"guarantees any shared run of >= {_WINNOW_W + _WINNOW_K - 1} "
        "tokens yields a shared fingerprint, with expected density "
        "2/(w+1) (observable in the density column). Row-based on "
        "purpose: tokens posexplode once, shingles come from lead() "
        "and window minima from a doc-partitioned ROWS frame, so every "
        "stage evaluates once and long documents stream as rows (the "
        "array-comprehension spelling re-inlines the shingle pipeline "
        "into every window lambda — O(tokens^3) per doc, measured). "
        "Shuffle: one doc_id partition; the xor checksum makes the "
        "fingerprint SET hash-comparable without returning it.",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return _winnow_fp_rows(docs).groupBy("doc_id").agg(
        F.max("n_sh").cast("long").alias("n_shingles"),
        F.countDistinct("wmin").cast("long").alias("n_fingerprints"),
        F.round(
            F.countDistinct("wmin") / F.max("n_sh").cast("double"), 6
        ).alias("density"),
        F.expr("bit_xor(DISTINCT wmin)").cast("long").alias("fp_xor"),
    )


@register(
    "dedup_winnowing_overlap",
    oracle=f"""
        WITH {_O_WINNOW_CTES},
        e AS (
            SELECT DISTINCT doc_id, wmin AS fp FROM fps
        ),
        nf AS (SELECT doc_id, COUNT(*) AS nf FROM e GROUP BY doc_id),
        rare AS (
            SELECT fp FROM e GROUP BY fp
            HAVING COUNT(*) <= {_WINNOW_DF_CAP}
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
            FROM e a
            JOIN rare USING (fp)
            JOIN e b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT p.doc_a, p.doc_b,
               CAST(p.shared AS BIGINT) AS shared_fps,
               round(p.shared / CAST(least(na.nf, nb.nf) AS DOUBLE), 6)
                   AS containment
        FROM pairs p
        JOIN nf na ON na.doc_id = p.doc_a
        JOIN nf nb ON nb.doc_id = p.doc_b
        WHERE p.shared >= 2
    """,
    tags=("llm", "dedup", "J2"),
    doc="Partial-overlap detection via shared winnowing fingerprints "
        "(the MOSS pairing step): distinct per-doc fingerprints "
        "self-joined on the fingerprint value (inverted index), pairs "
        "sharing >= 2 fingerprints reported with containment = "
        "shared/min(|fps|). Detects SHARED PASSAGES, not just whole-"
        "document near-duplicates — complementary to MinHash/SimHash "
        "which dilute small overlaps away. Scale shape: fingerprints "
        f"seen in more than {_WINNOW_DF_CAP} docs are culled BEFORE "
        "the join (MOSS's over-common cull — boilerplate is not "
        "overlap signal), capping per-key fan-out so pair volume is "
        "candidate-bounded, never all-pairs; the cull is part of the "
        "operator's definition and applied identically in the oracle.",
)
def dedup_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pins import fresh_pins, pin

    docs = read_table(spark, sf_dir, "documents")
    fresh_pins()
    e = pin(_winnow_fp_rows(docs).select("doc_id", F.col("wmin").alias("fp")).distinct())
    nf = e.groupBy("doc_id").agg(F.count("*").alias("nf"))
    rare = (
        e.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= _WINNOW_DF_CAP)
        .select("fp")
    )
    pairs = (
        e.alias("a")
        .join(rare, "fp")
        .join(e.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )
    return (
        pairs.join(F.broadcast(nf).withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nf", "nf_a"), "doc_a")
        .join(F.broadcast(nf).withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nf", "nf_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.round(
                F.col("shared_fps") / F.least("nf_a", "nf_b").cast("double"), 6
            ).alias("containment"),
        )
    )


@register(
    "ann_hard_negatives",
    oracle=_o_srp_sig_cte() + """
        , nd AS (
            SELECT a.doc AS id_a, b.doc AS id_b
            FROM sig a JOIN sig b ON a.doc < b.doc
            WHERE bit_count(xor(a.srp_sig, b.srp_sig)) <= 12
              AND list_cosine_similarity(a.v, b.v) >= 0.4
        ),
        q AS (SELECT doc, v FROM sig WHERE doc < 10),
        scored AS (
            SELECT query_id, neighbor_id, score FROM (
                SELECT q.doc AS query_id, s.doc AS neighbor_id,
                       list_cosine_similarity(q.v, s.v) AS score,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.doc
                           ORDER BY list_cosine_similarity(q.v, s.v) DESC, s.doc
                       ) AS rank
                FROM sig s, q WHERE s.doc <> q.doc
            ) WHERE rank <= 10
        ),
        filt AS (
            SELECT * FROM scored s
            WHERE NOT EXISTS (
                SELECT 1 FROM nd
                WHERE nd.id_a = least(s.query_id, s.neighbor_id)
                  AND nd.id_b = greatest(s.query_id, s.neighbor_id)
            )
        )
        SELECT query_id, neighbor_id, hn_rank, score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS hn_rank FROM filt
        ) WHERE hn_rank <= 5
    """,
    tags=("llm", "similarity", "lsh", "J7"),
    doc="Contrastive hard-negative mining (the retrieval-training "
        "recipe): per query, the exact top-10 cosine neighbors MINUS "
        "any SRP-verified near-duplicate pair (a near-dup is a false "
        "negative — excluding it is the standard contrastive-batch "
        "hygiene step), re-ranked to the 5 hardest surviving "
        "negatives. Pure composition of existing operators: broadcast-"
        "query exact top-k ⋈ anti-join against the candidate-bounded "
        "SRP pair set at a widened radius (hamming <= 12 of 32 — the "
        "near-dup screen errs on recall here because a missed near-dup "
        "poisons training; at production scale widen nbits instead of "
        "coarsening blocks), then a "
        "query-partitioned re-rank over <= 10 rows — no new shuffle "
        "shapes.",
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    topk = S.brute_force_topk(emb, emb.filter("vec_id < 10"), k=10)
    nd = S.srp_near_pairs(emb, max_hamming=12).select(
        F.col("id_a"), F.col("id_b")
    )
    keyed = topk.select(
        "*",
        F.least("query_id", "neighbor_id").alias("id_a"),
        F.greatest("query_id", "neighbor_id").alias("id_b"),
    )
    filt = keyed.join(F.broadcast(nd), ["id_a", "id_b"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        filt.withColumn("hn_rank", F.row_number().over(w))
        .filter(F.col("hn_rank") <= 5)
        .select("query_id", "neighbor_id", "hn_rank", "score")
    )


# PCA power-iteration parameters (operator: similarity.pca_top_component)
_PCA_ITERS = 4
_PCA_QUANT = 10_000


def _o_pca_iter(
    prev: str, t: int, mat: str = "a", val: str = "aij", pfx: str = "v",
    ortho: str | None = None,
) -> str:
    """One unrolled power-iteration round (mirrors the operator: u = A v,
    optional Gram-Schmidt u' = u - (u.o)o against ``ortho``, then
    v' = round(u/||u||, 6)); ``mat``/``val``/``pfx`` retarget the round
    at the deflated matrix for the top-2 oracle."""
    raw = "raw" if ortho else ""
    gs = (
        f""",
        pj{pfx}{t} AS (SELECT SUM(u.u * o.v) AS p
                       FROM u{pfx}{t}raw u JOIN {ortho} o USING (i)),
        u{pfx}{t} AS MATERIALIZED (
            SELECT u.i, u.u - p * o.v AS u
            FROM u{pfx}{t}raw u JOIN {ortho} o USING (i), pj{pfx}{t})"""
        if ortho
        else ""
    )
    return f"""
        u{pfx}{t}{raw} AS MATERIALIZED (
            SELECT m.i, SUM(m.{val} * v.v) AS u
            FROM {mat} m JOIN {prev} v ON v.i = m.j GROUP BY m.i
        ){gs},
        nr{pfx}{t} AS (SELECT sqrt(SUM(u * u)) AS nrm FROM u{pfx}{t}),
        {pfx}{t} AS MATERIALIZED (
            SELECT i, round(u / nrm, 6) AS v FROM u{pfx}{t}, nr{pfx}{t})"""


@register(
    "pca_power_iteration",
    oracle=f"""
        WITH rows_ AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * {_PCA_QUANT} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ),
        cells AS (
            SELECT vec_id, s.i AS i, q[s.i] AS qv
            FROM rows_, unnest(range(1, 65)) AS s(i)
        ),
        n1 AS (SELECT COUNT(*) AS n FROM rows_),
        sarr AS (SELECT i, SUM(qv) AS s FROM cells GROUP BY i),
        g AS (
            SELECT a.i AS i, b.i AS j, SUM(a.qv * b.qv) AS g
            FROM cells a JOIN cells b USING (vec_id)
            GROUP BY 1, 2
        ),
        a AS MATERIALIZED (
            SELECT g.i, g.j,
                   (SELECT n FROM n1) * g.g - sa.s * sb.s AS aij
            FROM g
            JOIN sarr sa ON sa.i = g.i
            JOIN sarr sb ON sb.i = g.j
        ),
        v0 AS (SELECT s.i AS i, 0.125 AS v FROM unnest(range(1, 65)) AS s(i)),
        {_o_pca_iter("v0", 1)},
        {_o_pca_iter("v1", 2)},
        {_o_pca_iter("v2", 3)},
        {_o_pca_iter("v3", 4)},
        num_ AS (
            SELECT SUM(vi.v * a.aij * vj.v) AS num
            FROM a JOIN v4 vi ON vi.i = a.i JOIN v4 vj ON vj.i = a.j
        ),
        den_ AS (SELECT SUM(v * v) AS den FROM v4),
        tr AS (SELECT SUM(aij) AS trace FROM a WHERE i = j)
        SELECT CAST(v4.i AS INT) AS pos, v4.v AS loading,
               round(num / (den * trace), 6) AS explained_ratio
        FROM v4, num_, den_, tr
    """,
    tags=("llm", "similarity", "pca", "iterative"),
    doc=f"Top principal component of the embedding cloud by "
        f"{_PCA_ITERS}-round power iteration — the whitening/"
        "dimensionality diagnostic of an embedding pipeline. Third "
        "member of the deterministic-iteration family: the scaled "
        "covariance A = n·G − S·Sᵀ is EXACT BIGINT arithmetic on "
        f"{_PCA_QUANT}-quantized coordinates (one map-side dim² pair "
        "expansion, partially aggregated before a 4096-cell shuffle; "
        "A localCheckpoint-ed once), and each round re-synchronizes "
        "the eigvec to 6 decimals after L2 normalization (the k-means "
        "rounding trick) so the ITERATIVE fit matches the unrolled-CTE "
        "oracle. Rounds are broadcasts of the 64-row eigvec against "
        "the 4096-row A — no further corpus scans. Output is the "
        "loading vector + the scale-free explained-variance ratio "
        "(the raw ~1e12 eigenvalue would not hash stably; the ratio "
        "does). operators/similarity.py::pca_top_component.",
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.pca_top_component(emb, iters=_PCA_ITERS, quant=_PCA_QUANT)


@register(
    "pca_top2_deflation",
    oracle=f"""
        WITH rows_ AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * {_PCA_QUANT} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ),
        cells AS (
            SELECT vec_id, s.i AS i, q[s.i] AS qv
            FROM rows_, unnest(range(1, 65)) AS s(i)
        ),
        n1 AS (SELECT COUNT(*) AS n FROM rows_),
        sarr AS (SELECT i, SUM(qv) AS s FROM cells GROUP BY i),
        g AS (
            SELECT a.i AS i, b.i AS j, SUM(a.qv * b.qv) AS g
            FROM cells a JOIN cells b USING (vec_id)
            GROUP BY 1, 2
        ),
        a AS MATERIALIZED (
            SELECT g.i, g.j,
                   (SELECT n FROM n1) * g.g - sa.s * sb.s AS aij
            FROM g
            JOIN sarr sa ON sa.i = g.i
            JOIN sarr sb ON sb.i = g.j
        ),
        tr AS (SELECT SUM(aij) AS trace FROM a WHERE i = j),
        v0 AS (SELECT s.i AS i, 0.125 AS v FROM unnest(range(1, 65)) AS s(i)),
        {_o_pca_iter("v0", 1)},
        {_o_pca_iter("v1", 2)},
        {_o_pca_iter("v2", 3)},
        {_o_pca_iter("v3", 4)},
        num1 AS (
            SELECT SUM(vi.v * a.aij * vj.v) AS num
            FROM a JOIN v4 vi ON vi.i = a.i JOIN v4 vj ON vj.i = a.j
        ),
        den1 AS (SELECT SUM(v * v) AS den FROM v4),
        r1 AS (SELECT round(num / (den * trace), 6) AS r FROM num1, den1, tr),
        lam AS (SELECT r * trace AS lam FROM r1, tr),
        a2 AS MATERIALIZED (
            SELECT a.i, a.j, a.aij - lam.lam * vi.v * vj.v AS a2ij
            FROM a
            JOIN v4 vi ON vi.i = a.i
            JOIN v4 vj ON vj.i = a.j
            CROSS JOIN lam
        ),
        w0 AS (SELECT s.i AS i, 0.125 AS v FROM unnest(range(1, 65)) AS s(i)),
        {_o_pca_iter("w0", 1, mat="a2", val="a2ij", pfx="w", ortho="v4")},
        {_o_pca_iter("w1", 2, mat="a2", val="a2ij", pfx="w", ortho="v4")},
        {_o_pca_iter("w2", 3, mat="a2", val="a2ij", pfx="w", ortho="v4")},
        {_o_pca_iter("w3", 4, mat="a2", val="a2ij", pfx="w", ortho="v4")},
        num2 AS (
            SELECT SUM(vi.v * a2.a2ij * vj.v) AS num
            FROM a2 JOIN w4 vi ON vi.i = a2.i JOIN w4 vj ON vj.i = a2.j
        ),
        den2 AS (SELECT SUM(v * v) AS den FROM w4),
        r2 AS (SELECT round(num / (den * trace), 6) AS r FROM num2, den2, tr)
        SELECT CAST(v4.i AS INT) AS pos, v4.v AS loading1, w4.v AS loading2,
               r1.r AS ratio1, r2.r AS ratio2
        FROM v4 JOIN w4 ON w4.i = v4.i, r1, r2
    """,
    tags=("llm", "similarity", "pca", "iterative"),
    doc="Top TWO principal components by power iteration + Hotelling "
        "deflation — extends pca_power_iteration to rank 2: after the "
        "first eigvec converges, the second iteration runs on A2 = A - "
        "lambda1 v1 v1^T, with lambda1 recovered from the ROUNDED "
        "Rayleigh ratio times the exact-integer trace so every deflated "
        "cell is one fixed IEEE expression over exact ints and 6-dec "
        "loadings — no float accumulation enters the matrix, and the "
        "8-round (4+4) ITERATIVE fit still matches the unrolled-CTE "
        "oracle bit-for-bit. Both explained ratios share the original "
        "trace denominator, so ratio1+ratio2 is the cumulative top-2 "
        "variance share. Scale shape identical to the top-1 fit; the "
        "deflated 4096-cell matrix is checkpointed once, the second "
        "fit re-scans nothing. operators/similarity.py::"
        "pca_top2_components; orthogonality pinned in "
        "tests/test_stats.py.",
)
def pca_top2_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.pca_top2_components(emb, iters=_PCA_ITERS, quant=_PCA_QUANT)


def _o_minhash_audit() -> str:
    """Oracle for the estimator audit: full MinHash signatures, banding
    predicate, and candidate-bounded exact intersections in SQL."""
    from ..operators.dedup import MINHASH_PRIME, minhash_coefficients

    coeffs = minhash_coefficients(32)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    bands = " OR ".join(
        f"(a.m{2 * b} = b.m{2 * b} AND a.m{2 * b + 1} = b.m{2 * b + 1})"
        for b in range(16)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(32)
    )
    return f"""
        WITH sh AS (
            SELECT DISTINCT doc_id AS doc, unnest({T.o_shingles('text', 2)}) AS g
            FROM documents
        ),
        sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
        hh AS (SELECT doc, {T.o_md5_long('g', 7)} AS h FROM sh),
        sig AS (
            SELECT doc,
               {mins}
            FROM hh GROUP BY doc
        ),
        pairs AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b,
                   {matches} AS est_matches
            FROM sig a JOIN sig b ON a.doc < b.doc
            WHERE {bands}
        ),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.g = b.g AND a.doc < b.doc
            GROUP BY 1, 2
        ),
        per AS (
            SELECT p.est_matches,
                   COALESCE(i.inter, 0) AS inter,
                   sa.sz + sb.sz - COALESCE(i.inter, 0) AS un
            FROM pairs p
            LEFT JOIN inter i USING (doc_a, doc_b)
            JOIN sizes sa ON sa.doc = p.doc_a
            JOIN sizes sb ON sb.doc = p.doc_b
        )
        SELECT CAST(est_matches AS INT) AS est_matches,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(inter) AS BIGINT) AS sum_inter,
               CAST(SUM(un) AS BIGINT) AS sum_union,
               CAST(SUM(inter) AS DOUBLE) / SUM(un) AS pooled_jaccard
        FROM per GROUP BY est_matches
    """


@register(
    "dedup_minhash_estimate_audit",
    oracle=_o_minhash_audit(),
    tags=("llm", "dedup", "lsh", "audit"),
    doc="MinHash estimator calibration — the quality gate an approximate "
        "dedup index publishes (the recall-audit symmetry of "
        "ann_ivf_recall_audit, applied to the Jaccard ESTIMATOR): every "
        "LSH candidate pair is bucketed by its signature-agreement "
        "count (0..32 matching components) and each bucket reports the "
        "POOLED exact Jaccard sum(|∩|)/sum(|∪|) — so the audit shows "
        "how the est=k/32 curve tracks the true similarity, including "
        "the banding's false-positive floor (candidate pairs with "
        "zero shared shingles land in the low-agreement buckets with "
        "pooled J near 0). Exactness: agreement counts and "
        "intersection/union sizes are exact integers; the pooled ratio "
        "is ONE IEEE division, never a rounded quotient or a float "
        "mean of per-pair ratios. Scale shape: signatures shuffle n "
        "longs/doc, banding bounds the pair space, and the exact "
        "intersections join shingles only for candidate pairs.",
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pins import fresh_pins, pin

    sh = _doc_shingles(spark, sf_dir)
    # pin the doc-cardinality signature frame (r12): it feeds the band
    # join and both estimator-join sides — 3 executions of the 32-way
    # min-hash aggregation without it (OPTIMIZATION_r12.md)
    fresh_pins()
    sigs = pin(D.minhash_signatures_from_shingles(sh, 32))
    # pin the candidate pairs too (r13 — guide §1.2): they feed the
    # doc-prune below AND the per-pair join, so the band self-join +
    # distinct would otherwise execute twice per run
    cands = pin(D.lsh_candidate_pairs(sigs, 16))
    # r13 (guide §2.3/§3.2): the exact
    # intersections used to be a g-keyed join — cands ⋈ shingles(doc_a)
    # ⋈ shingles(doc_b) — that shuffled the FULL shingle table plus the
    # candidate-expanded probe on (doc_b, g) (the before-plan's
    # SortMergeJoin; the entry's 3-8s variance lived in that exchange).
    # Only candidate-matched docs can contribute, so: semi-join-prune
    # the shingle set to candidate docs FIRST, fold each surviving
    # doc's shingles into ONE sorted-array row, and compute
    # |∩| via array_intersect per candidate pair — the exact same
    # distinct-shingle counts (shingle_set rows are distinct), with the
    # shuffle carrying candidate docs' sets once instead of every
    # (pair × shingle) row. Same shape as the r12 triangle closing.
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc"))
        .union(cands.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    docsets = (
        sh.join(cand_docs, "doc", "left_semi")
        .groupBy("doc")
        .agg(
            F.array_sort(F.collect_set("g")).alias("gs"),
            F.count("*").cast("long").alias("sz"),
        )
    )
    side = docsets.join(
        sigs.select(
            "doc", F.array(*[F.col(f"m{i}") for i in range(32)]).alias("sig")
        ),
        "doc",
    )
    per = (
        cands.join(
            side.select(
                F.col("doc").alias("doc_a"), F.col("gs").alias("gs_a"),
                F.col("sz").alias("sz_a"), F.col("sig").alias("sig_a"),
            ),
            "doc_a",
        )
        .join(
            side.select(
                F.col("doc").alias("doc_b"), F.col("gs").alias("gs_b"),
                F.col("sz").alias("sz_b"), F.col("sig").alias("sig_b"),
            ),
            "doc_b",
        )
        .select(
            F.expr(
                "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
            ).alias("est_matches"),
            F.size(F.array_intersect("gs_a", "gs_b")).cast("long").alias("inter"),
            (F.col("sz_a") + F.col("sz_b")).alias("_sz_sum"),
        )
        .select(
            "est_matches",
            "inter",
            (F.col("_sz_sum") - F.col("inter")).alias("un"),
        )
    )
    return per.groupBy("est_matches").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("inter").cast("long").alias("sum_inter"),
        F.sum("un").cast("long").alias("sum_union"),
        (F.sum("inter").cast("double") / F.sum("un")).alias("pooled_jaccard"),
    ).select(
        F.col("est_matches").cast("int").alias("est_matches"),
        "n_pairs",
        "sum_inter",
        "sum_union",
        "pooled_jaccard",
    )


@register(
    "dedup_substring_spans",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x != '') AS arr
            FROM documents
        ),
        g AS (
            -- per-row lateral unnest: positions 0..len-5 derived from
            -- EACH document's own length (a constant range() bound
            -- would silently diverge for documents longer than it)
            SELECT doc_id, i.i AS pos,
                   array_to_string(list_slice(arr, i.i + 1, i.i + 5), ' ') AS gram
            FROM d, unnest(range(0, greatest(len(arr) - 4, 0))) i(i)
        ),
        dup AS (
            SELECT gram FROM g GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        p AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
            FROM (SELECT * FROM g JOIN dup USING (gram)) a
            JOIN (SELECT * FROM g JOIN dup USING (gram)) b USING (gram)
            WHERE a.doc_id < b.doc_id
        ),
        runs AS (
            SELECT d1, d2, p1 - p2 AS diag, p1, p2,
                   p1 - ROW_NUMBER() OVER (
                       PARTITION BY d1, d2, p1 - p2 ORDER BY p1
                   ) AS grp
            FROM p
        )
        SELECT d1, d2,
               CAST(MIN(p1) AS INTEGER) AS start1,
               CAST(MIN(p2) AS INTEGER) AS start2,
               CAST(COUNT(*) + 4 AS BIGINT) AS span_words
        FROM runs GROUP BY d1, d2, diag, grp
        HAVING COUNT(*) + 4 >= 20
    """,
    tags=("llm", "dedup", "substring", "exact_substr"),
    doc="EXACT-SUBSTRING duplicate spans (r9) — the ExactSubstr method "
        "of Lee et al. 2022, whose published remedy is cutting the "
        "duplicated SPAN, not dropping the document; their single-node "
        "suffix array becomes a distributed shingle-diagonal plan "
        "(operators/dedup.py::substring_spans): positioned 5-grams -> "
        "inverted-index prune to grams in >=2 docs -> positioned "
        "self-join -> per-(pair, diagonal) window turns consecutive "
        "shared grams into maximal runs -> spans >= 20 words with both "
        "docs' word offsets. Complements the existing near-dup family: "
        "MinHash/SimHash judge whole documents; this finds the exact "
        "copied passage inside otherwise-different ones. All-pairs "
        "work is bounded by duplicated mass (the inverted index), "
        "fan-out by per-gram doc frequency (max_df cap documented for "
        "boilerplate skew at 100 TB). The DuckDB oracle replays the "
        "identical definition from raw text — every span boundary and "
        "length must match exactly.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.substring_spans(docs, k=5, min_words=20).select(
        "d1", "d2",
        F.col("start1").cast("int").alias("start1"),
        F.col("start2").cast("int").alias("start2"),
        "span_words",
    )
