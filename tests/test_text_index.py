"""BM25 inverted-index lifecycle (r7): the serve scan must equal the
inline derivation, the build must be idempotent, and the serve plan
must push the query's term IN-list into the postings scan and never
tokenize the corpus."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import (
    text_index as TX,
)
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.text_mining import (
    _B,
    _K1,
    QUERY_TERMS,
    bm25_topk,
)
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.tpch import (
    read_table,
)

from .conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _served(spark):
    return TX.bm25_serve_topk(
        TX.read_artifact(spark, SF_SMOKE, "postings"),
        TX.read_artifact(spark, SF_SMOKE, "term_stats"),
        TX.read_artifact(spark, SF_SMOKE, "stats"),
        QUERY_TERMS, k=10, k1=_K1, b=_B,
    )


def test_build_is_idempotent_and_marked(spark):
    root = TX.build_bm25_index(spark, SF_SMOKE)
    assert os.path.exists(os.path.join(root, "_COMPLETE"))
    for name in TX.ARTIFACTS:
        assert os.path.isdir(os.path.join(root, name)), name
    mtime = os.path.getmtime(os.path.join(root, "_COMPLETE"))
    assert TX.build_bm25_index(spark, SF_SMOKE) == root
    assert os.path.getmtime(os.path.join(root, "_COMPLETE")) == mtime


def test_serve_equals_inline(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    assert _rows(_served(spark)) == _rows(bm25_topk(docs, QUERY_TERMS, k=10))


def test_serve_plan_pushes_terms_and_never_tokenizes(spark):
    buf = io.StringIO()
    with redirect_stdout(buf):
        _served(spark).explain(mode="formatted")
    plan = buf.getvalue()
    assert "bm25_index" in plan  # reads the persisted artifacts
    # the literal IN-list reaches the postings parquet scan
    assert "PushedFilters" in plan and "In(term" in plan, plan
    # no tokenization at serve time: the regex splitter never appears
    assert "regexp_replace" not in plan
