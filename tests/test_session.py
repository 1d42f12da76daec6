"""The engine JVM's options: the JIT follows the warehouse's size (C1
only with a sized code cache for a small one, tiered for a large one),
and a caller's driver Java options are appended to the engine's, not
swapped in."""

from __future__ import annotations

from pyspark.sql import SparkSession

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.session import (
    C1_MAX_WAREHOUSE_BYTES,
    C1_OPTIONS,
    TIMEZONE_OPTION,
    get_spark,
)
from harness_util import jvm_facts

KEY = "spark.driver.extraJavaOptions"


def test_caller_java_options_are_appended(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    engine = f"{TIMEZONE_OPTION} {C1_OPTIONS}"
    assert get_spark()[KEY] == engine
    opts = get_spark(extra_conf={KEY: "-Dfoo=bar", "spark.ui.enabled": "true"})
    assert opts[KEY] == engine + " -Dfoo=bar"
    assert opts["spark.ui.enabled"] == "true"
    for flag in ("-Duser.timezone=UTC", "-XX:TieredStopAtLevel=1",
                 "-XX:ReservedCodeCacheSize=240m"):
        assert flag in opts[KEY].split()


def test_jit_follows_the_warehouse_size(monkeypatch, tmp_path):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    small, large = tmp_path / "small", tmp_path / "large"
    for d, size in ((small, C1_MAX_WAREHOUSE_BYTES), (large, C1_MAX_WAREHOUSE_BYTES + 1)):
        d.mkdir()
        with open(d / "lineitem.parquet", "wb") as f:
            f.truncate(size)  # sparse: the size is on record, not on disk
    assert get_spark(sf_dir=str(small))[KEY] == f"{TIMEZONE_OPTION} {C1_OPTIONS}"
    assert get_spark(sf_dir=str(large))[KEY] == TIMEZONE_OPTION
    opts = get_spark(sf_dir=str(large), extra_conf={KEY: "-Dfoo=bar"})
    assert opts[KEY] == TIMEZONE_OPTION + " -Dfoo=bar"


def test_session_jvm_runs_c1_only_with_a_240mb_code_cache(spark):
    facts = jvm_facts(spark)
    assert "-XX:TieredStopAtLevel=1" in facts["jit_flags"]
    assert facts["compile_ms"] > 0
    cache = facts["code_cache_mb"]
    assert 0 < cache["used"] <= cache["peak"] <= cache["max"] and cache["max"] >= 240
