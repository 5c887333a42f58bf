"""Deployment profiles (r16, VERDICT-r15 #5): the production scale
settings live in code, the local default adds nothing to the base
confs. The codegen cache size of the base confs binds in a real
session, and a static conf that could not bind is not silent."""

import warnings
from concurrent.futures import ThreadPoolExecutor

import pytest

from hillview_spark.session import PROFILES, get_spark


def test_local_profile_adds_nothing():
    # a local session runs get_spark's base confs alone: "local" is
    # required to be a no-op on top of them
    assert PROFILES["local"] == {}


def test_production_profile_pins_documented_values():
    p = PROFILES["production"]
    # measured r15 (tools/ab_aqe_r15.py): the 100-TB coalescing
    # policy — and the reason it must NOT leak into local defaults
    assert (
        p["spark.sql.adaptive.coalescePartitions.parallelismFirst"]
        == "false"
    )
    assert p["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "256m"
    assert p["spark.sql.files.maxPartitionBytes"] == "512m"
    assert p["spark.sql.parquet.compression.codec"] == "zstd"
    assert p["spark.sql.execution.arrow.maxRecordsPerBatch"] == "10000"


def test_unknown_profile_fails_loudly(monkeypatch):
    with pytest.raises(ValueError, match="unknown deployment profile"):
        get_spark(profile="staging")
    # the env var path takes the same gate
    monkeypatch.setenv("SPARK_GRAFT_PROFILE", "nonsense")
    with pytest.raises(ValueError, match="unknown deployment profile"):
        get_spark()


def _compilations(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_session_working_set(spark):
    # the conf bound when the session booted ...
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"

    # ... and the cache it sizes keeps a class compiled across more
    # than 100 other new ones: Spark's default of 100 entries evicts
    # the first query's classes here and compiles them again
    def first():
        return spark.range(8, numPartitions=1).selectExpr(
            "id * 7 + 3 AS x").agg({"x": "sum"}).collect()

    def other(i):
        # a distinct literal is inlined into distinct generated code
        return spark.sql(f"SELECT id * {i} AS x FROM range(0, 1, 1, 1)").collect()

    first()
    before = _compilations(spark)
    # four client threads compile and run the 300 queries side by side
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(other, range(1000, 1300)))
    mark = _compilations(spark)
    # sanity: the distinct literals did compile new classes
    assert mark - before >= 300
    assert first() == [(sum(i * 7 + 3 for i in range(8)),)]
    assert _compilations(spark) == mark


def test_static_conf_that_did_not_bind_warns(spark):
    # the running session booted with the base confs; asking for other
    # static values cannot change them (no second JVM is started)
    with pytest.warns(UserWarning) as record:
        s = get_spark(extra_conf={
            "spark.sql.codegen.cache.maxEntries": "100",
            "spark.driver.memory": "5g",
        })
    assert s is spark
    messages = [str(w.message) for w in record]
    assert any("spark.sql.codegen.cache.maxEntries=100" in m
               for m in messages)
    assert any("spark.driver.memory=5g" in m for m in messages)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_matching_static_conf_is_silent(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert get_spark() is spark
