"""The one query-run path, ``plans.queries.run``: construct, execute,
release. Every intermediate a query persists through
``operators._scoped.bounded_intermediate`` is unpersisted when its run
ends, so a long-lived session's CacheManager does not grow with the
queries it has run. Outside a run (or any ``cache_scope``) the persist
belongs to the caller."""

import pytest
from pyspark.storagelevel import StorageLevel

from data_pipeline_001_spark.operators._scoped import (
    bounded_intermediate,
    cache_scope,
)
from data_pipeline_001_spark.plans.queries import run

SF = "/root/testdata/sf0.001"

#: run in this order in one session; every one but dedup_simhash
#: persists bounded intermediates (simhash checks an empty scope)
SEQUENCE = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "graph_triangle_stats",
    "text_line_dedup",
    "dedup_incremental_near",
    "embedding_covariance",
)
PERSISTS_NOTHING = {"dedup_simhash"}


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_run_leaves_the_cache_empty_after_every_query(spark, registry):
    spark.catalog.clearCache()  # entries earlier tests left outside a scope
    for name in SEQUENCE:
        # built outside a scope, the query's persists stay registered:
        # it does have intermediates for run to release
        registry[name](spark, SF)
        assert _cache_empty(spark) == (name in PERSISTS_NOTHING), name
        spark.catalog.clearCache()

        r = run(spark, registry[name], SF, "noop")
        assert _cache_empty(spark), f"{name} left cache entries after run"
        assert r.construct_s > 0 and r.execute_s > 0 and r.frame is None


def test_run_pandas_sink_returns_the_result(spark, registry):
    r = run(spark, registry["embedding_covariance"], SF, "pandas")
    assert len(r.frame) > 0 and list(r.frame.columns) == ["dim_i", "dim_j", "cov"]
    assert _cache_empty(spark)
    with pytest.raises(ValueError, match="unknown sink"):
        run(spark, registry["embedding_covariance"], SF, "parquet")


def test_run_releases_when_the_query_fails(spark):
    def broken(spark, sf_dir):
        bounded_intermediate(spark.range(10))
        raise RuntimeError("construction failed")

    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        run(spark, broken, SF, "noop")
    assert _cache_empty(spark)


def test_bounded_intermediate_outside_a_scope_is_owned_by_the_caller(spark):
    df = bounded_intermediate(spark.range(100).selectExpr("id * 2 AS x"))
    assert df.count() == 100
    with cache_scope():  # a scope releases only what was made inside it
        inner = bounded_intermediate(spark.range(5))
        inner.count()
    assert inner.storageLevel == StorageLevel.NONE
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    df.unpersist()
    assert df.storageLevel == StorageLevel.NONE
