"""Session-level behaviour: the owner of cached intermediates
(persist / cache_scope / the query registry) and the input-split estimate."""

import pytest
from test_kmeans import SF as SF_DIR  # the sf0.001 fixture tables

import bench
from eva_opentargets_spark.queries import QUERIES
from eva_opentargets_spark.session import cache_scope, estimated_input_splits, release_last_query


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def empty_cache(spark):
    """Start from an empty CacheManager, so any entry left afterwards was
    made by the test."""
    release_last_query()
    spark.catalog.clearCache()
    return spark


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_headline_query_releases_its_caches(empty_cache, name):
    spark = empty_cache
    with cache_scope():
        QUERIES[name](spark, SF_DIR).collect()
    assert _cache_empty(spark), f"{name} left cached intermediates behind"


def test_next_registry_query_releases_the_previous_ones_caches(empty_cache):
    spark = empty_cache
    links = QUERIES["kg_links"](spark, SF_DIR)
    links.collect()
    assert not _cache_empty(spark)  # the lazy result still reads its caches
    QUERIES["tpch_q1_pricing"](spark, SF_DIR)
    assert _cache_empty(spark)


def test_estimated_input_splits_falls_back_when_stats_unknown(spark):
    # an RDD-backed frame has no size statistics (the optimizer reports
    # spark.sql.defaultSizeInBytes); its own partition count answers
    df = spark.sparkContext.parallelize([(1,), (2,), (3,)], 1).toDF(["x"])
    assert estimated_input_splits(df) == 1
