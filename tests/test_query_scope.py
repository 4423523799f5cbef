"""``util.query_scope``: one query's caches and checkpoints are gone
once its block exits, for every query of the oracle registry."""

from __future__ import annotations

import pytest

from zacks_estimates_financial_statements_spark.util import query_scope


def _cache_manager_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_query_scope_releases_caches_and_checkpoints_on_error(spark,
                                                              persisted):
    before = persisted()
    with pytest.raises(RuntimeError, match="mid-query"):
        with query_scope(spark):
            spark.range(10).persist().count()
            spark.range(5).localCheckpoint()
            assert len(persisted() - before) == 2
            raise RuntimeError("mid-query")
    assert persisted() - before == set()
    assert _cache_manager_empty(spark)


def test_registry_queries_leave_nothing_behind(spark, sf_dir, entry,
                                               persisted):
    """Every oracle query, run the bench way (noop sink) inside the
    scope, leaves no persisted RDD and no CacheManager entry."""
    leaks = {}
    for name, fn in entry.queries().items():
        before = persisted()
        with query_scope(spark):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        if persisted() - before or not _cache_manager_empty(spark):
            leaks[name] = sorted(persisted() - before)
    assert not leaks, leaks
