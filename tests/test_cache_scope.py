"""io.cache_scope / io.cached: the one cache-lifetime mechanism.

Unit cases pin the scope rules; gate cases pin that a gate built and
collected inside a scope leaves the CacheManager empty. (The CacheManager,
not getPersistentRDDs(): the latter also counts localCheckpoint RDDs,
which cut lineage and are not cache lifetimes.)
"""

from __future__ import annotations

import pytest

from meteor_spark.io import cache_scope, cached


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean(spark):
    from meteor_spark.queries import _SHARED

    _SHARED.clear()
    spark.catalog.clearCache()
    yield spark
    spark.catalog.clearCache()


def test_nested_scopes_release_only_their_own(clean):
    with cache_scope():
        outer = cached(clean.range(3))
        with cache_scope():
            inner = cached(clean.range(4))
        assert not inner.is_cached
        assert outer.is_cached
    assert not outer.is_cached
    assert _cache_empty(clean)


def test_exception_inside_scope_still_releases(clean):
    with pytest.raises(RuntimeError):
        with cache_scope():
            df = cached(clean.range(6))
            df.count()
            raise RuntimeError("boom")
    assert not df.is_cached
    assert _cache_empty(clean)


def test_cached_outside_scope_stays_persisted(clean):
    df = cached(clean.range(7))
    assert df.is_cached
    with cache_scope():
        pass  # a scope opened later does not adopt it
    assert df.is_cached
    df.unpersist()


def test_early_unpersist_is_harmless(clean):
    with cache_scope():
        a = cached(clean.range(8))
        b = cached(clean.range(9))
        a.unpersist()
        assert not a.is_cached and b.is_cached
    assert _cache_empty(clean)


def test_scope_covers_only_its_own_thread(clean):
    # concurrent Agent.run calls each own a scope; another thread's
    # frame never lands in this one
    from concurrent.futures import ThreadPoolExecutor

    with cache_scope():
        mine = cached(clean.range(10))
        with ThreadPoolExecutor(max_workers=1) as pool:
            theirs = pool.submit(lambda: cached(clean.range(11))).result(timeout=60)
    assert not mine.is_cached
    assert theirs.is_cached
    theirs.unpersist()


def test_pagerank_empty_graph_releases(clean):
    # the empty-graph early return releases the nodes cache too
    from meteor_spark.operators.graph import pagerank

    edges = clean.createDataFrame([], "src string, dst string, w double")
    with cache_scope():
        assert pagerank(edges).collect() == []
    assert _cache_empty(clean)


def test_power_iteration_no_vectors_releases(clean):
    # the no-vector early return releases the base cache too
    from meteor_spark.operators.similarity import power_iteration_pc1

    df = clean.createDataFrame([(1, None), (2, None)], "vec_id long, embedding array<double>")
    with cache_scope():
        assert power_iteration_pc1(df).collect() == []
    assert _cache_empty(clean)


# the nine perfbench gate_sweep gates, plus the three whose operators
# return a lazy result over a cache the caller's scope must release
GATES = (
    "prefix_filter_jaccard_pairs",
    "doc_containment_pairs",
    "workload_table_pagerank",
    "neardup_store_compaction",
    "streaming_hourly_rollup",
    "streaming_click_attribution",
    "profile_lineitem",
    "profile_lineitem_approx",
    "bm25_search_topk",
    "source_overlap_hll_estimate",
    "user_tcloseness_census",
    "bitext_margin_pairs",
)


@pytest.mark.parametrize("gate", GATES)
def test_gate_in_scope_leaves_no_cache(clean, sf_dir, gate):
    from meteor_spark.queries import QUERIES

    with cache_scope():
        QUERIES[gate](clean, sf_dir).collect()
    assert _cache_empty(clean)
