"""cache_scope(): a direct library consumer leaves zero pinned blocks.

Closes the carried library-consumer cache footgun (r9 verdict item 6):
query functions persist bounded intermediates their result references
lazily; harnesses clearCache() between queries, but a direct caller
had no scoped way to release them. ``with cache_scope():`` unpersists
everything persisted inside the scope at exit.
"""

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark import cache_scope


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _drop_stray_persistent_rdds(spark):
    """clearCache() empties the CacheManager but NOT RDD-level
    persists — eager localCheckpoint()s from other tests' queries
    (connected components, k-means, MMR) linger until the JVM GCs
    their DataFrames, which is timing-dependent and can leave this
    session with persistent RDDs no scope ever tracked. Drop them so
    the ==0 assertions below measure the SCOPE's behavior, not
    another test's garbage-collection schedule."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        jrdd.unpersist()


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    spark.catalog.clearCache()
    _drop_stray_persistent_rdds(spark)
    yield
    spark.catalog.clearCache()
    _drop_stray_persistent_rdds(spark)


def test_registry_query_leaves_no_pinned_blocks(spark, sf_oracle):
    """A persisting registry query, run and collected inside a scope,
    leaves the session with zero cached plans and zero persistent
    RDDs after exit."""
    from filemapreduce_spark.queries import load_all

    registry = load_all()
    # neardup_minhash_lsh persists its signature base (queries/dedup.py)
    with cache_scope():
        df = registry["neardup_minhash_lsh"].fn(spark, sf_oracle)
        rows = df.collect()
        assert rows is not None
    assert _cache_manager_empty(spark)
    assert _n_cached_rdds(spark) == 0


def test_scope_releases_only_its_own_persists(spark):
    outside = spark.range(100).select((F.col("id") * 2).alias("x"))
    outside = outside.persist()
    outside.count()
    assert not _cache_manager_empty(spark)
    with cache_scope():
        inside = spark.range(50).persist()
        inside.count()
        assert _n_cached_rdds(spark) >= 2
    # the inside block is gone, the outside one survives
    assert _n_cached_rdds(spark) == 1
    assert not _cache_manager_empty(spark)
    outside.unpersist(blocking=True)
    assert _cache_manager_empty(spark)


def test_scopes_nest(spark):
    with cache_scope():
        a = spark.range(10).persist()
        a.count()
        with cache_scope():
            b = spark.range(20).persist()
            b.count()
            assert _n_cached_rdds(spark) == 2
        # inner exit drops only b
        assert _n_cached_rdds(spark) == 1
    assert _n_cached_rdds(spark) == 0


def test_other_threads_persists_not_captured(spark):
    """r10 ADVICE: the scope stack is thread-local — a thread with no
    scope of its own persists untracked even while another thread's
    scope is active, so that scope's exit cannot drop its blocks."""
    import threading

    done = threading.Event()
    release = threading.Event()
    other: dict = {}

    def worker():
        df = spark.range(77).persist()
        df.count()
        other["df"] = df
        done.set()
        release.wait(30)

    with cache_scope():
        mine = spark.range(11).persist()
        mine.count()
        th = threading.Thread(target=worker)
        th.start()
        assert done.wait(30)
        assert _n_cached_rdds(spark) == 2
    # scope exit dropped only this thread's persist
    assert _n_cached_rdds(spark) == 1
    release.set()
    th.join(30)
    other["df"].unpersist(blocking=True)
    assert _n_cached_rdds(spark) == 0


def test_overlapping_scopes_across_threads(spark):
    """Non-nested overlap: thread B opens its scope while A's is live
    and closes it after A's — the patch stays installed until the
    LAST scope exits, and each scope drops only its own persists."""
    import threading

    from filemapreduce_spark.cache import _persist_owners

    owners = _persist_owners()
    origs = {cls: cls.persist for cls in owners}
    b_open = threading.Event()
    a_closed = threading.Event()
    state: dict = {}

    def worker_b():
        with cache_scope():
            df = spark.range(33).persist()
            df.count()
            b_open.set()
            a_closed.wait(30)
            # A's scope exited while B's is live: patch must still
            # be the tracking one, and B's block must still exist
            cls = type(spark.range(1))
            state["still_patched"] = getattr(
                cls.persist, "_fmr_tracking", False
            )
            state["b_cached"] = _n_cached_rdds(spark)

    th = threading.Thread(target=worker_b)
    with cache_scope():
        a_df = spark.range(22).persist()
        a_df.count()
        th.start()
        assert b_open.wait(30)
    a_closed.set()
    th.join(30)
    assert state["still_patched"], "patch removed while a scope was live"
    assert state["b_cached"] == 1, "A's exit dropped B's block"
    # all scopes closed: originals restored, nothing pinned
    for cls, orig in origs.items():
        assert cls.persist is orig
    assert _n_cached_rdds(spark) == 0


def test_persist_restored_after_scope(spark):
    from filemapreduce_spark.cache import _persist_owners

    owners = _persist_owners()
    assert owners, "no concrete DataFrame class found to patch"
    origs = {cls: cls.persist for cls in owners}
    with cache_scope():
        # the concrete class instances actually use must be patched
        cls = type(spark.range(1))
        assert getattr(cls.persist, "_fmr_tracking", False)
    for cls, orig in origs.items():
        assert cls.persist is orig
    # plain persist outside any scope still works untracked
    df = spark.range(5).persist()
    df.count()
    assert _n_cached_rdds(spark) == 1
    df.unpersist(blocking=True)
