"""Cache-lifecycle contract: query-scoped deferred release (bench path
pays no extra job, composed sub-plans keep their caches, long sessions
get bounded executor storage, re-runs stay warm)."""

from __future__ import annotations

import logging

import pyspark.sql.functions as F

from gmallrealtime02_spark import caching
from gmallrealtime02_spark.caching import begin_query, materialized, release_pending


def _is_cached(df) -> bool:
    # storageLevel reads the live CacheManager entry for this plan, so it
    # flips back to NONE after unpersist — absolute getPersistentRDDs
    # counts are useless in the shared-session test suite
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_materialized_is_lazy_and_defers_release(spark):
    release_pending()
    begin_query()
    base = spark.range(100).withColumn("v", F.col("id") * 2)
    cache = base.persist()
    result = materialized(cache.groupBy((F.col("id") % 10).alias("k")).count(), cache)
    # no eager job: the returned plan stays lazy; caller executes
    assert result.count() == 10
    assert _is_cached(cache)
    # the NEXT query's first materialized() drains the queue
    begin_query()
    out2 = materialized(spark.range(5).select(F.sum("id").alias("s")))
    assert out2.collect()[0][0] == 10
    assert not _is_cached(cache)


def test_composed_subplans_keep_caches_within_one_query(spark):
    """A query built from SEVERAL materialized sub-plans (dedup_eval
    shape) must keep every sub-plan's cache until the caller executes:
    draining on the call instead of at the query boundary re-ran the
    whole first sub-pipeline once per consumer (observed: dedup_eval
    5.2 → 18.4 s and growing per run)."""
    release_pending()
    begin_query()
    c1 = spark.range(50).withColumn("a", F.col("id") % 5).persist()
    r1 = materialized(c1.groupBy("a").count(), c1)
    c2 = spark.range(60).withColumn("b", F.col("id") % 6).persist()
    r2 = materialized(c2.groupBy("b").count(), c2)
    assert _is_cached(c1), "sub-plan #2's exit must not drain sub-plan #1"
    assert _is_cached(c2)
    assert r1.count() == 5 and r2.count() == 6
    begin_query()
    materialized(spark.range(3).select(F.count("*").alias("n")))
    assert not _is_cached(c1) and not _is_cached(c2)


def test_materialized_rerun_transfers_cache_ownership(spark):
    """Re-running the same query re-registers a semantically identical
    persist; the drain must NOT evict the shared CacheManager entry out
    from under the new plan (that recompute cost the round-4 bench +61%
    on dedup_minhash_lsh)."""
    release_pending()

    def build():
        begin_query()
        cache = spark.range(200).withColumn("v", F.col("id") * 3).persist()
        agg = cache.groupBy((F.col("id") % 7).alias("k")).agg(F.sum("v").alias("s"))
        return materialized(agg, cache), cache

    r1, c1 = build()
    assert r1.count() == 7  # populates the cache
    r2, c2 = build()  # same plan → drain must keep the entry
    assert _is_cached(c2), "shared cache entry evicted by the drain"
    assert r2.count() == 7
    # a DIFFERENT next query does release it
    begin_query()
    materialized(spark.range(3).select(F.count("*").alias("n")))
    assert not _is_cached(c2)


def test_registry_wrapper_marks_query_boundary(spark, sf_dir):
    """Registered query fns bump the generation on entry — the protocol
    the whole design hangs on; a registry refactor that drops the
    wrapper silently reverts to the unbounded-storage behavior."""
    from gmallrealtime02_spark.plans.registry import load_all

    release_pending()
    gen_before = caching._GEN
    load_all()["dedup_exact"].fn(spark, sf_dir).count()
    assert caching._GEN > gen_before


def test_release_pending_survives_stopped_caches(spark):
    release_pending()
    cache = spark.range(10).persist()
    cache.count()
    caching._PENDING.append((caching._GEN, cache))
    cache.unpersist()  # already gone — drain must not raise
    release_pending()
    assert not caching._PENDING


class _Unreleasable:
    """A queued cache whose release fails."""

    def __init__(self, hashable: bool = True) -> None:
        self.hashable = hashable

    def semanticHash(self) -> int:
        if not self.hashable:
            raise RuntimeError("no plan")
        return -1

    def unpersist(self) -> None:
        raise RuntimeError("session stopped")


def test_release_failures_are_logged(spark, caplog):
    """Each swallowed release failure logs a WARNING with the exception
    attached; the drain itself still neither raises nor keeps the
    failed entry."""
    release_pending()
    caplog.set_level(logging.WARNING, logger=caching.__name__)
    caching._PENDING.append((caching._GEN, _Unreleasable()))
    release_pending()
    assert not caching._PENDING

    caching._PENDING.append((caching._GEN, _Unreleasable()))
    caching._PENDING.append((caching._GEN, _Unreleasable(hashable=False)))
    begin_query()
    out = materialized(spark.range(3), _Unreleasable(hashable=False))
    assert out.count() == 3
    assert len(caching._PENDING) == 1  # the new cache, queued as before
    caching._PENDING.clear()

    logged = [r for r in caplog.records if r.name == caching.__name__]
    assert sorted(r.getMessage() for r in logged) == [
        "materialized: semanticHash of a new cache failed",
        "materialized: semanticHash of a queued cache failed",
        "materialized: unpersist failed",
        "release_pending: unpersist failed",
    ]
    assert all(r.levelno == logging.WARNING and r.exc_info for r in logged)


def test_kmeans_fit_session_memo(spark, sf_dir):
    """kmeans_fit memo: a repeat call with the same (input plan, k,
    iters) returns the SAME checkpointed assignment and codebook (no
    second Lloyd run), a different k misses, and values are unchanged
    by the memo (the fit is a pure function of its key)."""
    from gmallrealtime02_spark.functions import clustering as CL
    from gmallrealtime02_spark.sources import load_table

    CL._KMEANS_MEMO.clear()
    emb = load_table(spark, sf_dir, "embeddings")
    a1, c1 = CL.kmeans_fit(emb, k=4, iters=2)
    a2, c2 = CL.kmeans_fit(emb, k=4, iters=2)
    assert a2 is a1 and c2 is c1  # memo hit, no re-fit
    a3, c3 = CL.kmeans_fit(emb, k=5, iters=2)
    assert a3 is not a1  # different key -> fresh fit
    # memoized values match a fresh un-memoized fit
    fresh, fresh_c = CL._kmeans_fit_impl(emb, 4, 2, "vec_id")
    got = sorted((r.vec_id, r.cid) for r in a1.collect())
    want = sorted((r.vec_id, r.cid) for r in fresh.collect())
    assert got == want
    assert c1 == fresh_c
    CL._KMEANS_MEMO.clear()


def test_fit_corpus_cache_deferred_until_next_query(spark, sf_dir):
    """kmeans_fit queues its Lloyd corpus cache for DEFERRED release
    (caching.queue_release) instead of unpersisting on exit, so the lazy
    localCheckpoint's first materialization reuses the cache; the queue
    drains at the next query boundary's materialized() exit."""
    from gmallrealtime02_spark.functions import clustering as CL
    from gmallrealtime02_spark.sources import load_table

    release_pending()
    CL._KMEANS_MEMO.clear()
    emb = load_table(spark, sf_dir, "embeddings")
    begin_query()
    a, _ = CL.kmeans_fit(emb, k=4, iters=2)
    assert caching._PENDING, "fit must queue its corpus cache"
    queued = [c for _, c in caching._PENDING]
    assert any(_is_cached(c) for c in queued)
    a.count()  # first consumer: checkpoint materializes against the cache
    begin_query()
    materialized(spark.range(1))
    assert all(not _is_cached(c) for c in queued), "drained at next query"
    CL._KMEANS_MEMO.clear()
    release_pending()


def test_kmeans_memo_key_is_full_plan_not_hash(spark, sf_dir):
    """The memo key embeds the full canonicalized plan tree (collision-
    proof), and semantically identical plans written differently still
    share one entry."""
    from gmallrealtime02_spark.functions import clustering as CL
    from gmallrealtime02_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k1 = CL._kmeans_memo_key(emb, 4, 2, "vec_id")
    k2 = CL._kmeans_memo_key(emb.select(emb.columns), 4, 2, "vec_id")
    assert k1 is not None
    assert isinstance(k1[1], str) and "\n" in k1[1]  # a plan tree, not a hash
    assert k1 == k2  # canonicalization unifies trivially-rewritten plans


class _Planless:
    """A frame whose plan cannot be canonicalized."""

    @property
    def _jdf(self):
        raise RuntimeError("no plan")


def test_kmeans_memo_key_failure_is_logged(caplog):
    """A memo key that cannot be built logs a WARNING with the exception
    attached; the fit then runs without the memo (key None)."""
    from gmallrealtime02_spark.functions import clustering as CL

    caplog.set_level(logging.WARNING, logger=CL.__name__)
    assert CL._kmeans_memo_key(_Planless(), 4, 2, "vec_id") is None
    logged = [r for r in caplog.records if r.name == CL.__name__]
    assert [r.getMessage() for r in logged] == [
        "_kmeans_memo_key: plan canonicalization failed"
    ]
    assert all(r.levelno == logging.WARNING and r.exc_info for r in logged)


def test_caching_protocol_is_thread_safe(spark):
    """Concurrent materialized() exits from a driver thread pool must not
    corrupt the pending queue (the ann_recall_eval orchestration shape)."""
    from concurrent.futures import ThreadPoolExecutor

    release_pending()
    begin_query()

    def one(i):
        cache = spark.range(1000 + i).persist()
        out = materialized(cache.groupBy((F.col("id") % 7).alias("k")).count(), cache)
        return out.count()

    with ThreadPoolExecutor(max_workers=8) as ex:
        assert list(ex.map(one, range(16))) == [7] * 16
    # queue intact: every entry is a (gen, DataFrame) pair
    assert all(isinstance(g, int) for g, _ in caching._PENDING)
    release_pending()
    assert not caching._PENDING


def test_bpe_merges_session_memo(spark, sf_dir):
    """_learn_merges memo: a repeat call with the same (app, sf_dir)
    returns the SAME list without re-running the vocab-scale training
    passes, and memoized values match a fresh un-memoized run."""
    from gmallrealtime02_spark.plans import corpus_tools as CT

    CT._MERGES_MEMO.clear()
    m1 = CT._learn_merges(spark, sf_dir)
    m2 = CT._learn_merges(spark, sf_dir)
    assert m2 is m1  # memo hit
    fresh = CT._learn_merges_impl(spark, sf_dir)
    assert m1 == fresh
    CT._MERGES_MEMO.clear()
