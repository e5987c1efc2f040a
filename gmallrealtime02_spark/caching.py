"""Cache lifecycle for multi-consumer query plans.

Several operators persist an intermediate (an exploded bigram table, a
signature table, a grouped fact) because 2+ downstream consumers read
it.  A registered query fn that RETURNS a lazy plan over such a cache
cannot unpersist it — the caller executes later — so earlier revisions
leaked executor storage across multi-query sessions (every cached RDD
stayed pinned until session end).

``materialized(result, *caches)`` is the standard exit.  Release is
DEFERRED and QUERY-SCOPED:

- Caches queue tagged with the current QUERY GENERATION (bumped by
  ``begin_query()``, which the registry wrapper calls on entry to every
  registered query fn, and foreachBatch sinks call per batch).
- ``materialized()`` drains only PRIOR-generation entries — a query
  composed of several materialized sub-plans (e.g. dedup_eval = LSH
  pairs ⋈ exact-Jaccard pairs) keeps every sub-plan's cache alive until
  the caller executes the composed result.  Draining on the call (the
  first lazy design) unpersisted sub-plan #1's cache when sub-plan #2
  was built, re-running the whole LSH pipeline once per consumer.
- Prior-generation entries semantically identical to a cache the
  current query (re-)registers TRANSFER instead of draining: Spark's
  CacheManager keys entries by canonicalized plan, so a re-run reuses
  the populated entry — unpersisting the old handle would evict it out
  from under the new plan.

Net effect: executor storage is bounded at one query's caches, a timed
single-query harness pays no extra job (the round-4 eager
``localCheckpoint(eager=True)`` exit added one Spark job per query:
+0.3 s measured on dedup_minhash_lsh at sf0.1, a 61% bench
regression), and re-runs stay warm.  Unpersisting a cache a still-lazy
plan references is always safe — Spark recomputes without reuse — so
every failure mode here is a recompute, never a wrong answer.

Query fns that need plan-shape gates split into a lazy
``_name_plan() -> (result, caches)`` builder (what the gate inspects)
plus a registered wrapper that calls ``materialized``.
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)
_PENDING: list[tuple[int, DataFrame]] = []
_GEN: int = 0
# Queue/generation mutations are lock-guarded: ann_recall_eval (and any
# future orchestration) runs query builds on a driver thread pool, so
# concurrent materialized() exits would otherwise interleave their
# pop/extend sequences.  The worst interleaving is a premature unpersist
# (a recompute, never a wrong answer), but the protocol is cheap to make
# actually safe.  Unpersist calls happen OUTSIDE the lock — they are
# py4j round-trips and must not serialize unrelated query builds.
_LOCK = threading.RLock()


def begin_query() -> None:
    """Mark a query boundary: caches queued before this call become
    eligible for release at the next ``materialized()`` exit.  Called by
    the registry wrapper on entry to every registered query fn and by
    foreachBatch sinks at each batch start."""
    global _GEN
    with _LOCK:
        _GEN += 1


def queue_release(*caches: DataFrame) -> None:
    """Queue caches for deferred release WITHOUT wrapping a result.

    For fit helpers (kmeans_fit, pq_fit) whose returned lazy
    localCheckpoint materializes inside the first consumer's action: an
    immediate unpersist on fit exit would drop the very cache that
    materialization wants to read, recomputing the whole fit lineage.
    Queued under the current generation, the cache survives until a
    LATER query's ``materialized()`` exit — by which time the first
    consumer has run (the harnesses execute every query they build)."""
    with _LOCK:
        _PENDING.extend((_GEN, c) for c in caches)


def release_pending() -> None:
    """Unpersist every queued cache regardless of generation.

    Safe to call at any time (session teardown, between tests): a
    still-referenced cache just loses storage reuse, never correctness.
    """
    with _LOCK:
        drained = list(_PENDING)
        _PENDING.clear()
    for _, c in drained:
        try:
            c.unpersist()
        except Exception:
            # session already stopped / cache GC'd: storage may leak
            log.warning("release_pending: unpersist failed", exc_info=True)


def materialized(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Standard exit for query fns whose plan reads persisted caches.

    Queues ``caches`` under the current generation, drains prior-
    generation entries (with semanticHash ownership transfer, see module
    docstring), and returns ``result`` lazy."""
    keep = set()
    for c in caches:
        try:
            keep.add(c.semanticHash())
        except Exception:
            log.warning(
                "materialized: semanticHash of a new cache failed", exc_info=True
            )
    to_drop: list[DataFrame] = []
    with _LOCK:
        survivors: list[tuple[int, DataFrame]] = []
        while _PENDING:
            gen, c = _PENDING.pop()
            if gen == _GEN:
                survivors.append((gen, c))  # same query build: never drain
                continue
            try:
                if c.semanticHash() not in keep:
                    to_drop.append(c)
            except Exception:
                # dropped from the queue without an unpersist
                log.warning(
                    "materialized: semanticHash of a queued cache failed",
                    exc_info=True,
                )
        _PENDING.extend(survivors)
        _PENDING.extend((_GEN, c) for c in caches)
    for c in to_drop:
        try:
            c.unpersist()
        except Exception:
            log.warning("materialized: unpersist failed", exc_info=True)
    return result
