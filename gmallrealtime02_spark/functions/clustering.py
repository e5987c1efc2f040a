"""Embedding clustering + compression for LLM-data pipelines (north-star
ops — no reference analogue; BASELINE.json ``north_star``).

- **K-means (Lloyd's)** as an iterative DataFrame algorithm: centroids
  are always driver-sized (k x dim floats); the corpus is never
  collected.  Each iteration assigns every vector with a ZERO-exchange
  scan-side fold (centroid array literal → transform → array_min
  argmin), then recomputes centroids via one per-(cid, dim) aggregation
  (posexplode → partial sums) whose exchange carries k·dim partial rows
  per task, never the corpus.  Plan-gated: the assignment subplan has no
  Exchange at all (tests/test_plan_shapes.py).  That is the textbook
  100 TB k-means layout: O(iters) passes, O(k·dim) driver state.
- **Per-vector int8 scalar quantization**: each vector quantized against
  its own [min, max] range — purely scan-side (zero shuffles, zero
  global passes), 4x memory reduction for ANN candidate storage, with
  the reconstruction error measured in the same pass.
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import ensure_parallelism

log = logging.getLogger(__name__)


def _sq_dist(a: Column, b: Column) -> Column:
    """Sequential left-fold squared L2 distance (same op order as any
    engine's list fold, so ties resolve identically)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def nearest_centroid_table(
    data: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment — BIT-IDENTICAL to the
    Catalyst-fold spec (:func:`nearest_centroid_fold`, pinned by
    tests/test_llm_ops.py::test_kmeans_kernel_matches_fold): each d2 is
    an index-ordered float64 accumulation (``np.add.accumulate`` row-wise
    == the fold's sequential ``acc + x``, and ``0.0 + d0 == d0``), and
    ``np.argmin`` takes the FIRST minimum over centroids sorted by cid ==
    the ``array_min``-over-``struct(d2, cid)`` lowest-cid tie-break.

    Same rationale as similarity.lsh_keys / minhash_sig_table: Catalyst
    higher-order folds are INTERPRETED (~0.6 µs per element-op), so the
    k·dim fold per row — k-means' entire inner loop — dominated every
    clustering consumer (kmeans_clusters, dedup_semantic, diversity/
    cluster_balance sampling, cluster_top_terms); the kernel does the
    identical FLOPs vectorized.  Output: (id, [keep_cols...,] cid, d2)
    with the embedding column carried through only when listed in
    ``keep_cols`` (Lloyd update iterations need it; the final assignment
    does not)."""
    from pyspark.sql import types as T

    ordered = sorted(cents)  # cid-ascending ⇒ argmin-first == lowest-cid tie
    in_fields = {f.name: f for f in data.schema.fields}
    out_schema = T.StructType(
        [
            in_fields[id_col],
            *(in_fields[c] for c in keep_cols),
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("d2", T.DoubleType(), False),
        ]
    )

    def kernel(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        C = [
            (np.int32(cid), np.asarray(vec, dtype=np.float64))
            for cid, vec in ordered
        ]
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            d2s = np.empty((len(C), len(pdf)), dtype=np.float64)
            for j, (_cid, cvec) in enumerate(C):
                diff = E - cvec
                d2s[j] = np.add.accumulate(diff * diff, axis=1)[:, -1]
            idx = np.argmin(d2s, axis=0)  # first min ⇒ lowest cid on ties
            out = pdf[[id_col, *keep_cols]].copy()
            out["cid"] = np.asarray([C[j][0] for j in range(len(C))])[idx]
            out["d2"] = d2s[idx, np.arange(len(pdf))]
            yield out

    cols = [id_col, *keep_cols]
    if emb_col not in cols:
        cols.append(emb_col)
    return data.select(*cols).mapInPandas(kernel, out_schema)


def nearest_centroid_fold(
    data: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Catalyst-fold formulation of :func:`nearest_centroid_table` — the
    semantic spec the Arrow kernel must match bit-for-bit (centroid array
    literal → transform → array_min over struct(d2, cid)).  Slow
    (interpreted HOFs); kept for the parity gate, not used by registered
    queries."""
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.array(*[F.lit(x) for x in vec]).alias("cvec"),
            )
            for cid, vec in cents
        ]
    )
    dcs = F.transform(
        cent_arr,
        lambda c: F.struct(
            _sq_dist(F.col(emb_col), c["cvec"]).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    return data.select(
        id_col, *keep_cols, emb_col, F.array_min(dcs).alias("m")
    ).select(
        id_col,
        *keep_cols,
        F.col("m.cid").alias("cid"),
        F.col("m.d2").alias("d2"),
    )


def kmeans_assign(
    emb: DataFrame, k: int = 10, iters: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Lloyd's k-means assignment; returns (vec_id, cid, d2).  See
    :func:`kmeans_fit` for the algorithm and determinism contract."""
    assign, _ = kmeans_fit(emb, k=k, iters=iters, id_col=id_col)
    return assign


# Session-scoped fit memo (the pq_fit pattern): the fit is a pure
# function of (input plan, k, iters) — first-k init, quantized inputs,
# decimal-exact sums — so the five consumers that k-means the same
# corpus (kmeans_clusters, dedup_semantic, cluster_top_terms,
# cluster_balance_sample, diversity_sample, IVF-kmeans) repeat identical
# blocking Lloyd driver jobs for identical results.  Keyed by Spark
# application + the input's FULL canonicalized plan tree + params (not
# the 32-bit semanticHash — a plan hash can collide across distinct
# plans and would then silently serve the wrong fit); the assignment
# rides as a LAZY localCheckpoint so a memo hit costs nothing until an
# action touches it.  Bounded FIFO — distinct (corpus, k, iters) combos
# per session are a handful; evicted entries merely drop the handle (the
# checkpoint blocks are freed by the ContextCleaner once the evicted
# DataFrame is GC'd).
#
# IMMUTABLE-INPUT ASSUMPTION: the plan tree identifies the DATA only
# while the files under the scanned path are unchanged — rewriting the
# parquet at the same path within one Spark application would serve a
# stale fit (the same staleness Spark's own CacheManager has).  The
# harness inputs (/root/testdata) are immutable, and a production
# deployment should key fits by snapshot id instead.
#
# Get/put is lock-guarded: ann_recall_eval runs fit consumers on a
# driver thread pool, and an unguarded check-then-set could double-run
# a fit (waste) or publish a half-built entry.
_KMEANS_MEMO: dict = {}
_KMEANS_MEMO_MAX = 8
_KMEANS_MEMO_LOCK = threading.RLock()


def _kmeans_memo_key(emb: DataFrame, k: int, iters: int, id_col: str):
    try:
        plan = (
            emb._jdf.queryExecution().analyzed().canonicalized().toString()
        )
        return (
            emb.sparkSession.sparkContext.applicationId,
            plan,
            k,
            iters,
            id_col,
        )
    except Exception:
        # no plan to key on: the fit runs unmemoized
        log.warning("_kmeans_memo_key: plan canonicalization failed", exc_info=True)
        return None


def kmeans_fit(
    emb: DataFrame, k: int = 10, iters: int = 5, id_col: str = "vec_id"
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    key = _kmeans_memo_key(emb, k, iters, id_col)
    if key is not None:
        with _KMEANS_MEMO_LOCK:
            hit = _KMEANS_MEMO.get(key)
        if hit is not None:
            return hit
    assign, cents = _kmeans_fit_impl(emb, k, iters, id_col)
    if key is not None:
        # lazy checkpoint: materializes inside the first consumer's
        # action (lineage truncated there), so later memo hits read the
        # stored assignment instead of re-running Lloyd
        assign = assign.localCheckpoint(eager=False)
        with _KMEANS_MEMO_LOCK:
            if key not in _KMEANS_MEMO:
                if len(_KMEANS_MEMO) >= _KMEANS_MEMO_MAX:
                    _KMEANS_MEMO.pop(next(iter(_KMEANS_MEMO)))
                _KMEANS_MEMO[key] = (assign, cents)
            else:
                # a racing thread published first; serve its entry so
                # every consumer shares one checkpoint
                assign, cents = _KMEANS_MEMO[key]
    return assign, cents


def _kmeans_fit_impl(
    emb: DataFrame, k: int = 10, iters: int = 5, id_col: str = "vec_id"
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Lloyd's k-means over an embedding column; returns the assignment
    DataFrame (vec_id, cid, d2) AND the codebook the final assignment
    was computed against (the c_{iters-1} centroids — what ADC scoring
    in product quantization must use).

    Deterministic AND partitioning-invariant: init = the first ``k``
    vectors by id (no RNG — a seeded sample's draws depend on
    partitioning; first-k does not), the argmin breaks distance ties by
    lowest cid via min(struct), inputs are quantized to 1e-6 scan-side,
    and centroid means accumulate as exact DECIMAL(18,6) sums — double
    ``avg`` (the earlier revision) sums in task-completion order, so the
    same data could yield different centroids run-over-run on a real
    cluster; exact decimal sums make every iteration's centroids a pure
    function of the data.  That also makes the whole algorithm
    reproducible in ANY engine (the DuckDB oracle unrolls these exact
    iterations — plans/llm_pipeline.py kmeans_clusters).
    Each iteration: ship the k x dim centroids to the executors (kernel
    closure), assign every vector scan-side (zero exchanges — gated),
    recompute centroids via posexplode + partial aggregation (the
    exchange carries k·dim rows per task, never the corpus), collect the
    k centroids to the driver for the next round."""
    data = ensure_parallelism(
        emb.select(
            F.col(id_col),
            F.transform(
                F.col("embedding"), lambda x: F.round(x.cast("double"), 6)
            ).alias("embedding"),
        )
    ).persist()
    cents = [
        (int(i), [float(x) for x in r.embedding])
        for i, r in enumerate(
            data.orderBy(id_col).limit(k).select("embedding").collect()
        )
    ]
    try:
        assign = None
        for it in range(iters):
            # Assignment is scan-side and adds ZERO exchanges: the Arrow
            # kernel (nearest_centroid_table) carries the k·dim centroids
            # in its closure and argmins per Arrow batch — bit-identical
            # to the centroid-array-literal → transform → array_min fold
            # it replaced (kept as nearest_centroid_fold; parity-pinned),
            # which Catalyst INTERPRETS at ~0.6 µs per element-op.  The
            # even-earlier crossJoin(broadcast) + groupBy(vec_id)
            # re-shuffled the full corpus — embeddings included — once
            # per Lloyd iteration.  min(struct) tie-break preserved:
            # lowest distance, then lowest cid.  The final iteration
            # drops the embedding carry (its assignment feeds no update).
            last = it == iters - 1
            assign = nearest_centroid_table(
                data,
                cents,
                id_col=id_col,
                keep_cols=() if last else ("embedding",),
            )
            if last:
                # the last iteration's recomputed centroids are never
                # used (the returned assignment is against the previous
                # round's centroids — same as the oracle's unroll, which
                # skips m{iters}); recomputing them is a wasted
                # full-corpus aggregation + collect
                break
            new_cents = (
                assign.select("cid", F.posexplode("embedding").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(
                    # exact partial sums: order-independent, engine-exact
                    (
                        F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
                        / F.count("*")
                    ).alias("mu")
                )
                .groupBy("cid")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "mu"))
                    ).alias("dims")
                )
                .select("cid", F.col("dims.mu").alias("cvec"))
                .collect()
            )
            # a cluster that captured no points keeps its previous centroid
            # (dropping it would shrink k run-over-run)
            updated = {int(r.cid): [float(x) for x in r.cvec] for r in new_cents}
            cents = [(cid, updated.get(cid, vec)) for cid, vec in cents]
    except BaseException:
        data.unpersist()
        raise
    # DEFERRED release (caching.queue_release), not an immediate
    # unpersist: the caller wraps `assign` in a LAZY localCheckpoint that
    # only materializes inside the first consumer's action — dropping the
    # corpus cache here would force that materialization to recompute the
    # whole Lloyd lineage uncached.  The queue drains at a later query
    # boundary, after the first consumer has executed.  NOTE: the lazy
    # localCheckpoint trade assumes local mode (or ephemeral fits) — on a
    # real cluster a lost executor makes truncated-lineage checkpoint
    # blocks unrecoverable; production deployments should persist fits to
    # a table instead (the memo docstring's snapshot-id design).
    from ..caching import queue_release

    queue_release(data)
    return assign, cents


kmeans_fit.__doc__ = _kmeans_fit_impl.__doc__


def kmeans_inertia_per_iter(
    emb: DataFrame, k: int = 10, iters: int = 5, id_col: str = "vec_id"
) -> list[float]:
    """Total within-cluster squared distance after each iteration (for the
    monotone-descent test gate).

    TEST-GATE ONLY: re-running ``kmeans_assign`` from scratch per prefix
    makes this O(iters²) full Lloyd recomputes.  Production inertia
    tracking belongs inside the ``kmeans_assign`` loop (one extra agg per
    iteration, O(iters)); this helper trades that for zero coupling to
    the operator's internals."""
    out = []
    for i in range(1, iters + 1):
        a = kmeans_assign(emb, k=k, iters=i, id_col=id_col)
        out.append(a.agg(F.sum("d2")).collect()[0][0])
    return out


def semdedup_pairs(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style near-dup pairs (Abbas et al. 2023, arXiv:2303.09540):
    k-means the embeddings, then run the exact cosine pair check ONLY
    within each cluster — the pair product shrinks from n² to
    Σ|cluster|² ≈ n²/k, and true near-dups (cosine ≥ 0.95 ⇒ nearly
    coincident points) land in the same cluster except exactly on a
    Voronoi boundary.  At 100 TB: k scales with corpus size (n/k held
    ~constant), the join key is (cid), and each cluster's pairs
    materialize independently — embarrassingly parallel across clusters.

    Returns (vec_a, vec_b, cosine) with cosine rounded to 6 decimals,
    matching ``similarity.embedding_near_dup_pairs`` restricted to
    same-cluster pairs (pytest pins the equivalence)."""
    from .similarity import _dot

    a = kmeans_assign(emb, k=k, iters=iters, id_col=id_col)
    v = (
        emb.select(id_col, "embedding")
        .join(a.select(id_col, "cid"), id_col)
        .select(
            id_col,
            "cid",
            "embedding",
            F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        )
        .persist()
    )
    try:
        lhs = v.select(
            F.col("cid"),
            F.col(id_col).alias("vec_a"),
            F.col("embedding").alias("ea"),
            F.col("nrm").alias("na"),
        )
        rhs = v.select(
            F.col("cid"),
            F.col(id_col).alias("vec_b"),
            F.col("embedding").alias("eb"),
            F.col("nrm").alias("nb"),
        )
        cos = F.round(
            _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
        )
        return (
            lhs.join(rhs, "cid")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .localCheckpoint(eager=True)
        )
    finally:
        v.unpersist()


# --- Product quantization -------------------------------------------------


def pq_assign_table(
    data: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    subdim: int,
    id_col: str = "vec_id",
    e_col: str = "e",
    keep_e: bool = True,
) -> DataFrame:
    """Arrow-batched PQ code assignment: for each of the ``len(books)``
    contiguous subspaces, the nearest codebook centroid of the row's
    subvector — all subspaces in ONE kernel pass (the fold formulation,
    kept as :func:`pq_assign_fold` and parity-pinned, interprets
    nsub·k·subdim HOF element-ops per row).  Bit-exactness contract as
    :func:`nearest_centroid_table`: index-ordered float64 accumulation
    per subvector distance, argmin-first == lowest-cid tie-break.
    Output: (id, [e,] c0..c{nsub-1})."""
    from pyspark.sql import types as T

    nsub = len(books)
    ordered = [sorted(b) for b in books]
    in_fields = {f.name: f for f in data.schema.fields}
    out_schema = T.StructType(
        [
            in_fields[id_col],
            *([in_fields[e_col]] if keep_e else []),
            *(
                T.StructField(f"c{s}", T.IntegerType(), False)
                for s in range(nsub)
            ),
        ]
    )

    def kernel(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import

        B = [
            (
                np.asarray([cid for cid, _ in b], dtype=np.int32),
                [np.asarray(vec, dtype=np.float64) for _, vec in b],
            )
            for b in ordered
        ]
        keep = [id_col, e_col] if keep_e else [id_col]
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf[e_col].to_numpy()).astype(np.float64)
            out = pdf[keep].copy()
            for s in range(nsub):
                Es = E[:, s * subdim : (s + 1) * subdim]
                cids, cvecs = B[s]
                d2s = np.empty((len(cvecs), len(pdf)), dtype=np.float64)
                for j, cvec in enumerate(cvecs):
                    diff = Es - cvec
                    d2s[j] = np.add.accumulate(diff * diff, axis=1)[:, -1]
                out[f"c{s}"] = cids[np.argmin(d2s, axis=0)]
            yield out

    cols = [id_col, e_col]
    return data.select(*cols).mapInPandas(kernel, out_schema)


def pq_assign_fold(
    data: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    subdim: int,
    id_col: str = "vec_id",
    e_col: str = "e",
) -> DataFrame:
    """Catalyst-fold formulation of :func:`pq_assign_table` — the spec the
    kernel must match bit-for-bit (per-subspace centroid array literal →
    transform → array_min over struct(d2, cid)).  Interpreted HOFs; kept
    for the parity gate only."""
    nsub = len(books)
    subs = data.select(
        id_col,
        e_col,
        *[
            F.slice(e_col, s * subdim + 1, subdim).alias(f"s{s}")
            for s in range(nsub)
        ],
    )
    assign_cols = []
    for s in range(nsub):
        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(cid).alias("cid"),
                    F.array(*[F.lit(x) for x in vec]).alias("cvec"),
                )
                for cid, vec in books[s]
            ]
        )
        sub_col = F.col(f"s{s}")

        # closure factory, NOT a default-arg lambda: pyspark maps a
        # 2-param lambda to (element, index), so `sc=` would receive
        # the array INDEX
        def _dcs_fn(sc):
            return lambda c: F.struct(
                _sq_dist(sc, c["cvec"]).alias("d2"),
                c["cid"].alias("cid"),
            )

        dcs = F.transform(cent_arr, _dcs_fn(sub_col))
        assign_cols.append(F.array_min(dcs)["cid"].alias(f"c{s}"))
    return subs.select(id_col, e_col, *assign_cols)


PQ_NSUB = 4  # subspaces
PQ_SUBDIM = 16  # dims per subspace (4 x 16 = the 64-dim corpus)
PQ_K = 16  # centroids per subspace codebook (4-bit codes)
PQ_ITERS = 2  # Lloyd iterations per codebook


def pq_fit(
    emb: DataFrame,
    nsub: int = PQ_NSUB,
    subdim: int = PQ_SUBDIM,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[tuple[int, list[float]]]]]:
    """Product-quantization fit (Jégou et al. 2011): split each vector
    into ``nsub`` contiguous subvectors and k-means each subspace
    independently; a vector's PQ code is its ``nsub`` centroid ids —
    here 4 x 4-bit = 2 bytes replacing 256 bytes of float32, the
    compression that makes billion-vector ANN indexes fit in memory.

    Returns (codes DataFrame with columns vec_id, c0..c{nsub-1};
    codebooks per subspace).  Every subspace fit inherits
    ``kmeans_fit``'s determinism contract (first-k init, quantized
    inputs, decimal-exact per-(dim, cid) sums, min(struct) tie-break,
    empty-cluster carry-forward), so codes and codebooks are
    engine-reproducible — the ann_pq_topk oracle unrolls all four
    subspace fits in SQL.

    All ``nsub`` fits run FUSED: one persisted corpus, one first-k init
    collect, and per Lloyd iteration ONE scan that argmin-assigns every
    subspace scan-side plus ONE (dim, cid)-keyed aggregation whose
    exchange carries nsub·k·subdim partial rows — vs the naive
    per-subspace loop's nsub persists, nsub·iters passes, and an
    nsub-way codes join (measured 7.4 s -> ~2.5 s at sf0.1).  The codes
    frame needs no join at all: c0..c{nsub-1} come out of one select."""
    data = ensure_parallelism(
        emb.select(
            F.col(id_col),
            F.transform(
                F.col("embedding"), lambda x: F.round(x.cast("double"), 6)
            ).alias("e"),
        )
    ).persist()
    try:
        first = data.orderBy(id_col).limit(k).select("e").collect()
        books = [
            [
                (int(cid), [float(x) for x in r.e[s * subdim : (s + 1) * subdim]])
                for cid, r in enumerate(first)
            ]
            for s in range(nsub)
        ]
        assign = None
        for it in range(iters):
            # all nsub subspace argmins in ONE Arrow kernel pass —
            # bit-identical to the pq_assign_fold HOF formulation
            # (parity-pinned); the final iteration's codes need no
            # embedding carry
            last = it == iters - 1
            assign = pq_assign_table(
                data, books, subdim, id_col=id_col, keep_e=not last
            )
            if last:
                break
            cid_for_pos = F.element_at(
                F.array(*[F.col(f"c{s}") for s in range(nsub)]),
                (F.floor(F.col("pos") / subdim)).cast("int") + 1,
            )
            rows = (
                assign.select(
                    *[f"c{s}" for s in range(nsub)],
                    F.posexplode("e").alias("pos", "x"),
                )
                .select("pos", cid_for_pos.alias("cid"), "x")
                .groupBy("pos", "cid")
                .agg(
                    (
                        F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
                        / F.count("*")
                    ).alias("mu")
                )
                .collect()
            )
            upd: dict[tuple[int, int], list] = {}
            for r in rows:
                s, p = divmod(int(r.pos), subdim)
                upd.setdefault((s, int(r.cid)), [0.0] * subdim)[p] = float(r.mu)
            books = [
                [
                    (cid, upd.get((s, cid)) or vec)
                    for cid, vec in books[s]
                ]
                for s in range(nsub)
            ]
        codes = assign.select(id_col, *[f"c{s}" for s in range(nsub)])
        # lazy checkpoint: lineage still truncates at first use, but the
        # materializing job runs INSIDE the consumer's action (in
        # parallel with its other stages) instead of blocking the driver
        # here — fit-time drops by a full job at no semantic cost (the
        # kernel assignment is deterministic either way)
        codes = codes.localCheckpoint(eager=False)
    except BaseException:
        data.unpersist()
        raise
    # deferred release so the first consumer's checkpoint materialization
    # reads the corpus cache (see _kmeans_fit_impl's exit note)
    from ..caching import queue_release

    queue_release(data)
    return codes, books


QUANT_LEVELS = 255  # int8 code range 0..255


def quantize_per_vector(emb: DataFrame) -> DataFrame:
    """Per-vector int8 scalar quantization with in-pass reconstruction
    error: codes = round((x - lo) / (hi - lo) * 255), reconstruction
    x' = lo + code * (hi - lo) / 255, mse = mean((x - x')²) — all
    scan-side array lambdas (whole-stage codegen, zero exchanges).
    Returns (vec_id, qmin, qmax, codes, mse).  qmin/qmax/mse are emitted
    UNROUNDED: codes are computed against the true span, so rounding the
    emitted range (as an earlier revision did, to 6 decimals) breaks
    reconstruction for spans < 1e-6 — the reported range collapses to
    zero while codes span 0..255.  Display/oracle rounding is the
    registered query's job (plans/llm_pipeline.py embedding_quantization),
    never the operator's."""
    e = F.col("embedding")
    lo = F.array_min(e).cast("double")
    hi = F.array_max(e).cast("double")
    span = hi - lo
    codes = F.transform(
        e,
        lambda x: F.when(
            span > 0,
            F.round((x.cast("double") - lo) / span * QUANT_LEVELS).cast("int"),
        ).otherwise(F.lit(0)),
    )
    recon_err = F.zip_with(
        e,
        codes,
        lambda x, q: (
            x.cast("double") - (lo + q.cast("double") * span / QUANT_LEVELS)
        )
        * (x.cast("double") - (lo + q.cast("double") * span / QUANT_LEVELS)),
    )
    mse = F.aggregate(recon_err, F.lit(0.0), lambda acc, v: acc + v) / F.size(e)
    return emb.select(
        "vec_id",
        lo.alias("qmin"),
        hi.alias("qmax"),
        codes.alias("codes"),
        mse.alias("mse"),
    )


def adc_tables(
    emb: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    n_queries: int = 10,
) -> list[tuple[int, list[list[float]]]]:
    """Per-query ADC lookup tables: for each query vector (vec_id <
    n_queries), the squared-L2 distance from its s-th subvector to each
    centroid of subspace s's codebook — [(qid, [table_s0, ...]), ...].

    This is the DETERMINISM-CRITICAL piece of PQ scoring (the Python
    float fold order must mirror the oracle's list_reduce), so both
    consumers — ann_pq_topk's literal-struct fan-out and
    ann_ivfpq_topk's broadcast table — build from this ONE helper; a
    rounding or slicing change desynchronizes from the oracle in one
    place, not two."""
    qrows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x.cast("double"), 6)
            ).alias("e"),
        )
        .orderBy("vec_id")
        .collect()  # bounded driver pull: n_queries rows
    )

    def sub_d2(qvec: list[float], cvec: list[float]) -> float:
        acc = 0.0
        for a, b in zip(qvec, cvec):
            acc += (a - b) * (a - b)
        return acc

    out = []
    for r in qrows:
        tables = []
        for s in range(len(books)):
            qs = list(r.e[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM])
            tables.append([sub_d2(qs, vec) for _cid, vec in books[s]])
        out.append((int(r.vec_id), tables))
    return out
