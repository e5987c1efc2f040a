"""Incremental table-to-table propagation over manifests — the
bronze→silver→gold layer chaining (Delta's "streaming from a table"
idea) that completes the table service as a streaming substrate.

One rule, for any number of sources: compute the new output from the
inputs' DELTA and commit it idempotently.  A downstream job over a raw
directory must rescan everything per run; over
:class:`~.manifest.ManifestTable` sources the VERSION DIFF enumerates
exactly the rows each source added (or, with row-level CDC, added and
removed) since the last propagated version, so each run costs
O(new data ⋈ the other sources).  The destination's per-app txn
watermarks — one ``f"{app_id}.s{i}"`` entry per source — double as the
source-version bookkeeping AND the exactly-once ledger: all N ride ONE
atomic destination commit, and a replayed run (crash after commit,
rerun after restart) is declined by the same CAS-checked txn rule
every manifest sink uses — no separate offset store, the
Kafka-offset/Redis bookkeeping of the reference collapsed into the
destination table's own metadata (OffsetManager.scala:14-46).

``combine(*dfs)`` gets one DataFrame per source and must be
MULTILINEAR: distribute over row-union in each argument independently.
For one source that means BATCH-LOCAL (row-wise select/filter/explode/
enrich-against-static); for N sources, inner joins composed with
row-wise projections/filters.  Aggregations belong to
:class:`~.rollup.ContinuousAggregate` (merged partials); joins against
other STREAMS to Structured Streaming jobs (state store).  A keep-best
dedup OVER the combine is the propagator's own job (``dedup_*``).

Identity (multisets; S_i = A_i − ∇_i is source i's surviving old rows,
Δ_i its net-added rows, A_i' = S_i + Δ_i its new state): once keys(∇_i)
are retracted for every i the destination holds combine(S_0..S_{n-1}),
and the TELESCOPING sum

    combine(A_0'..A_{n-1}') = combine(S_0..S_{n-1})
        + Σ_i combine(S_0..S_{i-1}, Δ_i, A_{i+1}'..A_{n-1}')

(term i switches argument i from S_i to A_i') makes each run N delta
terms, each with a version-diff-sized argument, instead of one full
recompute.  For two sources it is the delta-join identity
A'⋈B' = A⋈B ∪ ΔA⋈B' ∪ A⋈ΔB (ΔA joins the NEW right side, so (ΔA, ΔB)
pairs land exactly once).  "Old" arguments are TIME-TRAVEL reads at
the last-propagated version, available while the vacuum horizon
retains it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import ManifestTable

KeySpec = list[str] | dict[str, str]


def _key_pairs(keys: KeySpec) -> list[tuple[str, str]]:
    """Normalize a key spec to [(source_col, dest_col)]: a plain list
    means the combine keeps the key column names; a {source: dest}
    mapping handles combines that rename them."""
    if isinstance(keys, dict):
        return list(keys.items())
    return [(k, k) for k in keys]


def _best_per_key(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """Deterministic keep-best: the first row per key group ordered by
    ``order`` ascending (``first_seen_dedup``'s convention — ordering
    by every varying column makes the survivor a pure function of the
    row multiset, partitioning-invariant)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


class Propagator:
    """Keep ``dest`` equal to ``combine(*sources)`` (optionally
    keep-best per key) by incremental runs.  ``run_once`` takes the
    first applicable of four paths:

    - **noop** — no source advanced, or a source is still empty (no
      schema to combine against: the first run waits for all of them).
    - **append-only range** (every source's range is pure appends):
      the telescoping terms over the appended rows, committed as an
      ``append`` — or, with ``dedup_*``, competed against the STORED
      winners of exactly the touched keys (keep-min is a semilattice,
      so best(stored ∪ new) never needs the suppressed history).
    - **row-level CDC** (a delete/upsert in some range): the same terms
      over the surviving rows, plus one keyed retraction per source —
      ONE atomic ``merge_delta``, dest files provably outside the
      deleted keys carried by name.  With ``dedup_*`` the AFFECTED
      keys are re-derived instead (a retracted row may have been a
      winner with suppressed runners-up still live).
    - **full recompute** otherwise (initial run; compact/replace/
      restore in a range; history below the vacuum horizon; CDC
      without the key specs it needs) — committed as a ``replace``
      PINNED to the captured versions: an unpinned read racing a
      concurrent source append would include rows beyond the recorded
      watermarks, duplicated by the next run.

    ``keys[i]`` is source i's unique row key as it survives into the
    destination (list, or {source: dest} when combine renames).  The
    CDC path needs it only where the algebra reads it: every source's
    for N ≥ 2 or without dedup, none for a single source's keep-best
    (its deleted rows name their dedup keys directly).

    ``dedup_keys`` + ``dedup_order`` make the destination the
    deterministic first row per ``dedup_keys`` group ordered by
    ``dedup_order`` ascending; ``combine`` itself stays multilinear.
    ``dedup_side`` indexes the source that OWNS the dedup keys (each
    output key value is carried by one row of it — order_wide's detail
    id lives in the lineitem side); ``dedup_keys`` is a key spec read
    against that source."""

    def __init__(
        self,
        sources: list[ManifestTable],
        dest: ManifestTable,
        combine: Callable[..., DataFrame],
        app_id: str = "propagate",
        keys: list[KeySpec] | None = None,
        dedup_keys: KeySpec | None = None,
        dedup_order: list[str] | None = None,
        dedup_side: int = -1,
    ) -> None:
        n = len(sources)
        if n == 0:
            raise ValueError("Propagator needs at least one source")
        if keys is not None and len(keys) != n:
            raise ValueError("one key spec per source")
        if (dedup_keys is None) != (dedup_order is None):
            raise ValueError("dedup_keys and dedup_order go together")
        if not -n <= dedup_side < n:
            raise ValueError("dedup_side must index a source")
        self.sources = list(sources)
        self.dest = dest
        self.combine = combine
        self.app_id = app_id
        self.keys = [_key_pairs(k) for k in keys] if keys is not None else None
        self.dedup_pairs = (
            _key_pairs(dedup_keys) if dedup_keys is not None else None
        )
        self.dedup_keys = (
            [d for _, d in self.dedup_pairs]
            if self.dedup_pairs is not None
            else None
        )
        self.dedup_order = list(dedup_order) if dedup_order else None
        self.dedup_side = dedup_side % n

    def _best(self, df: DataFrame) -> DataFrame:
        if self.dedup_keys is None:
            return df
        return _best_per_key(df, self.dedup_keys, self.dedup_order)

    def reflected_versions(self) -> tuple[int, ...]:
        """Per-source versions already propagated (0 = nothing)."""
        txn = self.dest.manifest().get("txn", {})
        return tuple(
            int(txn.get(f"{self.app_id}.s{i}", 0))
            for i in range(len(self.sources))
        )

    def run_once(self, spark: SparkSession) -> dict:
        """Propagate everything the sources changed since the last run.
        Returns {"mode": "noop" | "incremental" | "full", "versions":
        [v_0..v_{n-1}]}, plus ``"retractions": True`` for a CDC run and
        ``"dedup": True`` for an incremental keep-best run."""
        olds = self.reflected_versions()
        news = tuple(s.current_version() for s in self.sources)
        meta = {"versions": list(news)}
        if news == olds or 0 in news:
            return {"mode": "noop", **meta}
        txns = [(f"{self.app_id}.s{i}", v) for i, v in enumerate(news)]
        if all(olds):
            res = self._incremental(spark, olds, news, txns)
            if res is not None:
                return {**res, **meta}
        out = self._best(
            self.combine(
                *[s.read(spark, version=v) for s, v in zip(self.sources, news)]
            )
        )
        self.dest.replace(out, txn=txns)
        return {"mode": "full", **meta}

    def _terms(self, spark, old, deltas, news) -> DataFrame:
        """Σ_i combine(S_0..S_{i-1}, Δ_i, A_{i+1}'..A_{n-1}') — ``old``
        holds S_0..S_{n-2} (S_{n-1} is never an argument)."""
        new = [
            s.read(spark, version=v)
            for s, v in zip(self.sources[1:], news[1:])
        ]
        out = None
        for i, d in enumerate(deltas):
            term = self.combine(*old[:i], d, *new[i:])
            out = term if out is None else out.unionByName(term)
        return out

    def _incremental(self, spark, olds, news, txns) -> dict | None:
        """The append-only or CDC step; None → the caller's full
        recompute."""
        ranges = list(zip(self.sources, olds, news))
        appended = [s.read_appended(spark, lo, hi) for s, lo, hi in ranges]
        if all(d is not None for d in appended):
            old = [s.read(spark, version=lo) for s, lo, _ in ranges[:-1]]
            delta = self._terms(spark, old, appended, news)
            if self.dedup_keys is None:
                self.dest.append(delta, txn=txns)
                return {"mode": "incremental"}
            return self._compete(spark, delta, txns)
        if self.keys is None and (len(ranges) > 1 or self.dedup_keys is None):
            return None  # the CDC algebra needs key specs it lacks
        changes = [s.read_changes(spark, lo, hi) for s, lo, hi in ranges]
        if any(ch is None for ch in changes):
            return None
        adds = [a for a, _ in changes]
        dels = [d for _, d in changes]
        old = []  # S_i: old rows minus the net-deleted keys
        for i, (s, lo, _) in enumerate(ranges[:-1]):
            cols = [c for c, _ in self.keys[i]]
            old.append(
                s.read(spark, version=lo).join(
                    dels[i].select(*cols).dropDuplicates(cols),
                    cols,
                    "left_anti",
                )
            )
        inserts = self._terms(spark, old, adds, news)
        if self.dedup_keys is not None:
            return self._rederive(spark, dels, inserts, news, txns)
        # retracting keys(∇_i) for every i leaves combine(S_0..S_{n-1});
        # the terms add the rest.  A key deleted and re-added with new
        # content nets into BOTH ∇ and Δ: its old rows retract, its new
        # row lands once via its Δ term
        deletes = [
            (
                [d for _, d in kp],
                dl.select(*[F.col(s).alias(d) for s, d in kp]),
            )
            for kp, dl in zip(self.keys, dels)
        ]
        self.dest.merge_delta(spark, inserts, deletes, txn=txns)
        return {"mode": "incremental", "retractions": True}

    def _compete(self, spark, delta, txns) -> dict:
        """Keep-best append: new candidates compete against the STORED
        winners of exactly the touched keys."""
        # cand feeds BOTH the touched-key set and the refreshed winners
        # merge_delta computes — persist so the delta terms and the
        # in-batch best() window run once, not once per consumer
        cand = self._best(delta).persist()
        try:
            touched = cand.select(*self.dedup_keys).dropDuplicates(
                self.dedup_keys
            )
            stored = self.dest.read(spark).join(
                touched, self.dedup_keys, "left_semi"
            )
            refreshed = self._best(stored.unionByName(cand))
            self.dest.merge_delta(
                spark, refreshed, [(self.dedup_keys, touched)], txn=txns
            )
        finally:
            cand.unpersist()
        return {"mode": "incremental", "dedup": True}

    def _rederive(self, spark, dels, cand, news, txns) -> dict | None:
        """Keep-best CDC: re-derive the AFFECTED keys and swap them in
        with one ``merge_delta`` (retract affected keys, insert their
        re-derived winners — keys whose candidates all died vanish).
        Affected keys come from (1) the owning side's deletes directly,
        (2) every other side's deletes via the stored winners they
        produced (dest semi-join on that side's provenance columns),
        (3) the telescoping terms' new candidates.  Re-derivation
        combines the owning source FILTERED to the affected keys
        against the others in full, then keep-best: O(affected keys'
        candidate rows), never O(dest).  None (→ full recompute) when a
        non-owning side's provenance is invisible in the destination or
        the dedup spec names columns absent from the owning source."""
        side, dp, dk = self.dedup_side, self.dedup_pairs, self.dedup_keys
        if not {s for s, _ in dp} <= set(dels[side].columns):
            return None
        affected = dels[side].select(*[F.col(s).alias(d) for s, d in dp])
        others = [i for i in range(len(self.sources)) if i != side]
        dest_cur = self.dest.read(spark) if others else None
        for i in others:
            dcols = [d for _, d in self.keys[i]]
            if not set(dcols) <= set(dest_cur.columns):
                return None
            ikeys = (
                dels[i]
                .select(*[F.col(s).alias(d) for s, d in self.keys[i]])
                .dropDuplicates(dcols)
            )
            affected = affected.unionByName(
                dest_cur.join(ikeys, dcols, "left_semi").select(*dk)
            )
        # affected feeds BOTH the retraction key set and (via src_keys)
        # the re-derivation semi-join — persist so the delta terms
        # behind cand compute once
        affected = (
            affected.unionByName(cand.select(*dk)).dropDuplicates(dk).persist()
        )
        try:
            src_keys = affected.select(*[F.col(d).alias(s) for s, d in dp])
            args = [
                s.read(spark, version=v) for s, v in zip(self.sources, news)
            ]
            args[side] = args[side].join(
                src_keys, [s for s, _ in dp], "left_semi"
            )
            refreshed = self._best(self.combine(*args))
            self.dest.merge_delta(
                spark, refreshed, [(dk, affected)], txn=txns
            )
        finally:
            affected.unpersist()
        return {"mode": "incremental", "retractions": True, "dedup": True}


def make_medallion_sink(
    bronze: ManifestTable,
    stages: list | None = None,
    rollups: list | None = None,
    app_id: str = "medallion-stream",
):
    """foreachBatch sink that runs the WHOLE medallion chain per
    micro-batch — §3.3's end state: the reference's three chained
    always-on jobs as one Structured Streaming DAG over the table
    service.  Per trigger: the batch lands in bronze as ONE idempotent
    commit (``txn=(app_id, batch_id)``), then every propagator stage
    advances to its source's current version, then every continuous
    aggregate refreshes.

    Restart-safe at ANY point in the chain, because each link carries
    its own exactly-once ledger: a replayed bronze append is declined
    by the txn watermark; a stage that already committed this version
    range no-ops (its watermark rode its dest commit); a stage that
    crashed BEFORE committing redoes the same version range against an
    unchanged snapshot (its dest commit is atomic).  So a checkpoint
    restart mid-chain neither double-counts nor drops — pinned by the
    restart pytest.

    Out-of-band bronze deletes (a GDPR/retention ``delete_where``
    between triggers) ride the next tick's version range and propagate
    as keyed retractions through every delete-aware stage — the batch
    ``run_once`` machinery unchanged, just driven by the stream clock.
    An idle tick (empty batch) still advances stage watermarks through
    content-free commits.

    The sink records every stage/rollup result dict in
    ``sink.history`` (a list of {"batch_id", "stage", "result"}), so a
    caller can ENFORCE that a delete propagated incrementally rather
    than trusting it did."""
    stages = list(stages or [])
    rollups = list(rollups or [])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..caching import begin_query

        begin_query()
        bronze.append(batch_df, txn=(app_id, int(batch_id)))
        spark = batch_df.sparkSession
        for i, st in enumerate(stages):
            r = st.run_once(spark)
            sink.history.append(
                {"batch_id": int(batch_id), "stage": f"stage{i}", "result": r}
            )
        for i, ca in enumerate(rollups):
            r = ca.refresh(spark)
            sink.history.append(
                {"batch_id": int(batch_id), "stage": f"rollup{i}", "result": r}
            )

    sink.history = []
    return sink
