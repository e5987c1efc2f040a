"""Propagator: bronze→silver→gold manifest chaining over one, two and
three sources — version-diff reads, exactly-once txn ledger, row-level
CDC retractions, keep-best dedup, full-recompute fallbacks on
non-append history (compact/delete), and multi-hop medallion
composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmallrealtime02_spark.sources import load_table
from gmallrealtime02_spark.streaming.manifest import ManifestTable
from gmallrealtime02_spark.streaming.propagate import Propagator

from .conftest import jobs_fired


def _events(spark, sf_dir, lo, hi):
    return (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        .select("event_id", "user_id", "event_type", "value")
    )


def _clicks_x10(df):
    return df.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 10.0
    )


def _ids(df):
    return sorted(r.event_id for r in df.select("event_id").collect())


def test_incremental_propagation_exactly_once(spark, sf_dir, tmp_path):
    bronze = ManifestTable(str(tmp_path / "bronze"))
    silver = ManifestTable(str(tmp_path / "silver"))
    p = Propagator([bronze], silver, _clicks_x10)
    bronze.append(_events(spark, sf_dir, 0, 100))
    assert p.run_once(spark)["mode"] == "full"  # first run materializes
    bronze.append(_events(spark, sf_dir, 100, 200))
    bronze.append(_events(spark, sf_dir, 200, 300))
    r = p.run_once(spark)
    assert r["mode"] == "incremental" and r["versions"] == [3]
    want = _clicks_x10(_events(spark, sf_dir, 0, 300))
    assert _ids(silver.read(spark)) == _ids(want)
    assert silver.read(spark).agg(F.sum("value")).first()[0] == pytest.approx(
        want.agg(F.sum("value")).first()[0]
    )
    # replay/no-op: nothing new, nothing duplicated
    assert p.run_once(spark)["mode"] == "noop"
    assert _ids(silver.read(spark)) == _ids(want)


def test_propagation_full_fallback_on_delete(spark, sf_dir, tmp_path):
    """A delete upstream must REMOVE rows downstream (incremental
    append-only propagation cannot express that — the full fallback
    does, under the same txn ledger)."""
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"))
    p = Propagator([bronze], silver, _clicks_x10)
    bronze.append(_events(spark, sf_dir, 0, 200))
    p.run_once(spark)
    bronze.delete_range(spark, "event_id", lo=0, hi=99)
    r = p.run_once(spark)
    assert r["mode"] == "full"
    assert _ids(silver.read(spark)) == _ids(
        _clicks_x10(_events(spark, sf_dir, 100, 200))
    )


def test_propagation_full_fallback_on_compact(spark, sf_dir, tmp_path):
    bronze = ManifestTable(str(tmp_path / "bronze"))
    silver = ManifestTable(str(tmp_path / "silver"))
    p = Propagator([bronze], silver, _clicks_x10)
    for lo in range(0, 300, 100):
        bronze.append(_events(spark, sf_dir, lo, lo + 100))
    p.run_once(spark)
    bronze.compact(spark, target_bytes=1 << 30)
    bronze.append(_events(spark, sf_dir, 300, 400))
    r = p.run_once(spark)
    assert r["mode"] == "full"  # compact in range: diff-less, honest
    assert _ids(silver.read(spark)) == _ids(
        _clicks_x10(_events(spark, sf_dir, 0, 400))
    )
    # next append re-incrementalizes cleanly
    bronze.append(_events(spark, sf_dir, 400, 450))
    assert p.run_once(spark)["mode"] == "incremental"
    assert _ids(silver.read(spark)) == _ids(
        _clicks_x10(_events(spark, sf_dir, 0, 450))
    )


def test_medallion_chain_and_rollup_tail(spark, sf_dir, tmp_path):
    """bronze → silver (propagator) → gold (continuous aggregate): the
    full medallion chain stays exact through incremental runs."""
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    bronze = ManifestTable(str(tmp_path / "bronze"))
    silver = ManifestTable(str(tmp_path / "silver"))
    p = Propagator([bronze], silver, _clicks_x10)
    gold = ContinuousAggregate(
        silver,
        str(tmp_path / "gold"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*"), "sum_users": ("sum", "user_id")},
    )
    for lo in range(0, 400, 100):
        bronze.append(_events(spark, sf_dir, lo, lo + 100))
        p.run_once(spark)
        gold.refresh(spark)
    want = (
        _clicks_x10(_events(spark, sf_dir, 0, 400))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("user_id").alias("sum_users"))
        .collect()
    )
    got = gold.read(spark).collect()
    assert {(r.event_type, r.n, r.sum_users) for r in got} == {
        (r.event_type, r.n, r.sum_users) for r in want
    }


def test_replayed_run_declined_by_txn(spark, sf_dir, tmp_path):
    """Simulated crash-rerun: a second propagator instance replaying the
    same source version is declined by the txn ledger (no duplicates),
    even via the full/replace path."""
    bronze = ManifestTable(str(tmp_path / "bronze"))
    silver = ManifestTable(str(tmp_path / "silver"))
    bronze.append(_events(spark, sf_dir, 0, 100))
    p1 = Propagator([bronze], silver, _clicks_x10)
    p1.run_once(spark)
    v = silver.current_version()
    # a zombie with a stale view of the watermark replays version 1
    silver_stale = ManifestTable(str(tmp_path / "silver"))
    out = _clicks_x10(bronze.read(spark))
    assert silver_stale.replace(out, txn=("propagate.s0", 1)) is None
    assert silver.current_version() == v


def test_full_recompute_is_version_pinned(spark, sf_dir, tmp_path):
    """The full path must read the source AT the captured version: a
    concurrent append landing mid-recompute must not leak into a commit
    whose txn watermark predates it (the next incremental run would
    duplicate those rows — the review's exactly-once hole)."""
    bronze = ManifestTable(str(tmp_path / "bronze"))
    silver = ManifestTable(str(tmp_path / "silver"))
    p = Propagator([bronze], silver, _clicks_x10)
    bronze.append(_events(spark, sf_dir, 0, 100))
    # interleave: a writer appends AFTER run_once captured `now`
    orig_read = bronze.read
    raced = {"done": False}

    def racing_read(spark_, version=None):
        if not raced["done"]:
            raced["done"] = True
            ManifestTable(bronze.root).append(_events(spark, sf_dir, 100, 200))
        return orig_read(spark_, version=version)

    bronze.read = racing_read
    assert p.run_once(spark)["mode"] == "full"
    bronze.read = orig_read
    # the racing append is NOT in silver yet (watermark = version 1)...
    assert _ids(silver.read(spark)) == _ids(
        _clicks_x10(_events(spark, sf_dir, 0, 100))
    )
    # ...and the next run picks it up exactly once
    assert p.run_once(spark)["mode"] == "incremental"
    assert _ids(silver.read(spark)) == _ids(
        _clicks_x10(_events(spark, sf_dir, 0, 200))
    )


# -- two-source fan-in --------------------------------------------------------


def _users(spark, sf_dir, lo, hi):
    return (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") >= lo) & (F.col("user_id") < hi))
        .select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )


def _join_ev_users(ev, users):
    return ev.join(users, "user_id").select(
        "event_id", "user_id", "event_type", "value", "tier"
    )


def test_delta_join_incremental_matches_one_shot(spark, sf_dir, tmp_path):
    """After both sources advance, run_once joins only the version
    diffs (mode incremental) and the destination equals the one-shot
    join of the full sources — no pair twice, none missed."""
    left = ManifestTable(str(tmp_path / "ev"))
    right = ManifestTable(str(tmp_path / "users"))
    dest = ManifestTable(str(tmp_path / "joined"))
    p = Propagator([left, right], dest, combine=_join_ev_users)
    assert p.run_once(spark)["mode"] == "noop"  # both sources empty
    left.append(_events(spark, sf_dir, 0, 400))
    assert p.run_once(spark)["mode"] == "noop"  # right still empty
    right.append(_users(spark, sf_dir, 0, 80))
    assert p.run_once(spark)["mode"] == "full"  # initial materialization
    left.append(_events(spark, sf_dir, 400, 900))
    right.append(_users(spark, sf_dir, 80, 160))
    r = p.run_once(spark)
    assert r["mode"] == "incremental"
    want = _join_ev_users(
        _events(spark, sf_dir, 0, 900), _users(spark, sf_dir, 0, 160)
    )
    assert _ids(dest.read(spark)) == _ids(want)
    assert dest.read(spark).count() == want.count()
    # replay: watermarks already recorded -> declined
    assert p.run_once(spark)["mode"] == "noop"


def test_delta_join_single_side_advance(spark, sf_dir, tmp_path):
    """Only one source advanced: the other's delta is the empty range;
    still incremental, still exact."""
    left = ManifestTable(str(tmp_path / "ev"))
    right = ManifestTable(str(tmp_path / "users"))
    dest = ManifestTable(str(tmp_path / "joined"))
    p = Propagator([left, right], dest, combine=_join_ev_users)
    left.append(_events(spark, sf_dir, 0, 300))
    right.append(_users(spark, sf_dir, 0, 200))
    p.run_once(spark)
    left.append(_events(spark, sf_dir, 300, 600))
    r = p.run_once(spark)
    assert r["mode"] == "incremental"
    want = _join_ev_users(
        _events(spark, sf_dir, 0, 600), _users(spark, sf_dir, 0, 200)
    )
    assert _ids(dest.read(spark)) == _ids(want)


def test_delta_join_full_fallback_on_non_append(spark, sf_dir, tmp_path):
    """A compact (or delete) in either source's range breaks the
    version-diff premise — run_once must fall back to a full recompute
    (replace), never silently double-count."""
    left = ManifestTable(str(tmp_path / "ev"))
    right = ManifestTable(str(tmp_path / "users"))
    dest = ManifestTable(str(tmp_path / "joined"))
    p = Propagator([left, right], dest, combine=_join_ev_users)
    left.append(_events(spark, sf_dir, 0, 200))
    left.append(_events(spark, sf_dir, 200, 400))
    right.append(_users(spark, sf_dir, 0, 150))
    p.run_once(spark)
    left.append(_events(spark, sf_dir, 400, 500))
    left.compact(spark, target_bytes=1 << 30)  # non-append in range
    r = p.run_once(spark)
    assert r["mode"] == "full"
    want = _join_ev_users(
        _events(spark, sf_dir, 0, 500), _users(spark, sf_dir, 0, 150)
    )
    assert _ids(dest.read(spark)) == _ids(want)
    assert p.run_once(spark)["mode"] == "noop"


def test_delta_join_vacuumed_time_travel_falls_back(spark, sf_dir, tmp_path):
    """The incremental path time-travels to 'old A'; if vacuum dropped
    that version's manifest, read_appended returns None and the run
    falls back to full — honest, never an error."""
    left = ManifestTable(str(tmp_path / "ev"))
    right = ManifestTable(str(tmp_path / "users"))
    dest = ManifestTable(str(tmp_path / "joined"))
    p = Propagator([left, right], dest, combine=_join_ev_users)
    left.append(_events(spark, sf_dir, 0, 200))
    right.append(_users(spark, sf_dir, 0, 150))
    p.run_once(spark)
    left.append(_events(spark, sf_dir, 200, 300))
    left.append(_events(spark, sf_dir, 300, 400))
    left.vacuum(keep_versions=1, retention_seconds=0)  # history gone
    r = p.run_once(spark)
    assert r["mode"] == "full"
    want = _join_ev_users(
        _events(spark, sf_dir, 0, 400), _users(spark, sf_dir, 0, 150)
    )
    assert _ids(dest.read(spark)) == _ids(want)


def test_multi_txn_pair_atomic_watermarks(spark, sf_dir, tmp_path):
    """The txn pair-list: both watermarks land in ONE commit; a replay
    with every pair at-or-below declines; a partial advance commits."""
    t = ManifestTable(str(tmp_path / "t"))
    df = _events(spark, sf_dir, 0, 50)
    assert t.append(df, txn=[("a", 1), ("b", 2)]) is not None
    assert t.manifest()["txn"] == {"a": 1, "b": 2}
    # full replay: declined
    assert t.append(df, txn=[("a", 1), ("b", 2)]) is None
    # partial advance: commits, re-records the max per app
    assert t.append(df, txn=[("a", 2), ("b", 2)]) is not None
    assert t.manifest()["txn"] == {"a": 2, "b": 2}


# -- delete-aware incremental propagation (row-level CDC) -------------------


def test_delete_propagates_as_keyed_retraction(spark, sf_dir, tmp_path):
    """With keys set, an upstream delete_where propagates as a
    keyed retraction — mode incremental with retractions, NOT the full
    recompute — and rows removed upstream never survive downstream."""
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"), stats_cols=["event_id"])
    p = Propagator(
        [bronze], silver, _clicks_x10, keys=[["event_id"]]
    )
    bronze.append(_events(spark, sf_dir, 0, 200))
    assert p.run_once(spark)["mode"] == "full"
    bronze.delete_where(spark, "event_id < 99")
    r = p.run_once(spark)
    assert r["mode"] == "incremental" and r.get("retractions") is True
    want = _clicks_x10(_events(spark, sf_dir, 99, 200))
    assert _ids(silver.read(spark)) == _ids(want)
    # deleted keys are GONE downstream, not merely absent from new data
    assert (
        silver.read(spark).filter(F.col("event_id") < 99).count() == 0
    )
    # replay: nothing new, nothing double-retracted
    assert p.run_once(spark)["mode"] == "noop"
    assert _ids(silver.read(spark)) == _ids(want)


def test_delete_and_append_in_one_range(spark, sf_dir, tmp_path):
    """A range mixing appends and deletes nets correctly: rows appended
    then deleted inside the range never reach the destination, deletes
    of pre-range rows retract, new rows land — all in one commit."""
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"), stats_cols=["event_id"])
    p = Propagator(
        [bronze], silver, _clicks_x10, keys=[["event_id"]]
    )
    bronze.append(_events(spark, sf_dir, 0, 100))
    p.run_once(spark)
    bronze.append(_events(spark, sf_dir, 100, 200))  # in-range append
    bronze.delete_where(spark, "event_id < 50 OR event_id >= 150")
    r = p.run_once(spark)
    assert r["mode"] == "incremental" and r.get("retractions") is True
    want = _clicks_x10(_events(spark, sf_dir, 50, 150))
    assert _ids(silver.read(spark)) == _ids(want)


def test_retraction_touches_only_pruned_dest_files(spark, sf_dir, tmp_path):
    """The destination-side cost story: a keyed retraction rewrites
    only the dest files whose [min,max] stats may contain a deleted
    key — the rest are carried BY NAME (metadata only)."""
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"), stats_cols=["event_id"])
    p = Propagator(
        [bronze], silver, lambda df: df, keys=[["event_id"]]
    )
    for lo in range(0, 400, 100):  # four stat-tight silver files
        bronze.append(_events(spark, sf_dir, lo, lo + 100).coalesce(1))
        p.run_once(spark)
    before = set(silver.manifest()["files"])
    lo_files = set(silver.pruned_files("event_id", 0, 49))
    bronze.delete_where(spark, "event_id < 50")
    r = p.run_once(spark)
    assert r.get("retractions") is True
    after = set(silver.manifest()["files"])
    # every dest file provably outside the deleted range survived by name
    assert (before - lo_files) <= after
    assert _ids(silver.read(spark)) == _ids(_events(spark, sf_dir, 50, 400))


def test_compact_and_vacuum_still_fall_back(spark, sf_dir, tmp_path):
    """keys do not change the honest fallbacks: compact in range
    (row-preserving but whole-file churn) and a vacuumed rewrite file
    both force the full recompute."""
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"))
    p = Propagator(
        [bronze], silver, _clicks_x10, keys=[["event_id"]]
    )
    for lo in range(0, 300, 100):
        bronze.append(_events(spark, sf_dir, lo, lo + 100))
    p.run_once(spark)
    bronze.compact(spark, target_bytes=1 << 30)
    assert p.run_once(spark)["mode"] == "full"
    # now a delete whose rewritten predecessor gets vacuumed away
    bronze.delete_where(spark, "event_id < 10")
    bronze.vacuum(keep_versions=1, retention_seconds=0.0)
    r = p.run_once(spark)
    assert r["mode"] == "full"
    assert _ids(silver.read(spark)) == _ids(
        _clicks_x10(_events(spark, sf_dir, 10, 300))
    )


def test_renamed_keys_mapping(spark, sf_dir, tmp_path):
    """A {source: dest} key spec handles transforms that rename the
    key column."""
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"), stats_cols=["eid"])

    def renames(df):
        return df.select(
            F.col("event_id").alias("eid"), "event_type", "value"
        )

    p = Propagator(
        [bronze], silver, renames, keys=[{"event_id": "eid"}]
    )
    bronze.append(_events(spark, sf_dir, 0, 200))
    p.run_once(spark)
    bronze.delete_where(spark, "event_id >= 100")
    r = p.run_once(spark)
    assert r.get("retractions") is True
    assert sorted(r.eid for r in silver.read(spark).collect()) == _ids(
        _events(spark, sf_dir, 0, 100)
    )


def test_delta_join_delete_propagates_retractions(spark, sf_dir, tmp_path):
    """A two-source Propagator with keys: deleting rows from ONE
    bronze retracts exactly their join contributions downstream, in
    ENFORCED incremental mode, and the destination matches the
    one-shot join of the post-delete sources."""
    left = ManifestTable(str(tmp_path / "ev"), stats_cols=["event_id"])
    right = ManifestTable(str(tmp_path / "users"))
    dest = ManifestTable(str(tmp_path / "joined"), stats_cols=["event_id"])
    p = Propagator(
        [left, right],
        dest,
        combine=_join_ev_users,
        keys=[["event_id"], ["user_id"]],
    )
    left.append(_events(spark, sf_dir, 0, 300))
    right.append(_users(spark, sf_dir, 0, 100))
    assert p.run_once(spark)["mode"] == "full"
    left.delete_where(spark, "event_id < 150")
    r = p.run_once(spark)
    assert r["mode"] == "incremental" and r.get("retractions") is True
    want = _join_ev_users(
        _events(spark, sf_dir, 150, 300), _users(spark, sf_dir, 0, 100)
    )
    assert _ids(dest.read(spark)) == _ids(want)
    assert p.run_once(spark)["mode"] == "noop"


def test_delta_join_deletes_both_sides_plus_appends(spark, sf_dir, tmp_path):
    """The full extended identity: deletes on BOTH sources plus new
    appends on both, absorbed in one incremental run."""
    left = ManifestTable(str(tmp_path / "ev"), stats_cols=["event_id"])
    right = ManifestTable(str(tmp_path / "users"))
    dest = ManifestTable(str(tmp_path / "joined"), stats_cols=["event_id"])
    p = Propagator(
        [left, right],
        dest,
        combine=_join_ev_users,
        keys=[["event_id"], ["user_id"]],
    )
    left.append(_events(spark, sf_dir, 0, 200))
    right.append(_users(spark, sf_dir, 0, 60))
    p.run_once(spark)
    left.delete_where(spark, "event_id < 40")
    left.append(_events(spark, sf_dir, 200, 260))
    right.delete_where(spark, "user_id >= 50")
    right.append(_users(spark, sf_dir, 60, 90))
    r = p.run_once(spark)
    assert r["mode"] == "incremental" and r.get("retractions") is True
    ev_now = _events(spark, sf_dir, 40, 260)
    users_now = _users(spark, sf_dir, 0, 50).unionByName(
        _users(spark, sf_dir, 60, 90)
    )
    assert _ids(dest.read(spark)) == _ids(_join_ev_users(ev_now, users_now))


def test_read_changes_net_algebra(spark, sf_dir, tmp_path):
    """read_changes returns exactly (rows added, rows removed) across
    the range, with carried rewrite rows cancelled."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100))
    v1 = t.current_version()
    t.append(_events(spark, sf_dir, 100, 200))
    t.delete_where(spark, "event_id < 30 OR event_id >= 180")
    add, dele = t.read_changes(spark, v1)
    assert _ids(add) == _ids(_events(spark, sf_dir, 100, 180))
    assert _ids(dele) == _ids(_events(spark, sf_dir, 0, 30))
    # all-append range: empty deletions
    t2 = ManifestTable(str(tmp_path / "t2"))
    t2.append(_events(spark, sf_dir, 0, 50))
    t2.append(_events(spark, sf_dir, 50, 80))
    add2, del2 = t2.read_changes(spark, 1)
    assert _ids(add2) == _ids(_events(spark, sf_dir, 50, 80))
    assert del2.count() == 0
    # compact in range: declined
    t2.compact(spark, target_bytes=1 << 30)
    assert t2.read_changes(spark, 1) is None


# -- N-source fan-in ----------------------------------------------------------


def _typedim(spark, sf_dir, types=None):
    df = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type").cast("int"))
    )
    if types is not None:
        df = df.filter(F.col("event_type").isin(types))
    return df


def _join3(ev, users, types):
    return (
        ev.join(users, "user_id")
        .join(types, "event_type")
        .select(
            "event_id", "user_id", "event_type", "value", "tier",
            "type_weight",
        )
    )


def test_three_source_telescoping_incremental(spark, sf_dir, tmp_path):
    """All three sources advance (appends on two, nothing on one):
    one incremental run, destination equals the one-shot 3-way join."""
    s_ev = ManifestTable(str(tmp_path / "ev"), stats_cols=["event_id"])
    s_us = ManifestTable(str(tmp_path / "us"))
    s_ty = ManifestTable(str(tmp_path / "ty"))
    dest = ManifestTable(str(tmp_path / "gold"), stats_cols=["event_id"])
    p = Propagator(
        [s_ev, s_us, s_ty],
        dest,
        combine=_join3,
        keys=[["event_id"], ["user_id"], ["event_type"]],
    )
    s_ev.append(_events(spark, sf_dir, 0, 200))
    s_us.append(_users(spark, sf_dir, 0, 60))
    s_ty.append(_typedim(spark, sf_dir))
    assert p.run_once(spark)["mode"] == "full"
    s_ev.append(_events(spark, sf_dir, 200, 300))
    s_us.append(_users(spark, sf_dir, 60, 90))
    r = p.run_once(spark)
    assert r["mode"] == "incremental"
    want = _join3(
        _events(spark, sf_dir, 0, 300),
        _users(spark, sf_dir, 0, 90),
        _typedim(spark, sf_dir),
    )
    assert _ids(dest.read(spark)) == _ids(want)
    assert p.run_once(spark)["mode"] == "noop"


def test_three_source_deletes_on_every_source(spark, sf_dir, tmp_path):
    """Deletes on ALL THREE sources plus an append, absorbed in one
    atomic incremental run — the inclusion-exclusion generalization
    the round-9 verdict listed as unwritten (missing-gap 5)."""
    s_ev = ManifestTable(str(tmp_path / "ev"), stats_cols=["event_id"])
    s_us = ManifestTable(str(tmp_path / "us"))
    s_ty = ManifestTable(str(tmp_path / "ty"))
    dest = ManifestTable(str(tmp_path / "gold"), stats_cols=["event_id"])
    p = Propagator(
        [s_ev, s_us, s_ty],
        dest,
        combine=_join3,
        keys=[["event_id"], ["user_id"], ["event_type"]],
    )
    s_ev.append(_events(spark, sf_dir, 0, 300))
    s_us.append(_users(spark, sf_dir, 0, 90))
    s_ty.append(_typedim(spark, sf_dir))
    p.run_once(spark)
    all_types = sorted(
        r.event_type for r in _typedim(spark, sf_dir).collect()
    )
    dropped = all_types[0]
    s_ev.delete_where(spark, "event_id < 50")
    s_ev.append(_events(spark, sf_dir, 300, 350))
    s_us.delete_where(spark, "user_id >= 70")
    s_ty.delete_where(spark, f"event_type = '{dropped}'")
    r = p.run_once(spark)
    assert r["mode"] == "incremental" and r.get("retractions") is True
    want = _join3(
        _events(spark, sf_dir, 50, 350),
        _users(spark, sf_dir, 0, 70),
        _typedim(spark, sf_dir, [t for t in all_types if t != dropped]),
    )
    assert _ids(dest.read(spark)) == _ids(want)
    # nothing joined to the dropped dim value survives downstream
    assert dest.read(spark).filter(
        F.col("event_type") == dropped
    ).count() == 0
    # exactly-once: replay declined
    assert p.run_once(spark)["mode"] == "noop"


def test_three_source_keyless_appends_incremental(spark, sf_dir, tmp_path):
    """Key specs are for retractions only: an append-only range over
    three keyless sources runs the telescoping terms incrementally,
    and the destination equals the one-shot 3-way join."""
    s_ev = ManifestTable(str(tmp_path / "ev"))
    s_us = ManifestTable(str(tmp_path / "us"))
    s_ty = ManifestTable(str(tmp_path / "ty"))
    dest = ManifestTable(str(tmp_path / "gold"))
    p = Propagator([s_ev, s_us, s_ty], dest, combine=_join3)
    s_ev.append(_events(spark, sf_dir, 0, 200))
    s_us.append(_users(spark, sf_dir, 0, 60))
    s_ty.append(_typedim(spark, sf_dir, ["click", "view"]))
    assert p.run_once(spark)["mode"] == "full"
    s_ev.append(_events(spark, sf_dir, 200, 300))
    s_us.append(_users(spark, sf_dir, 60, 90))
    s_ty.append(_typedim(spark, sf_dir, ["error", "purchase", "signup"]))
    r = p.run_once(spark)
    assert r["mode"] == "incremental", r
    want = _join3(
        _events(spark, sf_dir, 0, 300),
        _users(spark, sf_dir, 0, 90),
        _typedim(spark, sf_dir),
    )
    assert _ids(dest.read(spark)) == _ids(want)
    assert dest.read(spark).count() == want.count()
    assert p.run_once(spark)["mode"] == "noop"


def test_multi_source_fallbacks_and_validation(spark, sf_dir, tmp_path):
    s_ev = ManifestTable(str(tmp_path / "ev"))
    s_us = ManifestTable(str(tmp_path / "us"))
    dest = ManifestTable(str(tmp_path / "gold"))

    with pytest.raises(ValueError):
        Propagator([], dest, combine=_join_ev_users)
    with pytest.raises(ValueError):
        Propagator(
            [s_ev, s_us], dest, combine=_join_ev_users, keys=[["event_id"]]
        )
    p = Propagator([s_ev, s_us], dest, combine=_join_ev_users)  # no keys
    s_ev.append(_events(spark, sf_dir, 0, 100))
    s_us.append(_users(spark, sf_dir, 0, 50))
    assert p.run_once(spark)["mode"] == "full"
    s_ev.delete_where(spark, "event_id < 10")
    assert p.run_once(spark)["mode"] == "full"  # keyless: honest fallback
    assert _ids(dest.read(spark)) == _ids(
        _join_ev_users(
            _events(spark, sf_dir, 10, 100), _users(spark, sf_dir, 0, 50)
        )
    )
    # compact in range forces full even WITH keys
    p2 = Propagator(
        [s_ev, s_us], dest, combine=_join_ev_users,
        keys=[["event_id"], ["user_id"]], app_id="p2",
    )
    assert p2.run_once(spark)["mode"] == "full"
    s_ev.append(_events(spark, sf_dir, 100, 120))  # 2nd file: compactable
    m = s_ev.compact(spark, target_bytes=1 << 30)
    assert m is not None and m["op"] == "compact"  # a REAL compaction
    s_ev.append(_events(spark, sf_dir, 120, 140))
    assert p2.run_once(spark)["mode"] == "full"
    assert _ids(dest.read(spark)) == _ids(
        _join_ev_users(
            _events(spark, sf_dir, 10, 140), _users(spark, sf_dir, 0, 50)
        )
    )


def test_net_zero_range_still_advances_watermark(spark, sf_dir, tmp_path):
    """A range whose changes cancel exactly (delete + identical
    re-append) must STILL advance the propagator's watermark via a
    metadata-only merge commit — otherwise every later run re-reads an
    ever-growing range."""
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"), stats_cols=["event_id"])
    p = Propagator(
        [bronze], silver, lambda df: df, keys=[["event_id"]]
    )
    bronze.append(_events(spark, sf_dir, 0, 100))
    p.run_once(spark)
    bronze.delete_where(spark, "event_id < 30")
    bronze.append(_events(spark, sf_dir, 0, 30))  # identical re-add
    r = p.run_once(spark)
    assert r["mode"] == "incremental"
    assert p.reflected_versions() == (bronze.current_version(),)  # advanced
    assert p.run_once(spark)["mode"] == "noop"
    assert _ids(silver.read(spark)) == _ids(_events(spark, sf_dir, 0, 100))


# -- keep-best dedup over a bilinear combine (round 11) ---------------------


def _dj_dedup(tmp_path, spark, tag="d"):
    """left(user rows) ⋈ right(item rows with DUPLICATE item keys):
    the destination keeps the best row per item — combine is the plain
    bilinear join, the PROPAGATOR owns the dedup."""
    left = ManifestTable(str(tmp_path / f"l{tag}"))
    right = ManifestTable(str(tmp_path / f"r{tag}"), stats_cols=["item"])
    dest = ManifestTable(str(tmp_path / f"d{tag}"))

    def combine(ldf, rdf):
        return rdf.join(ldf, rdf.owner == ldf.uid, "inner").select(
            "item", "owner", "price", "uname"
        )

    prop = Propagator(
        [left, right],
        dest,
        combine,
        keys=[{"uid": "owner"}, {"rid": "item"}],
        dedup_keys=["item"],
        dedup_order=["price", "owner", "uname"],
    )
    return left, right, dest, prop


def _rows(df):
    return {tuple(r) for r in df.select("item", "owner", "price", "uname").collect()}


def test_dedup_combine_appends_compete_with_stored(spark, tmp_path):
    """Duplicate dedup keys SPLIT ACROSS commits — the case the
    bilinear contract used to forbid without key-aligned slicing: a
    later commit carries a better row for an existing key (winner
    replaced) and a worse one (stored winner survives).  Enforced
    incremental with the dedup flag; final state equals the one-shot
    keep-best over everything."""
    left, right, dest, prop = _dj_dedup(tmp_path, spark)
    left.append(
        spark.createDataFrame([(1, "ann"), (2, "bo")], "uid long, uname string")
    )
    right.append(
        spark.createDataFrame(
            [(10, 100, 1, 5.0), (11, 101, 2, 7.0)],
            "rid long, item long, owner long, price double",
        )
    )
    assert prop.run_once(spark)["mode"] == "full"
    # second wave: better row for item 100, worse row for item 101,
    # plus a brand-new item 102
    right.append(
        spark.createDataFrame(
            [(12, 100, 2, 3.0), (13, 101, 1, 9.0), (14, 102, 1, 1.0)],
            "rid long, item long, owner long, price double",
        )
    )
    r = prop.run_once(spark)
    assert r["mode"] == "incremental" and r.get("dedup") is True, r
    got = _rows(dest.read(spark))
    assert got == {
        (100, 2, 3.0, "bo"),   # new winner (lower price)
        (101, 2, 7.0, "bo"),   # stored winner survived the 9.0 challenger
        (102, 1, 1.0, "ann"),  # new key
    }
    # replay declined
    assert prop.run_once(spark)["mode"] == "noop"


def test_dedup_winner_retraction_resurrects_runner_up(spark, tmp_path):
    """Deleting the WINNING provenance row must resurrect the
    suppressed runner-up — the re-derivation path a plain keyed
    retraction cannot express.  Also: a key whose candidates all die
    vanishes, and untouched keys keep their winners."""
    left, right, dest, prop = _dj_dedup(tmp_path, spark, tag="e")
    left.append(
        spark.createDataFrame([(1, "ann"), (2, "bo")], "uid long, uname string")
    )
    right.append(
        spark.createDataFrame(
            [
                (10, 100, 1, 5.0),
                (11, 100, 2, 8.0),   # suppressed runner-up for item 100
                (12, 101, 1, 2.0),
                (13, 102, 2, 4.0),
            ],
            "rid long, item long, owner long, price double",
        )
    )
    assert prop.run_once(spark)["mode"] == "full"
    assert _rows(dest.read(spark)) == {
        (100, 1, 5.0, "ann"),
        (101, 1, 2.0, "ann"),
        (102, 2, 4.0, "bo"),
    }
    # delete item 100's winner (rid 10) and ALL of item 101
    right.delete_where(spark, "rid = 10 OR item = 101")
    r = prop.run_once(spark)
    assert (
        r["mode"] == "incremental"
        and r.get("retractions") is True
        and r.get("dedup") is True
    ), r
    assert _rows(dest.read(spark)) == {
        (100, 2, 8.0, "bo"),  # runner-up resurrected
        (102, 2, 4.0, "bo"),  # untouched key kept
    }


def test_dedup_left_delete_rederives_owned_keys(spark, tmp_path):
    """A LEFT-side delete retracts every key whose winner it produced;
    keys whose surviving right rows still join other left rows
    re-derive, keys with no surviving join vanish."""
    left, right, dest, prop = _dj_dedup(tmp_path, spark, tag="f")
    left.append(
        spark.createDataFrame([(1, "ann"), (2, "bo")], "uid long, uname string")
    )
    right.append(
        spark.createDataFrame(
            [
                (10, 100, 1, 5.0),
                (11, 100, 2, 8.0),
                (12, 101, 1, 2.0),
            ],
            "rid long, item long, owner long, price double",
        )
    )
    assert prop.run_once(spark)["mode"] == "full"
    left.delete_where(spark, "uid = 1")  # ann owned both winners
    r = prop.run_once(spark)
    assert r["mode"] == "incremental" and r.get("dedup") is True, r
    assert _rows(dest.read(spark)) == {
        (100, 2, 8.0, "bo"),  # re-derived from the surviving candidate
        # item 101 vanished: its only candidate joined the deleted user
    }


def test_dedup_requires_expressible_keys(spark, tmp_path):
    """When the OTHER side's provenance columns are invisible in the
    destination (here: uid joins away into `owner` but the spec says
    plain `uid`), the dedup CDC path cannot locate the winners a
    left-side delete produced — it declines and the run takes the
    honest full fallback, still correct."""
    left = ManifestTable(str(tmp_path / "lg"))
    right = ManifestTable(str(tmp_path / "rg"))
    dest = ManifestTable(str(tmp_path / "dg"))

    def combine(ldf, rdf):
        return rdf.join(ldf, rdf.owner == ldf.uid, "inner").select(
            "item", "owner", "price", "uname"
        )

    prop = Propagator(
        [left, right],
        dest,
        combine,
        keys=[["uid"], ["rid"]],  # uid does NOT survive combine (-> owner)
        dedup_keys=["item"],
        dedup_order=["price", "owner", "uname"],
    )
    left.append(
        spark.createDataFrame([(1, "ann"), (2, "bo")], "uid long, uname string")
    )
    right.append(
        spark.createDataFrame(
            [(10, 100, 1, 5.0), (11, 100, 2, 3.0)],
            "rid long, item long, owner long, price double",
        )
    )
    assert prop.run_once(spark)["mode"] == "full"
    right.delete_where(spark, "rid = 11")
    r = prop.run_once(spark)
    assert r["mode"] == "full", r
    assert _rows(dest.read(spark)) == {(100, 1, 5.0, "ann")}


def test_dedup_order_wide_without_aligned_slicing(spark, sf_dir, tmp_path):
    """The order_wide shape WITHOUT the dedup-key-aligned slicing
    discipline: lineitem splits by an ARBITRARY hash that scatters
    duplicate (orderkey, linenumber) keys across commits, the combine
    is the raw bilinear join, and the propagator's keep-best matches
    the one-shot first_seen_dedup result exactly."""
    from gmallrealtime02_spark.operators.dau import first_seen_dedup

    orders = load_table(spark, sf_dir, "orders").limit(200)
    lineitem = load_table(spark, sf_dir, "lineitem")

    def combine(o, li):
        j = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        return j.select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("detail_seq"),
            F.col("l_partkey").alias("sku_id"),
            F.col("l_quantity").alias("sku_num"),
            F.col("o_custkey").alias("user_id"),
        )

    bronze_o = ManifestTable(str(tmp_path / "bo"))
    bronze_l = ManifestTable(str(tmp_path / "bl"))
    silver = ManifestTable(str(tmp_path / "sv"))
    prop = Propagator(
        [bronze_o, bronze_l],
        silver,
        combine,
        keys=[
            {"o_orderkey": "order_id"},
            {"l_orderkey": "order_id", "l_linenumber": "detail_seq"},
        ],
        dedup_keys=["order_id", "detail_seq"],
        dedup_order=["sku_id", "sku_num", "user_id"],
    )
    # ARBITRARY slicing: crc32 of the part key — duplicates of one
    # (orderkey, linenumber) land in DIFFERENT commits
    sliced = lineitem.withColumn(
        "slice", F.crc32(F.col("l_partkey").cast("string")) % 2
    )
    bronze_o.append(orders)
    bronze_l.append(sliced.filter(F.col("slice") == 0).drop("slice"))
    assert prop.run_once(spark)["mode"] == "full"
    bronze_l.append(sliced.filter(F.col("slice") == 1).drop("slice"))
    r = prop.run_once(spark)
    assert r["mode"] == "incremental" and r.get("dedup") is True, r
    want = first_seen_dedup(
        combine(orders, lineitem),
        keys=["order_id", "detail_seq"],
        order_by=["sku_id", "sku_num", "user_id"],
    )
    got = {tuple(r) for r in silver.read(spark).collect()}
    assert got == {tuple(r) for r in want.collect()}


# -- streaming medallion chain (round 11) -----------------------------------

from gmallrealtime02_spark.streaming.propagate import make_medallion_sink


def test_medallion_sink_streams_chain_end_to_end(spark, sf_dir, tmp_path):
    """bronze → silver (propagator) → gold (rollup) driven by a REAL
    writeStream.foreachBatch over a file source: after
    processAllAvailable every layer equals its batch oracle, with one
    bronze commit per trigger and stage watermarks current."""
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    events = _events(spark, sf_dir, 0, 600)
    src_dir = str(tmp_path / "src")
    events.repartition(3).write.parquet(src_dir)
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"), stats_cols=["event_id"])
    prop = Propagator(
        [bronze],
        silver,
        lambda df: df.filter(F.col("event_id") % 10 != 0),
        keys=[["event_id"]],
    )
    gold = ContinuousAggregate(
        silver,
        str(tmp_path / "gold"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*"), "s": ("sum", "event_id")},
    )
    sink = make_medallion_sink(bronze, [prop], [gold])
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert bronze.current_version() == 3
    want = events.filter(F.col("event_id") % 10 != 0)
    assert silver.read(spark).count() == want.count()
    got = {(r.event_type, r.n, r.s) for r in gold.read(spark).collect()}
    exp = {
        (r.event_type, r.n, r.s)
        for r in want.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    assert got == exp
    # beyond batch 1, stages ran incrementally, not full
    modes = [
        h["result"]["mode"]
        for h in sink.history
        if h["stage"] == "stage0" and h["batch_id"] > 0
    ]
    assert modes and all(m == "incremental" for m in modes), sink.history


def test_medallion_sink_restart_mid_chain_exactly_once(
    spark, sf_dir, tmp_path
):
    """Crash INSIDE the chain (bronze committed, silver not), restart
    from the checkpoint: the replayed batch's bronze append is
    declined by the txn watermark, the stage redoes its range, and no
    layer double-counts or drops — the exactly-once claim under the
    worst interleaving."""
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    events = _events(spark, sf_dir, 0, 600)
    src_dir = str(tmp_path / "src")
    events.repartition(3).write.parquet(src_dir)
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"), stats_cols=["event_id"])
    prop = Propagator(
        [bronze], silver, lambda df: df, keys=[["event_id"]]
    )
    gold = ContinuousAggregate(
        silver,
        str(tmp_path / "gold"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*")},
    )
    inner = make_medallion_sink(bronze, [prop], [gold])
    crashed = {"done": False}

    def crashing_sink(batch_df, batch_id):
        if batch_id == 1 and not crashed["done"]:
            # bronze commits under the SAME txn the real sink would
            # use, then the "process dies" before the stage runs
            bronze.append(
                batch_df, txn=("medallion-stream", int(batch_id))
            )
            crashed["done"] = True
            raise RuntimeError("injected crash mid-chain")
        inner(batch_df, batch_id)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    import pyspark.errors

    try:
        with pytest.raises(pyspark.errors.StreamingQueryException):
            q.processAllAvailable()
    finally:
        q.stop()
    # restart from the same checkpoint: batch 1 replays
    q2 = (
        stream.writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert bronze.read(spark).count() == events.count()  # no double-count
    assert silver.read(spark).count() == events.count()
    got = {(r.event_type, r.n) for r in gold.read(spark).collect()}
    exp = {
        (r.event_type, r.n)
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exp


def test_medallion_sink_out_of_band_delete_retracts(spark, sf_dir, tmp_path):
    """A GDPR delete_where on bronze BETWEEN triggers rides the next
    tick's version range and propagates as a keyed retraction through
    the streaming chain (enforced from sink.history, not trusted)."""
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    events = _events(spark, sf_dir, 0, 600)
    src_dir = str(tmp_path / "src")
    events.filter(F.col("event_id") < 400).repartition(2).write.parquet(
        src_dir
    )
    bronze = ManifestTable(str(tmp_path / "bronze"), stats_cols=["event_id"])
    silver = ManifestTable(str(tmp_path / "silver"), stats_cols=["event_id"])
    prop = Propagator(
        [bronze], silver, lambda df: df, keys=[["event_id"]]
    )
    gold = ContinuousAggregate(
        silver,
        str(tmp_path / "gold"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*"), "s": ("sum", "event_id")},
    )
    sink = make_medallion_sink(bronze, [prop], [gold])

    def run_stream():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream()
    # out-of-band retention delete between triggers
    bronze.delete_where(spark, "event_id < 100")
    # new wave arrives; the delete rides this tick's version range
    events.filter(F.col("event_id") >= 400).repartition(1).write.mode(
        "append"
    ).parquet(src_dir)
    run_stream()
    retraction_runs = [
        h
        for h in sink.history
        if h["stage"] == "stage0" and h["result"].get("retractions")
    ]
    assert retraction_runs, sink.history
    want = events.filter(F.col("event_id") >= 100)
    assert silver.read(spark).count() == want.count()
    got = {(r.event_type, r.n, r.s) for r in gold.read(spark).collect()}
    exp = {
        (r.event_type, r.n, r.s)
        for r in want.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    assert got == exp


def test_multijoin_dedup_keep_best_three_sources(spark, tmp_path):
    """N-source keep-best (closing SURVEY §8j's residual): a 3-way
    join whose destination dedups by the middle source's key.
    Duplicate keys split across commits compete through the stored
    winners; deleting a winner's row on the OWNING side resurrects
    the runner-up; deleting a NON-owning side's row re-derives every
    key whose winner it produced — all enforced incremental."""
    users = ManifestTable(str(tmp_path / "u"))
    items = ManifestTable(str(tmp_path / "i"), stats_cols=["item"])
    cats = ManifestTable(str(tmp_path / "c"))
    dest = ManifestTable(str(tmp_path / "d"))

    def combine(u, it, c):
        return (
            it.join(u, it.owner == u.uid)
            .join(c, it.cat == c.cid)
            .select("item", "owner", "price", "uname", "cname")
        )

    prop = Propagator(
        [users, items, cats],
        dest,
        combine,
        keys=[{"uid": "owner"}, {"rid": "item"}, {"cid": "cname"}],
        dedup_keys={"item": "item"},
        dedup_order=["price", "owner", "uname", "cname"],
        dedup_side=1,
    )
    users.append(
        spark.createDataFrame([(1, "ann"), (2, "bo")], "uid long, uname string")
    )
    cats.append(
        spark.createDataFrame([(7, "x"), (8, "y")], "cid long, cname string")
    )
    items.append(
        spark.createDataFrame(
            [(10, 100, 1, 7, 5.0), (11, 100, 2, 7, 8.0), (12, 101, 1, 8, 2.0)],
            "rid long, item long, owner long, cat long, price double",
        )
    )
    assert prop.run_once(spark)["mode"] == "full"

    def got():
        return {
            tuple(r)
            for r in dest.read(spark)
            .select("item", "owner", "price", "uname", "cname")
            .collect()
        }

    assert got() == {
        (100, 1, 5.0, "ann", "x"),
        (101, 1, 2.0, "ann", "y"),
    }
    # a BETTER row for item 100 arrives in a later commit
    items.append(
        spark.createDataFrame(
            [(13, 100, 2, 8, 3.0)],
            "rid long, item long, owner long, cat long, price double",
        )
    )
    r = prop.run_once(spark)
    assert r["mode"] == "incremental" and r.get("dedup") is True, r
    assert got() == {
        (100, 2, 3.0, "bo", "y"),
        (101, 1, 2.0, "ann", "y"),
    }
    # delete the winner on the OWNING side: runner-up resurrects
    items.delete_where(spark, "rid = 13")
    r = prop.run_once(spark)
    assert r["mode"] == "incremental" and r.get("dedup") is True, r
    assert got() == {
        (100, 1, 5.0, "ann", "x"),
        (101, 1, 2.0, "ann", "y"),
    }
    # delete a NON-owning side's row (user ann): her winners re-derive
    users.delete_where(spark, "uid = 1")
    r = prop.run_once(spark)
    assert r["mode"] == "incremental" and r.get("dedup") is True, r
    assert got() == {
        (100, 2, 8.0, "bo", "x"),
        # item 101: only candidate joined the deleted user -> vanished
    }
    assert prop.run_once(spark)["mode"] == "noop"


def test_multijoin_dedup_invisible_provenance_full_fallback(
    spark, tmp_path
):
    """A non-owning side whose provenance does not survive combine
    forces the honest full fallback (the plain keyed path would be
    wrong under keep-best) — and stays correct."""
    users = ManifestTable(str(tmp_path / "u2"))
    items = ManifestTable(str(tmp_path / "i2"))
    cats = ManifestTable(str(tmp_path / "c2"))
    dest = ManifestTable(str(tmp_path / "d2"))

    def combine(u, it, c):
        return (
            it.join(u, it.owner == u.uid)
            .join(c, it.cat == c.cid)
            .select("item", "price", "uname", "cname")  # no owner col
        )

    prop = Propagator(
        [users, items, cats],
        dest,
        combine,
        keys=[{"uid": "owner"}, {"rid": "item"}, {"cid": "cname"}],
        dedup_keys={"item": "item"},
        dedup_order=["price", "uname", "cname"],
        dedup_side=1,
    )
    users.append(
        spark.createDataFrame([(1, "ann"), (2, "bo")], "uid long, uname string")
    )
    cats.append(spark.createDataFrame([(7, "x")], "cid long, cname string"))
    items.append(
        spark.createDataFrame(
            [(10, 100, 1, 7, 5.0), (11, 100, 2, 7, 3.0)],
            "rid long, item long, owner long, cat long, price double",
        )
    )
    assert prop.run_once(spark)["mode"] == "full"
    users.delete_where(spark, "uid = 2")  # bo's winner dies
    r = prop.run_once(spark)
    assert r["mode"] == "full", r  # provenance invisible -> honest full
    assert {
        tuple(x)
        for x in dest.read(spark)
        .select("item", "price", "uname", "cname")
        .collect()
    } == {(100, 5.0, "ann", "x")}


def test_single_source_dedup_keep_best(spark, tmp_path):
    """The one-source keep-best form: duplicate keys split
    across commits compete through the stored winners; a delete of the
    winning row resurrects the suppressed runner-up; a key's last row
    dying removes the key — all enforced incremental."""
    src = ManifestTable(str(tmp_path / "s"), stats_cols=["k"])
    dest = ManifestTable(str(tmp_path / "d"))
    prop = Propagator(
        [src],
        dest,
        lambda df: df.selectExpr("k AS key", "v * 10 AS score", "tag"),
        dedup_keys={"k": "key"},
        dedup_order=["score", "tag"],
    )
    src.append(
        spark.createDataFrame(
            [(1, 5, "a"), (1, 8, "b"), (2, 3, "c")],
            "k long, v long, tag string",
        )
    )
    assert prop.run_once(spark)["mode"] == "full"

    def got():
        return {
            tuple(r)
            for r in dest.read(spark).select("key", "score", "tag").collect()
        }

    assert got() == {(1, 50, "a"), (2, 30, "c")}
    # a better row for key 1 and a new key arrive
    src.append(
        spark.createDataFrame(
            [(1, 2, "d"), (3, 7, "e")], "k long, v long, tag string"
        )
    )
    r = prop.run_once(spark)
    assert r["mode"] == "incremental" and r.get("dedup") is True, r
    assert got() == {(1, 20, "d"), (2, 30, "c"), (3, 70, "e")}
    # delete the winning row (v=2): the 5 row resurfaces
    src.delete_where(spark, "k = 1 AND v = 2")
    r = prop.run_once(spark)
    assert (
        r["mode"] == "incremental"
        and r.get("retractions") is True
        and r.get("dedup") is True
    ), r
    assert got() == {(1, 50, "a"), (2, 30, "c"), (3, 70, "e")}
    # the whole key dies
    src.delete_where(spark, "k = 2")
    r = prop.run_once(spark)
    assert r["mode"] == "incremental" and r.get("dedup") is True, r
    assert got() == {(1, 50, "a"), (3, 70, "e")}
    assert prop.run_once(spark)["mode"] == "noop"


# -- Spark jobs per incremental run -----------------------------------------

_ITEMS = "rid long, item long, owner long, price double"
_USERS = "uid long, uname string"
_DEDUP = dict(dedup_keys=["item"], dedup_order=["price", "owner", "uname"])
_KEYS = dict(keys=[{"uid": "owner"}, {"rid": "item"}])

# Spark jobs fired by ONE incremental run of the two-source fixture
# below, per mode.  The two-source propagator class this one replaced
# fired 3 / 12 / 10 / 15 on the same fixture and session
# (shuffle_partitions=8); a rise means a new action or a lost persist
# in the run's plan.
_JOB_BUDGET = {
    "append": 3,
    "dedup_append": 12,
    "cdc": 10,
    "dedup_cdc": 15,
}


@pytest.mark.parametrize("mode", sorted(_JOB_BUDGET))
def test_incremental_run_job_count(spark, tmp_path, mode):
    left = ManifestTable(str(tmp_path / "l"))
    right = ManifestTable(str(tmp_path / "r"), stats_cols=["item"])
    dest = ManifestTable(str(tmp_path / "d"), stats_cols=["item"])

    def combine(ldf, rdf):
        return rdf.join(ldf, rdf.owner == ldf.uid, "inner").select(
            "item", "owner", "price", "uname"
        )

    kw = {
        "append": {},
        "dedup_append": _DEDUP,
        "cdc": _KEYS,
        "dedup_cdc": {**_KEYS, **_DEDUP},
    }[mode]
    prop = Propagator([left, right], dest, combine, **kw)
    left.append(spark.createDataFrame([(1, "ann"), (2, "bo")], _USERS))
    right.append(
        spark.createDataFrame(
            [(10, 100, 1, 5.0), (11, 101, 2, 8.0), (12, 102, 1, 2.0)], _ITEMS
        )
    )
    assert prop.run_once(spark)["mode"] == "full"
    if mode == "append":
        left.append(spark.createDataFrame([(3, "cy")], _USERS))
        right.append(spark.createDataFrame([(13, 103, 3, 1.0)], _ITEMS))
    elif mode == "dedup_append":
        right.append(
            spark.createDataFrame(
                [(13, 100, 2, 3.0), (14, 103, 1, 1.0)], _ITEMS
            )
        )
    else:
        right.delete_where(spark, "rid = 10")
    with jobs_fired(spark) as fired:
        r = prop.run_once(spark)
    assert r["mode"] == "incremental", r
    assert r.get("dedup", False) == mode.startswith("dedup"), r
    assert r.get("retractions", False) == mode.endswith("cdc"), r
    assert fired.n <= _JOB_BUDGET[mode], (mode, fired.n)
