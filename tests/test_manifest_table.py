"""ManifestTable: snapshot isolation, CAS commits, reader-safe
compaction (no exclusive access, unlike a rename-swap over a raw
directory), vacuum, and the streaming batch-atomic sink."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gmallrealtime02_spark.sources import load_table
from gmallrealtime02_spark.streaming.manifest import (
    CommitConflict,
    ManifestTable,
    make_manifest_append_sink,
)

from .conftest import jobs_fired


def _ids(df) -> list[int]:
    return sorted(r.event_id for r in df.select("event_id").collect())


def _events(spark, sf_dir, lo, hi):
    return (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        .select("event_id", "user_id", "event_type", "value")
    )


def test_append_read_roundtrip_and_versions(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    assert t.current_version() == 0
    with pytest.raises(FileNotFoundError):
        t.read(spark)
    t.append(_events(spark, sf_dir, 0, 100))
    t.append(_events(spark, sf_dir, 100, 250))
    assert t.current_version() == 2
    want = _ids(_events(spark, sf_dir, 0, 250))
    assert _ids(t.read(spark)) == want
    # time travel: v1 still reads exactly the first append
    assert _ids(t.read(spark, version=1)) == _ids(_events(spark, sf_dir, 0, 100))


def test_compaction_is_reader_safe(spark, sf_dir, tmp_path):
    """A reader that resolved the pre-compact version keeps its files
    (immutable, not yet vacuumed) while the live table swaps — no
    exclusive-access requirement, no partial state ever visible."""
    t = ManifestTable(str(tmp_path / "t"))
    for lo in range(0, 800, 100):  # 8 commits -> 8+ small files
        t.append(_events(spark, sf_dir, lo, lo + 100))
    v_before = t.current_version()
    old_reader = t.read(spark, version=v_before)  # lazy plan pins old files
    want = _ids(_events(spark, sf_dir, 0, 800))
    m = t.compact(spark, target_bytes=1 << 30)
    assert m is not None and m["op"] == "compact"
    assert len(m["files"]) == 1  # 1 GiB target at this size -> single file
    assert _ids(t.read(spark)) == want  # live table: same rows, fewer files
    assert _ids(old_reader) == want  # concurrent old-version reader: intact
    # under-fragmented: a second compact is a no-op
    assert t.compact(spark, target_bytes=1 << 30) is None


def test_compact_rebases_over_concurrent_append(spark, sf_dir, tmp_path):
    """An append landing between compact's snapshot and its commit is
    NOT lost: the CAS rebase unions compacted(old) + files added since."""
    t = ManifestTable(str(tmp_path / "t"))
    for lo in range(0, 300, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100))
    orig_commit = t._commit
    raced = {"done": False}

    def racing_commit(mk, **kw):
        if not raced["done"]:
            raced["done"] = True
            t2 = ManifestTable(t.root)  # a concurrent writer
            t2.append(_events(spark, sf_dir, 300, 400))
        return orig_commit(mk, **kw)

    t._commit = racing_commit
    m = t.compact(spark, target_bytes=1 << 30)
    t._commit = orig_commit
    assert m is not None
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 400))


def test_crash_mid_commit_leaves_table_untouched(spark, sf_dir, tmp_path):
    """Data files written but no manifest published (a crash before the
    CAS) are invisible to readers and reaped by vacuum as orphans."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 100))
    want = _ids(t.read(spark))
    # simulate: a writer died after _write_data, before _commit
    t._write_data(_events(spark, sf_dir, 100, 200))
    assert _ids(t.read(spark)) == want  # invisible
    removed = t.vacuum(keep_versions=1, retention_seconds=0)
    assert removed  # the orphans are reaped
    assert _ids(t.read(spark)) == want


def test_vacuum_retention(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    for lo in range(0, 300, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100))
    t.compact(spark, target_bytes=1 << 30)
    n_files_before = len(os.listdir(t.data_dir))
    removed = t.vacuum(keep_versions=1, retention_seconds=0)
    assert removed and len(os.listdir(t.data_dir)) < n_files_before
    # only the newest manifest survives; the table still reads fully
    assert t._versions() == [t.current_version()]
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 300))
    with pytest.raises(ValueError):
        t.vacuum(keep_versions=0)


def test_concurrent_appends_both_land(spark, sf_dir, tmp_path):
    """Two writers racing to the same version: the CAS makes the loser
    rebase — both appends survive in the final manifest chain."""
    from concurrent.futures import ThreadPoolExecutor

    t = ManifestTable(str(tmp_path / "t"))
    a = _events(spark, sf_dir, 0, 100).collect()
    b = _events(spark, sf_dir, 100, 200).collect()
    schema = "event_id long, user_id long, event_type string, value double"

    def write(rows):
        ManifestTable(t.root).append(spark.createDataFrame(rows, schema))

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(write, [a, b]))
    assert t.current_version() == 2
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 200))


def test_commit_conflict_surfaces_after_retries(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 50))

    def mk(base):
        # adversarial: publish the next version out from under every try
        nxt = base["version"] + 1
        with open(t._manifest_path(nxt), "w") as fh:
            json.dump({"version": nxt, "files": base["files"], "op": "x"}, fh)
        return {"files": base["files"], "op": "loser"}

    with pytest.raises(CommitConflict):
        t._commit(mk, max_retries=3)


def test_streaming_sink_commits_one_version_per_batch(spark, sf_dir, tmp_path):
    """The foreachBatch manifest sink: every micro-batch is one atomic
    commit, so a downstream reader sees exact batch boundaries."""
    t = ManifestTable(str(tmp_path / "t"))
    sink = make_manifest_append_sink(t)
    batches = [_events(spark, sf_dir, lo, lo + 100) for lo in (0, 100, 200)]
    for i, b in enumerate(batches):
        sink(b, i)
    assert t.current_version() == 3
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 300))
    for v in (1, 2, 3):
        assert len(_ids(t.read(spark, version=v))) == 100 * v


def test_read_appended_cdc(spark, sf_dir, tmp_path):
    """appended_files/read_appended: the CDC read — rows added between
    two versions, O(new data); None when a non-append commit breaks the
    premise; empty range -> empty frame of the table schema."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 100))
    t.append(_events(spark, sf_dir, 100, 250))
    got = t.read_appended(spark, since=1)
    assert _ids(got) == _ids(_events(spark, sf_dir, 100, 250))
    assert _ids(t.read_appended(spark, since=0)) == _ids(
        _events(spark, sf_dir, 0, 250)
    )
    assert t.read_appended(spark, since=2).count() == 0  # empty range
    t.compact(spark, target_bytes=1 << 30)
    assert t.read_appended(spark, since=1) is None  # non-append in range


def test_many_writer_cas_storm(spark, sf_dir, tmp_path):
    """8 writers × racing appends: every commit lands exactly once (the
    CAS total order), no rows lost, version count == commit count."""
    from concurrent.futures import ThreadPoolExecutor

    t = ManifestTable(str(tmp_path / "t"))
    schema = "event_id long, user_id long, event_type string, value double"
    chunks = [
        _events(spark, sf_dir, lo, lo + 50).collect()
        for lo in range(0, 400, 50)
    ]

    def write(rows):
        ManifestTable(t.root).append(spark.createDataFrame(rows, schema))

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(write, chunks))
    assert t.current_version() == 8
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 400))


def test_vacuum_reaps_stale_tmp_manifests(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 50))
    stale = os.path.join(t.manifest_dir, ".tmp-deadbeef.json")
    with open(stale, "w") as fh:
        fh.write("{}")
    t.vacuum(keep_versions=1, retention_seconds=0)
    assert not os.path.exists(stale)
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 50))


def test_stats_pruned_read(spark, sf_dir, tmp_path):
    """Footer min/max stats recorded at write time prune files at read
    time: a range read over day-sliced commits opens only the matching
    commits' files, with results identical to the full-scan filter —
    and stats survive compaction (recomputed for the rewritten files)."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id", "event_type"])
    for lo in range(0, 400, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100).coalesce(1))
    # prune on the id range: only commit #2's single file overlaps
    fs = t.pruned_files("event_id", lo=120, hi=180)
    assert len(fs) == 1, fs
    got = _ids(t.read_pruned(spark, "event_id", lo=120, hi=180))
    want = _ids(_events(spark, sf_dir, 120, 181))
    assert got == want
    # non-overlapping range -> zero files, empty result, schema intact
    assert t.pruned_files("event_id", lo=10_000_000) == []
    empty = t.read_pruned(spark, "event_id", lo=10_000_000)
    assert empty.count() == 0 and "event_type" in empty.columns
    # a column without recorded stats is conservatively unpruned
    assert len(t.pruned_files("user_id", lo=0, hi=1)) == 4
    # compaction recomputes stats for the rewritten file set
    t.compact(spark, target_bytes=1 << 30)
    assert len(t.pruned_files("event_id", lo=120, hi=180)) == 1  # the 1 big file
    got2 = _ids(t.read_pruned(spark, "event_id", lo=120, hi=180))
    assert got2 == want
    # string-typed stats prune too (byte/utf8 footer min-max)
    types = sorted(
        r.event_type
        for r in t.read(spark).select("event_type").distinct().collect()
    )
    hi_t = types[0]
    only = t.read_pruned(spark, "event_type", lo=hi_t, hi=hi_t)
    assert only.select("event_type").distinct().count() == 1


def test_txn_idempotent_appends_exactly_once(spark, sf_dir, tmp_path):
    """The Delta txnAppId/txnVersion pattern: a replayed (app, batch_id)
    append is declined — rows land exactly once, staged orphans are
    cleaned, the version counter does not advance — while other apps'
    appends are unaffected, and maintenance ops preserve the watermark."""
    t = ManifestTable(str(tmp_path / "t"))
    b0 = _events(spark, sf_dir, 0, 100)
    b1 = _events(spark, sf_dir, 100, 200)
    assert t.append(b0, txn=("app", 0)) is not None
    assert t.append(b1, txn=("app", 1)) is not None
    want = _ids(_events(spark, sf_dir, 0, 200))
    # restart replays batches 0 and 1: both declined
    assert t.append(b0, txn=("app", 0)) is None
    assert t.append(b1, txn=("app", 1)) is None
    assert t.current_version() == 2
    assert _ids(t.read(spark)) == want
    # no orphan data files left by the declined replays
    live = set(t.manifest()["files"])
    assert {n for n in os.listdir(t.data_dir) if n.endswith(".parquet")} == live
    # a different app_id has its own watermark
    assert t.append(_events(spark, sf_dir, 200, 250), txn=("other", 0)) is not None
    # compaction preserves the txn state: replay still declined after it
    t.compact(spark, target_bytes=1 << 30)
    assert t.append(b1, txn=("app", 1)) is None
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 250))


def test_rollup_sink_restart_replay_is_exactly_once(spark, sf_dir, tmp_path):
    """Simulated restart: the maintenance sink re-runs batches 1-2 after
    0-1 were committed (foreachBatch at-least-once) — the final table
    and rollup hold every batch exactly once."""
    from gmallrealtime02_spark.streaming.rollup import (
        make_rollup_maintenance_sink,
    )
    from tests.test_continuous_aggregate import _ca, _expected, _got

    src, ca = _ca(spark, tmp_path)
    sink = make_rollup_maintenance_sink(src, ca)
    batches = [_events_full(spark, sf_dir, lo, lo + 200) for lo in (0, 200, 400)]
    sink(batches[0], 0)
    sink(batches[1], 1)
    # crash before checkpoint write; restart replays batch 1, then 2
    sink(batches[1], 1)
    sink(batches[2], 2)
    assert src.read(spark).count() == sum(b.count() for b in batches)
    assert _got(spark, ca) == _expected(
        spark, _events_full(spark, sf_dir, 0, 600)
    )


def _events_full(spark, sf_dir, lo, hi):
    return (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        .select(
            "event_id",
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("dt"),
        )
    )


def test_schema_evolution_additive(spark, sf_dir, tmp_path):
    """Appending a frame with a new column evolves the table schema:
    reads surface the column (NULL for pre-evolution rows), compaction
    preserves the evolved shape, and a same-name type change is refused
    instead of silently corrupting old files' reads."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 100))
    evolved = _events(spark, sf_dir, 100, 200).withColumn(
        "source", F.lit("mobile")
    )
    t.append(evolved)
    df = t.read(spark)
    assert "source" in df.columns
    assert df.count() == df.where("event_id IS NOT NULL").count()
    nulls = df.where(F.col("source").isNull()).count()
    tagged = df.where(F.col("source") == "mobile").count()
    assert (nulls, tagged) == (100, 100)  # old rows NULL, new rows tagged
    # pruned and CDC reads see the evolved schema too
    assert "source" in t.read_pruned(spark, "event_id", lo=0).columns
    assert "source" in t.read_appended(spark, since=1).columns
    # compaction keeps the evolved shape
    t.compact(spark, target_bytes=1 << 30)
    after = t.read(spark)
    assert "source" in after.columns
    assert after.where(F.col("source") == "mobile").count() == 100
    # type conflict: refused
    import pytest as _pytest

    bad = _events(spark, sf_dir, 200, 210).withColumn(
        "source", F.lit(7).cast("int")
    )
    with _pytest.raises(TypeError, match="evolution conflict"):
        t.append(bad)


def test_history_audit_log(spark, sf_dir, tmp_path):
    """history(): one audit row per retained version with op, file
    deltas, and txn watermarks — append/compact shapes both visible."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 100), txn=("s", 0))
    t.append(_events(spark, sf_dir, 100, 200), txn=("s", 1))
    t.compact(spark, target_bytes=1 << 30)
    h = t.history()
    assert [r["version"] for r in h] == [1, 2, 3]
    assert [r["op"] for r in h] == ["append", "append", "compact"]
    assert h[1]["added_files"] > 0 and h[1]["removed_files"] == 0
    assert h[2]["removed_files"] > 0  # the compaction retired files
    assert h[2]["n_files"] == 1 and h[2]["bytes"] > 0
    assert h[2]["txn"] == {"s": 1}  # watermark carried through compact


def test_history_stats_each_data_file_once(spark, tmp_path, monkeypatch):
    """history() over an append-fed table: every version carries the
    growing file list, but each distinct data file is stat'ed once per
    call (data files are immutable), and the bytes are unchanged."""
    t = ManifestTable(str(tmp_path / "t"))
    for lo in range(0, 50, 10):
        t.append(spark.range(lo, lo + 10, 1, numPartitions=2))
    want = [
        sum(os.path.getsize(f) for f in t.files(v)) for v in range(1, 6)
    ]
    distinct = {f for v in range(1, 6) for f in t.files(v)}
    calls: list[str] = []
    getsize = os.path.getsize

    def counting(path):
        calls.append(path)
        return getsize(path)

    monkeypatch.setattr(os.path, "getsize", counting)
    h = t.history()
    assert [r["bytes"] for r in h] == want
    assert sorted(calls) == sorted(distinct)


def test_compact_declines_when_snapshot_rewritten(spark, sf_dir, tmp_path):
    """A replace() (or second compact) winning the race against an
    in-flight compact must NOT be clobbered: the stale compact declines
    (returns None), its staged rewrite files are reaped immediately, and
    the table reads exactly the winner's rows."""
    t = ManifestTable(str(tmp_path / "t"))
    for lo in range(0, 300, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100))
    orig_commit = t._commit
    raced = {"done": False}

    def racing_commit(mk, **kw):
        if not raced["done"]:
            raced["done"] = True
            t2 = ManifestTable(t.root)  # concurrent writer REPLACES content
            t2.replace(_events(spark, sf_dir, 500, 600))
        return orig_commit(mk, **kw)

    t._commit = racing_commit
    n_data_before = len(os.listdir(t.data_dir))
    m = t.compact(spark, target_bytes=1 << 30)
    t._commit = orig_commit
    assert m is None  # declined, not clobbered
    # the winner's replace is intact — no resurrected pre-replace rows
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 500, 600))
    # staged compacted files were cleaned up (replace added files too, so
    # compare against live + retained-version counts, not raw before)
    live = set()
    for v in t._versions():
        live |= set(t.manifest(v)["files"])
    on_disk = {n for n in os.listdir(t.data_dir) if n.endswith(".parquet")}
    assert on_disk == live
    # and a re-run against the fresh snapshot is a clean no-op (1 file)
    assert t.compact(spark, target_bytes=1 << 30) is None


def test_vacuum_retention_spares_inflight_staging(spark, sf_dir, tmp_path):
    """Default vacuum must not delete files staged by an in-flight
    commit: _write_data lands data files BEFORE the manifest CAS, so a
    concurrent vacuum with the default retention keeps young
    unreferenced files; the commit then publishes safely."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 100))
    # simulate an in-flight append: staged, manifest not yet committed
    staged, stats = t._write_data(_events(spark, sf_dir, 100, 200))
    removed = t.vacuum(keep_versions=1)  # default retention horizon
    assert removed == []  # young staging survives
    for f in staged:
        assert os.path.exists(os.path.join(t.data_dir, f))
    # the in-flight commit now completes and the table reads fully
    def mk(base):
        return {
            "files": base["files"] + staged,
            "op": "append",
            "stats": {**base.get("stats", {}), **stats},
            "schema": base.get("schema"),
        }

    t._commit(mk)
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 200))


def test_read_appended_below_vacuum_horizon_returns_none(spark, sf_dir, tmp_path):
    """After vacuum removed old manifests, a CDC range reaching below
    the retained horizon returns None (full-recompute fallback), never
    FileNotFoundError — ContinuousAggregate.refresh() depends on it."""
    t = ManifestTable(str(tmp_path / "t"))
    for lo in range(0, 300, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100))
    t.vacuum(keep_versions=1, retention_seconds=0)  # only v3 retained
    assert t.appended_files(since=1, until=3) is None
    assert t.read_appended(spark, since=1) is None
    assert t.read_appended(spark, since=0) is None
    # a range fully inside the retained horizon still works: nothing new
    assert t.read_appended(spark, since=3).count() == 0


def test_upsert_merges_and_is_touched_files_only(spark, sf_dir, tmp_path):
    """upsert(): batch rows win on key collision; files whose stat range
    cannot contain any batch key are carried into the new manifest
    UNTOUCHED (same file names — metadata-only, zero rewrite)."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    # two key-disjoint, stat-tight files: [0,100) and [100,200)
    t.append(_events(spark, sf_dir, 0, 100))
    t.append(_events(spark, sf_dir, 100, 200))
    old_files = dict(zip(t.manifest()["files"], ["lo", "hi"]))
    lo_file = t.manifest(1)["files"][0]
    # batch overlaps only [100,200): bumps value for ids 150..159 + adds 200..209
    batch = _events(spark, sf_dir, 150, 210).withColumn(
        "value", F.col("value") + 1000.0
    )
    m = t.upsert(spark, batch, keys=["event_id"])
    assert m is not None and m["op"] == "upsert"
    # the low file survived by name — never read, never rewritten
    assert lo_file in m["files"]
    # and the high file was retired
    assert sum(1 for f in m["files"] if f in old_files) == 1
    got = t.read(spark)
    assert got.count() == 210
    assert got.filter(F.col("value") >= 1000.0).count() == 60
    assert (
        got.filter((F.col("event_id") < 150) & (F.col("value") >= 1000.0)).count()
        == 0
    )


def test_upsert_txn_replay_declined(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    b = _events(spark, sf_dir, 0, 100)
    assert t.upsert(spark, b, ["event_id"], txn=("app", 7)) is not None
    v = t.current_version()
    # checkpoint replay of the same batch id: declined, no new version
    assert t.upsert(spark, b, ["event_id"], txn=("app", 7)) is None
    assert t.current_version() == v
    assert _ids(t.read(spark)) == _ids(b)
    # data dir holds exactly the live files (replay staging reaped)
    on_disk = {n for n in os.listdir(t.data_dir) if n.endswith(".parquet")}
    assert on_disk == set(t.manifest()["files"])


def test_upsert_restarts_on_concurrent_commit(spark, sf_dir, tmp_path):
    """A commit landing between upsert's snapshot and its CAS forces a
    full re-merge (the interloper's rows might share keys) — the final
    table equals sequential application, no duplicates, no lost rows."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100))
    orig_commit = t._commit
    raced = {"done": False}

    def racing_commit(mk, **kw):
        if not raced["done"]:
            raced["done"] = True
            t2 = ManifestTable(t.root, stats_cols=["event_id"])
            # interloper upserts an OVERLAPPING key range
            t2.upsert(spark, _events(spark, sf_dir, 50, 150), ["event_id"])
        return orig_commit(mk, **kw)

    t._commit = racing_commit
    m = t.upsert(
        spark,
        _events(spark, sf_dir, 90, 120).withColumn("value", F.lit(-1.0)),
        ["event_id"],
    )
    t._commit = orig_commit
    assert m is not None
    got = t.read(spark)
    assert _ids(got) == _ids(_events(spark, sf_dir, 0, 150))  # no dupes
    assert got.filter(F.col("value") == -1.0).count() == 30  # ours won


def test_upsert_schema_evolution(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100))
    evolved = _events(spark, sf_dir, 50, 120).withColumn(
        "flag", F.lit("new")
    )
    t.upsert(spark, evolved, ["event_id"])
    got = t.read(spark)
    assert "flag" in got.columns
    assert got.filter(F.col("flag") == "new").count() == 70
    assert got.filter(F.col("flag").isNull()).count() == 50


def test_delete_range_touched_files_only(spark, sf_dir, tmp_path):
    """delete_range(): files outside the range survive BY NAME; a file
    fully inside the range disappears (zero-row rewrite dropped); a file
    partially overlapping is rewritten to its complement."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100))    # untouched
    t.append(_events(spark, sf_dir, 100, 200))  # fully deleted
    t.append(_events(spark, sf_dir, 200, 300))  # partially overlapped
    f_lo = t.manifest(1)["files"][0]
    m = t.delete_range(spark, "event_id", lo=100, hi=249)
    assert m is not None and m["op"] == "delete"
    assert f_lo in m["files"]  # untouched file carried by name
    got = t.read(spark)
    assert _ids(got) == _ids(_events(spark, sf_dir, 0, 100)) + _ids(
        _events(spark, sf_dir, 250, 300)
    )
    # one-sided bounds
    t.delete_range(spark, "event_id", hi=49)
    assert min(_ids(t.read(spark))) == 50
    t.delete_range(spark, "event_id", lo=260)
    assert max(_ids(t.read(spark))) == 259
    with pytest.raises(ValueError):
        t.delete_range(spark, "event_id")


def test_delete_range_is_non_append_for_cdc(spark, sf_dir, tmp_path):
    """A delete in the version range forces incremental consumers to the
    full-recompute fallback — a rollup must never keep deleted rows."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100))
    t.delete_range(spark, "event_id", lo=0, hi=9)
    assert t.read_appended(spark, since=1) is None
    # and the continuous aggregate honestly recomputes
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    ca = ContinuousAggregate(
        t,
        str(tmp_path / "rollup"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*")},
    )
    r = ca.refresh(spark)
    assert r["mode"] == "full"
    assert (
        ca.read(spark).agg(F.sum("n")).first()[0]
        == t.read(spark).count()
        == 90
    )


def test_delete_range_txn_replay_and_race(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 200))
    assert t.delete_range(spark, "event_id", lo=0, hi=9, txn=("gc", 1)) is not None
    v = t.current_version()
    assert t.delete_range(spark, "event_id", lo=0, hi=9, txn=("gc", 1)) is None
    assert t.current_version() == v  # replay declined
    # race: an append lands mid-delete; the delete restarts and the
    # appended rows (outside the range) survive
    orig_commit = t._commit
    raced = {"done": False}

    def racing_commit(mk, **kw):
        if not raced["done"]:
            raced["done"] = True
            ManifestTable(t.root, stats_cols=["event_id"]).append(
                _events(spark, sf_dir, 300, 350)
            )
        return orig_commit(mk, **kw)

    t._commit = racing_commit
    m = t.delete_range(spark, "event_id", lo=100, hi=199)
    t._commit = orig_commit
    assert m is not None
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 10, 100)) + _ids(
        _events(spark, sf_dir, 300, 350)
    )


def test_bloom_point_lookup_skips_files(spark, sf_dir, tmp_path):
    """Bloom-indexed point reads: the files are sliced by a key HASH so
    every file's [min, max] for event_id spans ~the whole range and
    range stats can skip nothing — ONLY the bloom can — and the result
    must equal the exact IN-list filter."""
    t = ManifestTable(
        str(tmp_path / "t"), stats_cols=["event_id"], bloom_cols=["event_id"]
    )
    ev = _events(spark, sf_dir, 0, 400).withColumn(
        "slice", F.crc32(F.col("event_id").cast("string")) % 4
    )
    for i in range(4):
        t.append(ev.filter(F.col("slice") == i).drop("slice").coalesce(1))
    probes = [7, 211]  # unique keys: each lives in exactly one file
    kept = t.point_files("event_id", probes)
    assert 0 < len(kept) < 4, kept  # skipped some, never everything
    got = t.read_points(spark, "event_id", probes)
    assert _ids(got) == probes
    # absent key: everything skipped, empty result of the right schema
    assert t.point_files("event_id", [10**12]) == []
    assert t.read_points(spark, "event_id", [10**12]).count() == 0
    # heavy-hitter column (≈150 users × many rows): the bloom keeps
    # every file — correct, the index can't help that shape
    uid = ev.select("user_id").first()[0]
    got_u = t.read_points(spark, "user_id", [uid])
    want_u = _events(spark, sf_dir, 0, 400).filter(F.col("user_id") == uid)
    assert got_u.count() == want_u.count()  # no bloom for user_id: exact


def test_bloom_commit_fires_no_schema_inference_job(spark, tmp_path):
    """A bloom-indexed commit reads its staged files back with the
    written frame's schema.  Its jobs are the write plus the file-meta
    build (a shuffle stage and its collect); reading the schema off a
    staged file used to add a fourth."""
    t = ManifestTable(
        str(tmp_path / "t"), stats_cols=["id"], bloom_cols=["id", "k"]
    )

    def batch(lo):
        return spark.range(lo, lo + 100, 1, numPartitions=2).selectExpr(
            "id", "CAST(id % 7 AS STRING) AS k"
        )

    t.append(batch(0))
    with jobs_fired(spark) as fired:
        t.append(batch(100))
    assert fired.n == 3
    m = t.manifest()
    assert len(m["files"]) == 4
    for f in m["files"]:
        assert set(t._bloom_for(f, m["stats"][f])) == {"id", "k"}, f
    assert t.read_points(spark, "id", [150]).count() == 1
    # the bloom-only rebuild over committed files (bench.py's
    # --bloom-scaling surface) reproduces the commit's sidecars
    import pyarrow.parquet as pq

    rows = {
        f: pq.ParquetFile(os.path.join(t.data_dir, f)).metadata.num_rows
        for f in m["files"]
    }
    assert t._build_blooms(spark, m["files"], rows) == {
        f: t._bloom_for(f, m["stats"][f]) for f in m["files"]
    }


def test_bloom_survives_carry_and_upsert(spark, sf_dir, tmp_path):
    """Untouched files carried through an upsert keep their blooms (the
    index is per-file metadata, it must ride every carry path)."""
    t = ManifestTable(
        str(tmp_path / "t"), stats_cols=["event_id"], bloom_cols=["user_id"]
    )
    t.append(_events(spark, sf_dir, 0, 100).coalesce(1))
    t.append(_events(spark, sf_dir, 100, 200).coalesce(1))
    t.upsert(spark, _events(spark, sf_dir, 150, 210), keys=["event_id"])
    m = t.manifest()
    for f in m["files"]:
        assert t._bloom_for(f, m["stats"].get(f, {})), f
    # and the lookup still answers exactly
    uid = _events(spark, sf_dir, 0, 100).select("user_id").first()[0]
    got = t.read_points(spark, "user_id", [uid])
    want = (
        _events(spark, sf_dir, 0, 210).filter(F.col("user_id") == uid)
    )
    assert got.count() == want.count()


def test_maintain_compacts_and_vacuums(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    for lo in range(0, 300, 50):
        t.append(_events(spark, sf_dir, lo, lo + 50))
    want = _ids(t.read(spark))
    r = t.maintain(spark, max_files=4, retention_seconds=0, keep_versions=1)
    assert r["compacted"] and r["files_after"] == 1 and r["vacuumed"] > 0
    assert _ids(t.read(spark)) == want
    # under the threshold: maintain is a cheap no-op
    r2 = t.maintain(spark, max_files=4, retention_seconds=0, keep_versions=1)
    assert not r2["compacted"] and r2["vacuumed"] == 0


def test_index_config_survives_config_blind_handles(spark, sf_dir, tmp_path):
    """stats/bloom settings are TABLE metadata: a maintenance handle
    opened with the bare root must keep recomputing stats and blooms
    through compact/upsert instead of silently retiring the indexes."""
    t = ManifestTable(
        str(tmp_path / "t"), stats_cols=["event_id"], bloom_cols=["event_id"]
    )
    t.append(_events(spark, sf_dir, 0, 100).coalesce(1))
    t.append(_events(spark, sf_dir, 100, 200).coalesce(1))
    blind = ManifestTable(str(tmp_path / "t"))  # no config args
    assert blind.stats_cols == ["event_id"]  # inherited from the table
    assert blind.bloom_cols == ["event_id"]
    blind.compact(spark, target_bytes=1 << 30)
    m = blind.manifest()
    for f in m["files"]:
        st = m["stats"].get(f, {})
        assert "event_id" in st, "compact retired the range stats"
        assert t._bloom_for(f, st), "compact retired the bloom index"
    # pruning still works through the rewritten file set
    assert len(blind.pruned_files("event_id", 0, 10)) == 1
    assert blind.point_files("event_id", [10**12]) == []
    # and a blind upsert keeps indexing its rewrite
    blind.upsert(spark, _events(spark, sf_dir, 150, 210), keys=["event_id"])
    m2 = blind.manifest()
    assert all(
        blind._bloom_for(f, m2["stats"].get(f, {})) for f in m2["files"]
    )


def test_delete_range_keeps_null_keyed_rows(spark, sf_dir, tmp_path):
    """NULL keys are NOT in any delete range: they must survive the
    rewrite (filter(~cond) would silently drop them — layout-dependent
    data loss the review caught)."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    base = _events(spark, sf_dir, 0, 100)
    nulled = base.withColumn(
        "event_id",
        F.when(F.col("event_id") < 10, F.lit(None)).otherwise(
            F.col("event_id")
        ),
    )
    t.append(nulled)
    t.delete_range(spark, "event_id", lo=50, hi=59)
    got = t.read(spark)
    assert got.filter(F.col("event_id").isNull()).count() == 10  # survived
    assert got.count() == 90  # only the 10 in-range rows deleted


def test_empty_commits_read_as_empty_frame(spark, sf_dir, tmp_path):
    """A committed-but-empty table (zero-row staging parts dropped, or
    a delete emptied it) reads as an empty frame of the recorded
    schema — never FileNotFoundError (only a never-committed table
    raises)."""
    t = ManifestTable(str(tmp_path / "t"))
    with pytest.raises(FileNotFoundError):
        t.read(spark)  # no commits at all: still an error
    t.append(_events(spark, sf_dir, 0, 100).limit(0))  # empty commit
    assert t.current_version() == 1
    got = t.read(spark)
    assert got.count() == 0
    assert got.columns == ["event_id", "user_id", "event_type", "value"]
    # a table emptied BY a delete also stays readable
    t2 = ManifestTable(str(tmp_path / "t2"), stats_cols=["event_id"])
    t2.append(_events(spark, sf_dir, 0, 50))
    t2.delete_range(spark, "event_id", lo=0, hi=49)
    assert t2.read(spark).count() == 0


def test_empty_upsert_is_noop(spark, sf_dir, tmp_path):
    """An idle micro-batch through the upsert sink must NOT rewrite the
    table (the O(table)-per-idle-tick cost the review caught): no new
    version, no file churn."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100))
    v, files = t.current_version(), set(t.manifest()["files"])
    assert t.upsert(spark, _events(spark, sf_dir, 0, 100).limit(0), ["event_id"]) is None
    assert t.current_version() == v
    assert set(t.manifest()["files"]) == files


def test_bloom_temporal_probe_matches_iso_string(spark, sf_dir, tmp_path):
    """Bloom hashing canonicalizes through _jsonable: a probe given as
    the documented ISO string must hit the same files as the native
    datetime — a format-sensitive hash would false-NEGATIVE and lose
    rows (the one bloom direction that breaks correctness)."""
    t = ManifestTable(str(tmp_path / "t"), bloom_cols=["ts"])
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select("event_id", "ts")
    )
    t.append(ev.filter(F.col("event_id") < 100).coalesce(1))
    t.append(ev.filter(F.col("event_id") >= 100).coalesce(1))
    row = ev.filter(F.col("event_id") == 7).first()
    native = row["ts"]
    iso = native.isoformat()
    kept_native = t.point_files("ts", [native])
    kept_iso = t.point_files("ts", [iso])
    assert kept_native == kept_iso
    assert 0 < len(kept_native) <= 2
    got = t.read_points(spark, "ts", [native])
    assert got.filter(F.col("event_id") == 7).count() == 1


def test_bloom_numeric_probe_is_type_insensitive(spark, sf_dir, tmp_path):
    """Numerically equal probes of a different Python type than the
    written column (int 3 vs float 3.0 vs Decimal('3.00')) must hash to
    the same bit positions: a type-sensitive hash would false-NEGATIVE
    and read_points would silently drop rows the exact isin() residual
    matches cross-type."""
    from decimal import Decimal

    from gmallrealtime02_spark.streaming.manifest import _bloom_canon

    t = ManifestTable(str(tmp_path / "t"), bloom_cols=["value"])
    ev = _events(spark, sf_dir, 0, 200).withColumn(
        "value", (F.col("event_id") % 50).cast("double")
    )
    t.append(ev.filter(F.col("event_id") < 100).coalesce(1))
    t.append(ev.filter(F.col("event_id") >= 100).coalesce(1))
    # filters were built from float 3.0; probe with every numeric twin
    kept_float = t.point_files("value", [3.0])
    assert kept_float == t.point_files("value", [3])
    assert kept_float == t.point_files("value", [Decimal("3.00")])
    assert len(kept_float) >= 1
    assert t.read_points(spark, "value", [3]).count() == ev.filter(
        F.col("value") == 3.0
    ).count()
    # the canonicalizer itself: one text per numeric value
    assert _bloom_canon(3) == _bloom_canon(3.0) == _bloom_canon(Decimal("3.00"))
    assert _bloom_canon(3.5) == _bloom_canon(Decimal("3.50"))
    assert _bloom_canon(1e-7) == _bloom_canon(Decimal("0.0000001"))
    # non-finite: one consistent text per value across float/Decimal
    assert _bloom_canon(float("nan")) == _bloom_canon(Decimal("nan")) == "NaN"
    assert _bloom_canon(float("inf")) == "inf"  # int() overflow -> str()


def test_bloom_bits_rounded_to_power_of_two(spark, sf_dir, tmp_path):
    """A custom bloom_bits that is neither byte-aligned nor a power of
    two must not truncate the bitmap (positions mod m in the tail would
    IndexError at build and probe time) — sizes round UP to a power of
    two and every probe still works."""
    t = ManifestTable(
        str(tmp_path / "t"), bloom_cols=["event_id"], bloom_bits=1001
    )
    t.append(_events(spark, sf_dir, 0, 50).coalesce(1))
    m = t.manifest()
    entry = t._bloom_for(m["files"][0], m["stats"].get(m["files"][0], {}))["event_id"]
    assert entry["m"] == 1024  # 1001 -> next power of two
    assert t.read_points(spark, "event_id", [7]).count() == 1


def test_bloom_size_override_wins_without_bloom_cols(spark, sf_dir, tmp_path):
    """ManifestTable(root, bloom_bits=...) ALONE (no bloom_cols) must
    honor the explicit size override instead of silently keeping the
    stored config — the documented constructor-args-win contract."""
    t = ManifestTable(
        str(tmp_path / "t"), bloom_cols=["event_id"], bloom_bits=8192
    )
    t.append(_events(spark, sf_dir, 0, 50).coalesce(1))
    blind = ManifestTable(str(t.root), bloom_bits=1 << 15)
    assert blind.bloom_cols == ["event_id"]  # inherited from config
    assert blind.bloom_bits == 1 << 15  # explicit override wins alone
    blind.append(_events(spark, sf_dir, 50, 100).coalesce(1))
    m = blind.manifest()
    sizes = {
        blind._bloom_for(f, m["stats"].get(f, {}))["event_id"]["m"]
        for f in m["files"]
    }
    assert (1 << 15) in sizes  # the new file used the override
    # and a fully config-blind handle still probes both sizes exactly
    reader = ManifestTable(str(t.root))
    assert reader.read_points(spark, "event_id", [7, 70]).count() == 2


def test_point_files_type_mismatched_probe_is_conservative(
    spark, sf_dir, tmp_path
):
    """A probe whose type cannot order against the stored stats (int
    against ISO-string temporal stats) must degrade conservatively
    (keep the file), not raise TypeError — stats may only skip work,
    never fail a read."""
    t = ManifestTable(
        str(tmp_path / "t"), stats_cols=["ts"], bloom_cols=["ts"]
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 100)
        .select("event_id", "ts")
    )
    t.append(ev.coalesce(1))
    # int vs ISO-string stats: the range pre-filter must not raise; it
    # keeps the value conservatively and lets the bloom (which hashes
    # cross-type exactly) decide — no datetime equals int 12345, so the
    # drop it produces is correct, and read_points returns empty
    # (read_points' exact isin() residual would separately reject the
    # int-vs-timestamp comparison at analysis time — Spark semantics;
    # the metadata layer's contract is just: prune, never raise)
    kept = t.point_files("ts", [12345])
    assert kept == [] or kept == t.manifest()["files"]


def test_executor_bloom_build_bit_identical_to_python_reference(
    spark, sf_dir, tmp_path
):
    """The executor-side bloom build (one Spark job: JVM md5 for
    string/integral/date, shared-Python canon for float/decimal/
    timestamp, numpy scatter per file) must produce BIT-IDENTICAL
    filters to the driver-side Python reference (_file_bloom) across
    every supported column type — the pin that makes the hash layout an
    interchangeable contract, not an implementation accident."""
    cols = ["event_id", "event_type", "ts", "value", "dt", "dec"]
    t = ManifestTable(str(tmp_path / "t"), bloom_cols=cols)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "event_type", "ts", "value")
        .withColumn("dt", F.to_date("ts"))
        .withColumn("dec", F.col("value").cast("decimal(12,2)"))
    )
    t.append(ev.repartition(4))
    m = t.manifest()
    assert len(m["files"]) == 4
    for f in m["files"]:
        got = t._bloom_for(f, m["stats"].get(f, {}))
        ref = t._file_bloom(os.path.join(t.data_dir, f))
        assert set(got) == set(cols)
        for c in cols:
            assert got[c]["m"] == ref[c]["m"], (f, c)
            assert got[c]["k"] == ref[c]["k"], (f, c)
            assert got[c]["b"] == ref[c]["b"], (f, c)
    # and the index actually works end-to-end after the move
    probe = ev.filter(F.col("event_id") == 42).first()
    assert t.read_points(spark, "event_id", [42]).count() == 1
    assert t.read_points(spark, "event_type", [probe["event_type"]]).count() == ev.filter(
        F.col("event_type") == probe["event_type"]
    ).count()


def test_delta_log_commit_weight_is_flat(spark, sf_dir, tmp_path):
    """Log segmentation: each commit publishes a DELTA (added/removed
    files + stats for added only), so the manifest written per commit
    stays O(commit) while the table grows — the property that keeps a
    10^6-file table committable.  Resolution still returns the full
    state (external contract unchanged)."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    sizes = []
    for lo in range(0, 1000, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100).coalesce(1))
        v = t.current_version()
        with open(t._manifest_path(v)) as fh:
            d = json.load(fh)
        assert "files" not in d  # delta format, not full state
        assert len(d["add"]) == 1 and d["remove"] == []
        assert set(d["stats"]) == set(d["add"])  # added files only
        sizes.append(os.path.getsize(t._manifest_path(v)))
    # ten commits: the last delta is no heavier than the first (within
    # noise) even though the table holds 10x the files
    assert sizes[-1] < sizes[0] * 2
    assert len(t.manifest()["files"]) == 10
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 1000))
    # resolved stats cover every live file (carried through replay)
    m = t.manifest()
    assert set(m["stats"]) == set(m["files"])


def test_checkpoint_bounds_replay(spark, sf_dir, tmp_path):
    """Every checkpoint_interval'th commit also writes a full-state
    checkpoint; resolving a later version needs only the checkpoint
    plus the deltas above it — proven by deleting every manifest below
    the checkpoint and reading the table anyway."""
    t = ManifestTable(str(tmp_path / "t"))
    t.checkpoint_interval = 4  # instance override for the test
    for lo in range(0, 600, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100))
    assert os.path.exists(t._ckpt_path(4))
    # cold handle, history below the checkpoint gone
    for v in (1, 2, 3):
        os.remove(t._manifest_path(v))
    cold = ManifestTable(str(t.root))
    assert _ids(cold.read(spark)) == _ids(_events(spark, sf_dir, 0, 600))
    assert _ids(cold.read(spark, version=4)) == _ids(
        _events(spark, sf_dir, 0, 400)
    )


def test_vacuum_materializes_checkpoint_at_retention_boundary(
    spark, sf_dir, tmp_path
):
    """Vacuum deletes manifests below the kept window — the oldest
    retained version must first get a checkpoint, or it would become
    unresolvable (its replay history is gone)."""
    t = ManifestTable(str(tmp_path / "t"))
    for lo in range(0, 500, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100))
    t.vacuum(keep_versions=2, retention_seconds=0)
    assert t._versions() == [4, 5]
    assert os.path.exists(t._ckpt_path(4))
    cold = ManifestTable(str(t.root))
    assert _ids(cold.read(spark, version=4)) == _ids(
        _events(spark, sf_dir, 0, 400)
    )
    assert _ids(cold.read(spark)) == _ids(_events(spark, sf_dir, 0, 500))


def test_bloom_sidecars_replace_inline_manifest_blooms(spark, sf_dir, tmp_path):
    """Filters live in per-file sidecars loaded lazily at probe time —
    the manifest JSON itself carries no bloom bytes (the ~1.25 B/row/col
    that made commits O(table) to serialize); sidecars are reaped with
    their data file."""
    t = ManifestTable(str(tmp_path / "t"), bloom_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100).coalesce(1))
    t.append(_events(spark, sf_dir, 100, 200).coalesce(1))
    for v in t._versions():
        assert "__bloom__" not in open(t._manifest_path(v)).read()
    m = t.manifest()
    for f in m["files"]:
        assert os.path.exists(t._bloom_sidecar_path(f))
    assert len(t.point_files("event_id", [7])) == 1
    assert t.read_points(spark, "event_id", [7]).count() == 1
    # compact rewrites the file set; old sidecars go with their files
    old_files = list(m["files"])
    t.compact(spark, target_bytes=1 << 30)
    t.vacuum(keep_versions=1, retention_seconds=0)
    for f in old_files:
        assert not os.path.exists(t._bloom_sidecar_path(f))
    new_files = t.manifest()["files"]
    assert all(os.path.exists(t._bloom_sidecar_path(f)) for f in new_files)
    assert t.read_points(spark, "event_id", [7]).count() == 1


def test_legacy_inline_bloom_manifest_still_probed(spark, sf_dir, tmp_path):
    """A pre-segmentation table (full-format manifest with inline
    __bloom__ stats entries) keeps probing through those entries —
    back-compat for tables written before the sidecar move."""
    t = ManifestTable(str(tmp_path / "t"), bloom_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100).coalesce(1))
    m = t.manifest()
    f = m["files"][0]
    legacy_stats = {f: {"__bloom__": t._file_bloom(os.path.join(t.data_dir, f))}}
    legacy = {
        "version": 2,
        "parent": 1,
        "op": "append",
        "files": [f],
        "stats": legacy_stats,
        "config": {"bloom_cols": ["event_id"]},
    }
    with open(t._manifest_path(2), "w") as fh:
        json.dump(legacy, fh)
    os.remove(t._bloom_sidecar_path(f))  # only the inline filter remains
    cold = ManifestTable(str(t.root))
    assert cold.current_version() == 2
    assert len(cold.point_files("event_id", [7])) == 1
    assert cold.point_files("event_id", [10**12]) == []


def test_delete_where_touched_files_only(spark, sf_dir, tmp_path):
    """Arbitrary-predicate DELETE: files whose stats are provably
    disjoint from the predicate's derived per-column ranges survive BY
    NAME (metadata-only carry); the rewrite applies the exact predicate
    to the rest.  The GDPR-style generalization of delete_range."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_type"])
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    for et in types:  # one stat-tight file per event_type
        t.append(ev.filter(F.col("event_type") == et).coalesce(1))
    before = {
        f: t.manifest()["stats"][f]["event_type"][0]
        for f in t.manifest()["files"]
    }
    target = types[0]
    cond = f"event_type = '{target}' AND value <= 0.5"
    m = t.delete_where(spark, cond)
    assert m is not None and m["op"] == "delete"
    survivors = set(m["files"])
    # every non-target file survived untouched, by name
    for f, et in before.items():
        if et != target:
            assert f in survivors, (f, et)
        else:
            assert f not in survivors
    want = ev.filter(
        ~F.coalesce(
            (F.col("event_type") == target) & (F.col("value") <= 0.5),
            F.lit(False),
        )
    )
    got = t.read(spark)
    assert got.count() == want.count()
    assert _ids(got) == _ids(want)


def test_delete_where_unparseable_predicate_full_rewrite(
    spark, sf_dir, tmp_path
):
    """A predicate the bounds analyzer cannot reduce (function call)
    degrades to rewriting every file — correct, just unpruned; and a
    syntactically invalid predicate raises up front, touching nothing."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    for lo in (0, 100):
        t.append(_events(spark, sf_dir, lo, lo + 100).coalesce(1))
    m = t.delete_where(spark, "pmod(event_id, 2) = 0")
    assert m is not None
    want = _events(spark, sf_dir, 0, 200).filter(F.col("event_id") % 2 != 0)
    assert _ids(t.read(spark)) == _ids(want)
    v = t.current_version()
    import pyspark.errors

    with pytest.raises(pyspark.errors.PySparkException):
        t.delete_where(spark, "event_id ~~ garbage(")
    assert t.current_version() == v  # nothing committed


def test_delete_where_null_rows_survive(spark, sf_dir, tmp_path):
    """Rows where the predicate evaluates to NULL are KEPT (delete only
    what provably matches) — whatever file they sit in."""
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 0.1), (3, "a", None), (4, "b", 0.2)],
        "event_id long, event_type string, value double",
    )
    t.append(df)
    t.delete_where(spark, "event_type = 'a' AND value <= 2.0")
    assert _ids(t.read(spark)) == [2, 3, 4]  # NULL-typed + NULL-valued kept


def test_delete_where_txn_replay_declined(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 100))
    assert t.delete_where(spark, "event_id < 10", txn=("job", 1)) is not None
    v = t.current_version()
    assert t.delete_where(spark, "event_id < 50", txn=("job", 1)) is None
    assert t.current_version() == v
    assert min(_ids(t.read(spark))) == 10  # only the first delete ran


def test_restore_is_metadata_only_rollback(spark, sf_dir, tmp_path):
    """RESTORE re-references the target version's immutable files as a
    new commit: zero data files added, history intact (the undone
    version still time-travels), txn watermarks carried, and CDC
    consumers see a non-append op."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_events(spark, sf_dir, 0, 100), txn=("job", 1))
    bad = _events(spark, sf_dir, 100, 200).withColumn(
        "value", F.lit(-1.0)
    )
    t.append(bad, txn=("job", 2))
    m = t.restore(1)
    assert m["op"] == "restore" and m["restored_from"] == 1
    assert set(m["files"]) == set(t.manifest(1)["files"])  # re-referenced
    with open(t._manifest_path(m["version"])) as fh:
        delta = json.load(fh)
    assert delta["add"] == []  # zero data I/O: metadata-only commit
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 100))
    # the undone version still time-travels
    assert t.read(spark, version=2).filter(F.col("value") == -1.0).count() > 0
    # sink idempotence carried: batch 2 replay still declines
    assert t.append(bad, txn=("job", 2)) is None
    # CDC: non-append in range -> honest fallback
    assert t.read_appended(spark, since=1) is None
    # and the table keeps working after the rollback
    t.append(_events(spark, sf_dir, 100, 200), txn=("job", 3))
    assert _ids(t.read(spark)) == _ids(_events(spark, sf_dir, 0, 200))


def test_delete_where_space_form_timestamp_literal(spark, sf_dir, tmp_path):
    """ADVICE r9 (high): timestamp stats are datetime.isoformat()
    'T'-form strings while the idiomatic SQL literal uses a space
    separator; raw lexicographic order has ' ' < 'T', so the pruner
    declared a file 'provably disjoint' that held matching rows and
    the GDPR-style delete silently left them alive.  The schema marks
    ts as a timestamp, so the literal must order as an INSTANT — and a
    file genuinely out of range must still be carried by name."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["ts"])
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    mid = ev.selectExpr("percentile_approx(ts, 0.5) AS m").collect()[0][0]
    lo_half = ev.filter(F.col("ts") < F.lit(mid))
    hi_half = ev.filter(F.col("ts") >= F.lit(mid))
    assert lo_half.count() > 0 and hi_half.count() > 0
    t.append(lo_half.coalesce(1))
    t.append(hi_half.coalesce(1))
    f_lo, f_hi = t.manifest()["files"]
    lit = mid.strftime("%Y-%m-%d %H:%M:%S")  # space form, typical SQL
    cond = f"ts <= '{lit}'"
    m = t.delete_where(spark, cond)
    assert m is not None and m["op"] == "delete"
    # the all-above file survives BY NAME (pruning still prunes) ...
    assert f_hi in m["files"]
    # ... and the overlapping file was rewritten, not wrongly skipped
    assert f_lo not in m["files"]
    want = _ids(ev.filter(f"NOT ({cond})"))
    assert _ids(t.read(spark)) == want


def test_legacy_inline_bloom_old_canon_dual_probe(spark, sf_dir, tmp_path):
    """ADVICE r9 (medium): inline __bloom__ filters in pre-segmentation
    manifests were built with the OLD hash canon (str over _jsonable:
    float 3.0 -> '3.0').  The unified canon hashes 3.0 as '3', so a
    probe against a legacy float-column filter false-NEGATIVED and
    point_files dropped the file.  Legacy entries must be probed with
    BOTH forms."""
    import base64

    t = ManifestTable(str(tmp_path / "t"), bloom_cols=["value"])
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "id long, value double"
    )
    t.append(df.coalesce(1))
    f = t.manifest()["files"][0]
    # rebuild the filter the PRE-segmentation way: old canon text
    import pyarrow.parquet as pq

    path = os.path.join(t.data_dir, f)
    vals = pq.read_table(path, columns=["value"]).column("value").to_pylist()
    m_bits = t._bloom_m_for(pq.ParquetFile(path).metadata.num_rows)
    bits = bytearray(m_bits // 8)
    for v in vals:
        for pos in ManifestTable._bloom_positions_text(
            str(v), m_bits, t.bloom_hashes  # str(3.0) == '3.0': old form
        ):
            bits[pos // 8] |= 1 << (pos % 8)
    legacy = {
        "version": 2,
        "parent": 1,
        "op": "append",
        "files": [f],
        "stats": {
            f: {
                "__bloom__": {
                    "value": {
                        "b": base64.b64encode(bytes(bits)).decode("ascii"),
                        "m": m_bits,
                        "k": t.bloom_hashes,
                    }
                }
            }
        },
        "config": {"bloom_cols": ["value"]},
    }
    with open(t._manifest_path(2), "w") as fh:
        json.dump(legacy, fh)
    os.remove(t._bloom_sidecar_path(f))  # only the inline filter remains
    cold = ManifestTable(str(t.root))
    # probe with the float the caller holds: must keep the file even
    # though the new canon ('3') was never hashed into the old filter
    assert len(cold.point_files("value", [3.0])) == 1
    assert cold.read_points(spark, "value", [3.0]).count() == 1
    # absent values still prune through the legacy filter
    assert cold.point_files("value", [99.5]) == []


def test_manifest_returns_mutation_safe_copies(spark, sf_dir, tmp_path):
    """ADVICE r9 (low): manifest()/_commit hand back the LRU-cached
    state dict itself; a caller appending to m['files'] would corrupt
    every later read of that version.  Returned states now carry fresh
    top-level containers."""
    t = ManifestTable(str(tmp_path / "t"))
    committed = t.append(_events(spark, sf_dir, 0, 100))
    n = len(committed["files"])
    committed["files"].append("junk.parquet")
    committed["stats"]["junk.parquet"] = {}
    m = t.manifest()
    assert len(m["files"]) == n and "junk.parquet" not in m["files"]
    assert "junk.parquet" not in m["stats"]
    m["files"].clear()
    assert len(t.manifest()["files"]) == n  # cache stayed pristine


def test_merge_delta_primitive(spark, sf_dir, tmp_path):
    """merge_delta edges: (a) delete keys that prune every file ->
    metadata-only commit that still advances the txn watermark;
    (b) all-empty input -> no-op; (c) delete+insert in one commit."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100).coalesce(1))
    v1 = t.current_version()
    far = spark.createDataFrame([(10**9,)], "event_id long")
    # (a) no file can contain the key: no rewrite, but the commit lands
    m = t.merge_delta(spark, None, [(["event_id"], far)], txn=("cdc", 1))
    assert m is not None and m["version"] == v1 + 1
    assert set(m["files"]) == set(t.manifest(v1)["files"])  # carried
    assert m["txn"]["cdc"] == 1
    # replay declined
    assert t.merge_delta(spark, None, [(["event_id"], far)], txn=("cdc", 1)) is None
    # (b) empty everything, no txn -> no-op
    empty = spark.createDataFrame([], "event_id long")
    assert t.merge_delta(spark, None, [(["event_id"], empty)]) is None
    # (c) delete [0,50) and insert [200,250) atomically
    ins = _events(spark, sf_dir, 200, 250)
    keys = _events(spark, sf_dir, 0, 50).select("event_id")
    m2 = t.merge_delta(spark, ins, [(["event_id"], keys)], txn=("cdc", 2))
    assert m2["op"] == "merge"
    want = _ids(_events(spark, sf_dir, 50, 100)) + _ids(
        _events(spark, sf_dir, 200, 250)
    )
    assert _ids(t.read(spark)) == sorted(want)


def test_executor_stats_pinned_to_footer_reference(spark, sf_dir, tmp_path):
    """Round-10: range stats are computed EXECUTOR-side in the same
    one-job pass as the blooms (no per-file driver footer loop on the
    commit path).  The data-computed values must be IDENTICAL to the
    pyarrow-footer reference (_file_stats) across types: nullable
    bigint (Arrow hands it to pandas as float — must store int),
    double, string, timestamp — and an all-null column is omitted on
    both sides."""
    t = ManifestTable(
        str(tmp_path / "t"),
        stats_cols=["event_id", "value", "event_type", "ts", "all_null"],
        bloom_cols=["event_id"],
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "value", "event_type", "ts")
        .withColumn(
            "event_id",
            F.when(F.col("event_id") % 7 == 0, None).otherwise(
                F.col("event_id")
            ),
        )
        .withColumn("all_null", F.lit(None).cast("double"))
    )
    m = t.append(ev)
    stats = m["stats"]
    assert stats, "no stats recorded"
    for f, st in stats.items():
        ref = t._file_stats(os.path.join(t.data_dir, f))
        assert st == ref, (f, st, ref)
        assert "all_null" not in st
        if "event_id" in st:  # nullable bigint stayed integral
            assert isinstance(st["event_id"][0], int)
        if "ts" in st:  # temporal stats are ISO strings
            assert "T" in st["ts"][0]
    # and blooms still work off the same single job
    probe = ev.filter(F.col("event_id").isNotNull()).first().event_id
    assert len(t.point_files("event_id", [int(probe)])) >= 1


def test_cas_storm_across_checkpoint_with_vacuum_and_lost_ckpt(
    spark, sf_dir, tmp_path
):
    """Segmented manifest log under a storm: racing
    writers cross several 1-in-N checkpoint boundaries while a
    concurrent vacuum reaps history, and one writer DIES post-CAS /
    pre-checkpoint (its commit landed; the derived checkpoint never
    materialized).  Claims pinned: (a) every commit lands exactly once
    despite the storm, (b) a boundary version whose checkpoint was
    lost still resolves via delta replay, identically from independent
    cold handles, (c) vacuum's checkpoint materialization keeps every
    retained version resolvable after the history below it is gone,
    (d) row content is exact."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "t")
    seed = ManifestTable(root)
    schema = "event_id long, user_id long, event_type string, value double"
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .filter(F.col("event_id") < 480)
    )
    chunks = [
        ev.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < lo + 40)
        ).collect()
        for lo in range(0, 480, 40)
    ]
    victim_idx = 5  # dies after its CAS, before its checkpoint

    def write(args):
        i, rows = args
        h = ManifestTable(root)
        h.checkpoint_interval = 4  # frequent boundaries for the storm
        if i == victim_idx:
            def boom(state):
                raise RuntimeError("writer killed pre-checkpoint")

            h._write_checkpoint = boom
        try:
            h.append(spark.createDataFrame(rows, schema))
        except RuntimeError:
            pass  # the "death": commit already published

    def vacuum_loop(_):
        h = ManifestTable(root)
        for _i in range(3):
            # wide horizon: in-flight staging must never be reaped;
            # old MANIFESTS are, which is the race under test
            h.vacuum(keep_versions=8, retention_seconds=3600.0)

    with ThreadPoolExecutor(max_workers=10) as ex:
        futs = [ex.submit(write, (i, c)) for i, c in enumerate(chunks)]
        futs.append(ex.submit(vacuum_loop, None))
        for f in futs:
            f.result()
    cold_a = ManifestTable(root)
    cold_b = ManifestTable(root)
    v = cold_a.current_version()
    assert v == len(chunks)  # (a) exactly one commit per writer
    # (b)+(c): every retained version resolves, and two independent
    # cold handles agree file-for-file (delta replay is deterministic)
    retained = cold_a._versions()
    assert retained, "vacuum deleted everything"
    for ver in retained:
        ma, mb = cold_a.manifest(ver), cold_b.manifest(ver)
        assert ma["files"] == mb["files"], ver
    # at least one checkpoint boundary exists without its .ckpt file
    # (the victim's) unless vacuum re-materialized every one of them —
    # either way the boundary version resolved above via delta replay
    # (d) content exact
    assert sorted(
        r.event_id for r in cold_a.read(spark).select("event_id").collect()
    ) == sorted(r.event_id for r in ev.select("event_id").collect())


def test_streaming_outputs_write_only_through_manifest():
    """ManifestTable is the one commit protocol for streaming outputs:
    no streaming module but manifest.py opens a DataFrameWriter, so a
    raw-directory sink cannot come back unnoticed."""
    import re
    from pathlib import Path

    import gmallrealtime02_spark.streaming as streaming_pkg

    pkg = Path(streaming_pkg.__file__).parent
    raw_writers = sorted(
        p.name
        for p in pkg.glob("*.py")
        if p.name != "manifest.py" and re.search(r"\.write\s*\.", p.read_text())
    )
    assert raw_writers == [], raw_writers


def test_streaming_driver_side_parquet_writes_stay_in_manifest():
    """The append sink writes its micro-batch files with pyarrow from
    the driver; that writer lives inside ManifestTable, so no other
    streaming module may write parquet with ``pq.write_table`` or a
    ``ParquetWriter`` past the commit protocol."""
    import re
    from pathlib import Path

    import gmallrealtime02_spark.streaming as streaming_pkg

    pkg = Path(streaming_pkg.__file__).parent
    arrow_writers = sorted(
        p.name
        for p in pkg.glob("*.py")
        if p.name != "manifest.py"
        and re.search(r"\bwrite_table\s*\(|\bParquetWriter\b", p.read_text())
    )
    assert arrow_writers == [], arrow_writers
