"""The copy-on-write rewrite ops of ManifestTable — ``upsert``,
``merge_delta``, ``delete_range`` and ``delete_where`` — share one
snapshot→rewrite→CAS loop (``ManifestTable._rewrite``) and one txn
ledger (``ManifestTable._commit``).  These tests hold the four ops to
one contract on one fixture: first-run job counts, replays that decline
before any Spark job, a restart on a concurrent commit that ends equal
to sequential application, and idle rewrites that publish nothing."""

from __future__ import annotations

import ast
import inspect
import os

import pytest
from pyspark.sql import functions as F

from gmallrealtime02_spark.sources import load_table
from gmallrealtime02_spark.streaming import manifest as manifest_mod
from gmallrealtime02_spark.streaming.manifest import ManifestTable

from .conftest import jobs_fired


def _events(spark, sf_dir, lo, hi):
    return (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        .select("event_id", "user_id", "event_type", "value")
    )


def _fixture(spark, sf_dir, root) -> ManifestTable:
    """Two stat-tight 100-row files: event_id [0, 100) and [100, 200)."""
    t = ManifestTable(root, stats_cols=["event_id"])
    t.append(_events(spark, sf_dir, 0, 100).coalesce(1))
    t.append(_events(spark, sf_dir, 100, 200).coalesce(1))
    return t


def _upsert(spark, sf_dir, t, txn=None):
    batch = _events(spark, sf_dir, 150, 210).withColumn(
        "value", F.col("value") + 1000.0
    )
    return t.upsert(spark, batch, ["event_id"], txn=txn)


def _merge_delta(spark, sf_dir, t, txn=None):
    keys = _events(spark, sf_dir, 150, 160).select("event_id")
    return t.merge_delta(
        spark, _events(spark, sf_dir, 200, 250), [(["event_id"], keys)], txn=txn
    )


def _delete_range(spark, sf_dir, t, txn=None):
    return t.delete_range(spark, "event_id", lo=150, hi=159, txn=txn)


def _delete_where(spark, sf_dir, t, txn=None):
    return t.delete_where(spark, "event_id >= 150 AND event_id < 160", txn=txn)


# Jobs one first run fired on this fixture before the ops shared a core
# (4 local cores, sf0.01); the shared loop may not add any.
OPS = {
    "upsert": (_upsert, 6),
    "merge_delta": (_merge_delta, 7),
    "delete_range": (_delete_range, 1),
    "delete_where": (_delete_where, 1),
}


def _rows(t, spark):
    return sorted(
        (r.event_id, r.value)
        for r in t.read(spark).select("event_id", "value").collect()
    )


def _staging_reaped(t) -> bool:
    """The data directory holds exactly the files retained versions
    reference: nothing a declined attempt staged is left behind."""
    live = set()
    for ver in t._versions():
        live |= set(t.manifest(ver)["files"])
    on_disk = {n for n in os.listdir(t.data_dir) if n.endswith(".parquet")}
    return on_disk == live


def _interloper(spark, sf_dir, root):
    """A concurrent writer whose upsert overlaps every op's key range."""
    ManifestTable(root).upsert(
        spark,
        _events(spark, sf_dir, 140, 170).withColumn("value", F.lit(-2.0)),
        ["event_id"],
    )


@pytest.mark.parametrize("op", list(OPS))
def test_rewrite_op_contract(spark, sf_dir, tmp_path, op):
    run, parent_jobs = OPS[op]

    # first run: no more jobs than before the shared core
    t = _fixture(spark, sf_dir, str(tmp_path / "first"))
    with jobs_fired(spark) as fired:
        assert run(spark, sf_dir, t, txn=("app", 1)) is not None
    assert fired.n <= parent_jobs, fired.n
    v = t.current_version()
    want = _rows(t, spark)

    # replay: declined before any Spark job, nothing staged or published
    with jobs_fired(spark) as fired:
        assert run(spark, sf_dir, t, txn=("app", 1)) is None
    assert fired.n == 0, fired.n
    assert t.current_version() == v
    assert _rows(t, spark) == want
    assert _staging_reaped(t)

    # a commit landing between the op's snapshot and its CAS forces a
    # restart; the result equals interloper-then-op applied in sequence
    seq = _fixture(spark, sf_dir, str(tmp_path / "seq"))
    _interloper(spark, sf_dir, seq.root)
    run(spark, sf_dir, seq)

    raced = _fixture(spark, sf_dir, str(tmp_path / "raced"))
    orig_commit = raced._commit
    calls = []

    def racing_commit(mk, **kw):
        if not calls:
            _interloper(spark, sf_dir, raced.root)
        calls.append(1)
        return orig_commit(mk, **kw)

    raced._commit = racing_commit
    m = run(spark, sf_dir, raced, txn=("app", 1))
    raced._commit = orig_commit
    assert m is not None and len(calls) == 2
    assert m["txn"] == {"app": 1}
    assert _rows(raced, spark) == _rows(seq, spark)
    assert _staging_reaped(raced)


@pytest.mark.parametrize("op", ["upsert", "merge_delta", "delete_where"])
def test_rewrite_replaces_a_touched_file_with_at_most_one(
    spark, sf_dir, tmp_path, op
):
    """A rewrite's output is sized to the files it replaces: each op
    here touches only the [100, 200) file, and an unsized write would
    split it into one file per non-empty shuffle partition — files a
    repeat of the same rewrite then has to read and rewrite again."""
    t = _fixture(spark, sf_dir, str(tmp_path / "t"))
    before = set(t.manifest()["files"])
    after = set(OPS[op][0](spark, sf_dir, t)["files"])
    assert len(before - after) == 1
    assert len(after - before) <= 1, len(after - before)


def test_delete_matching_nothing_publishes_nothing(spark, sf_dir, tmp_path):
    """A delete whose stats prove no file can match, with no txn to
    record, is idle: no version, so append-only consumers stay
    incremental.  With a txn it still commits, metadata-only, to advance
    the watermark."""
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    t = _fixture(spark, sf_dir, str(tmp_path / "t"))
    ca = ContinuousAggregate(
        t,
        str(tmp_path / "rollup"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*")},
    )
    ca.refresh(spark)
    t.append(_events(spark, sf_dir, 200, 300))
    v = t.current_version()
    with jobs_fired(spark) as fired:
        assert t.delete_where(spark, "event_id >= 100000") is None
        assert t.delete_range(spark, "event_id", lo=10**6) is None
    assert fired.n == 0
    assert t.current_version() == v
    r = ca.refresh(spark)
    assert r["mode"] == "incremental", r
    assert ca.read(spark).agg(F.sum("n")).first()[0] == 300

    m = t.delete_where(spark, "event_id >= 100000", txn=("gc", 1))
    assert m is not None and m["op"] == "delete"
    assert m["files"] == t.manifest(v)["files"] and m["txn"] == {"gc": 1}


def test_txn_ledger_is_advanced_only_in_commit():
    """``_commit`` owns the txn ledger: ``_txn_advance`` has no other
    caller, and no manifest builder passed to ``_commit`` touches the
    ``txn`` key itself."""
    tree = ast.parse(inspect.getsource(manifest_mod))
    callers = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and getattr(
                node.func, "id", None
            ) == "_txn_advance":
                callers.add(fn.name)
            if fn.name == "mk" and isinstance(node, ast.Constant):
                assert node.value != "txn", "a manifest builder sets txn"
    # a call inside a nested builder is seen from the builder and from
    # its enclosing method, so any caller but _commit shows up here
    assert callers == {"_commit"}, callers
