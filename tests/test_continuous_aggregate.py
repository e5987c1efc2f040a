"""ContinuousAggregate: incremental refresh scans only appended files,
merged partials equal a full recompute, non-append source ops force the
full fallback, and non-decomposable aggs are rejected."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmallrealtime02_spark.sources import load_table
from gmallrealtime02_spark.streaming.manifest import ManifestTable
from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

from .conftest import jobs_fired


def _events(spark, sf_dir, lo, hi):
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


def _ca(spark, tmp_path):
    src = ManifestTable(str(tmp_path / "src"))
    ca = ContinuousAggregate(
        src,
        str(tmp_path / "rollup"),
        group_cols=["dt", "event_type"],
        aggs={
            "n": ("count", "*"),
            "total": ("sum", "value"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
    )
    return src, ca


def _expected(spark, df):
    return {
        (r.dt, r.event_type): (r.n, round(r.total, 6), r.vmin, r.vmax)
        for r in df.groupBy("dt", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }


def _got(spark, ca):
    return {
        (r.dt, r.event_type): (r.n, round(r.total, 6), r.vmin, r.vmax)
        for r in ca.read(spark).collect()
    }


def test_incremental_refresh_reads_with_the_source_schema(spark, tmp_path):
    """The incremental path reads the appended files with the source
    manifest's recorded schema: the refresh's jobs are the aggregate's
    and the rollup commit's, with no schema-inference job among them."""
    src = ManifestTable(str(tmp_path / "src"))
    ca = ContinuousAggregate(
        src, str(tmp_path / "rollup"), group_cols=["k"], aggs={"n": ("count", "*")}
    )
    df = spark.range(0, 100, 1, numPartitions=2).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS k"
    )
    src.append(df)
    ca.refresh(spark)
    src.append(df)
    with jobs_fired(spark) as fired:
        r = ca.refresh(spark)
    assert r["mode"] == "incremental"
    assert fired.n == 3
    assert sum(row.n for row in ca.read(spark).collect()) == 200


def test_incremental_refresh_matches_full_recompute(spark, sf_dir, tmp_path):
    src, ca = _ca(spark, tmp_path)
    src.append(_events(spark, sf_dir, 0, 300))
    r1 = ca.refresh(spark)
    assert r1["mode"] == "full"  # first materialization
    assert _got(spark, ca) == _expected(spark, _events(spark, sf_dir, 0, 300))

    src.append(_events(spark, sf_dir, 300, 500))
    src.append(_events(spark, sf_dir, 500, 600))
    r2 = ca.refresh(spark)
    assert r2["mode"] == "incremental"
    # only the two appended commits' files were scanned — O(new data)
    assert r2["files_scanned"] < len(src.files())
    assert _got(spark, ca) == _expected(spark, _events(spark, sf_dir, 0, 600))

    # nothing new -> noop, watermark already current
    assert ca.refresh(spark)["mode"] == "noop"


def test_compaction_forces_full_fallback(spark, sf_dir, tmp_path):
    """A compact rewrites the source's file set, so the version diff no
    longer enumerates additions — refresh detects the non-append op from
    the manifest chain and recomputes, never double-counts."""
    src, ca = _ca(spark, tmp_path)
    for lo in range(0, 400, 100):
        src.append(_events(spark, sf_dir, lo, lo + 100))
    ca.refresh(spark)
    src.compact(spark, target_bytes=1 << 30)
    src.append(_events(spark, sf_dir, 400, 500))
    r = ca.refresh(spark)
    assert r["mode"] == "full"
    assert _got(spark, ca) == _expected(spark, _events(spark, sf_dir, 0, 500))
    # and the chain is clean again afterwards: next append is incremental
    src.append(_events(spark, sf_dir, 500, 550))
    assert ca.refresh(spark)["mode"] == "incremental"
    assert _got(spark, ca) == _expected(spark, _events(spark, sf_dir, 0, 550))


def test_rollup_readers_get_snapshot_isolation(spark, sf_dir, tmp_path):
    """A reader holding the pre-refresh rollup version keeps it while a
    refresh replaces the live rollup (the ManifestTable guarantee,
    inherited for free)."""
    src, ca = _ca(spark, tmp_path)
    src.append(_events(spark, sf_dir, 0, 200))
    ca.refresh(spark)
    v = ca.rollup.current_version()
    old = ca.rollup.read(spark, version=v)
    old_rows = old.count()
    src.append(_events(spark, sf_dir, 200, 400))
    ca.refresh(spark)
    assert ca.rollup.current_version() > v
    assert old.count() == old_rows  # old snapshot intact


def test_non_decomposable_agg_rejected(tmp_path):
    src = ManifestTable(str(tmp_path / "src"))
    with pytest.raises(ValueError, match="decomposable"):
        ContinuousAggregate(
            src, str(tmp_path / "r"), ["dt"], {"a": ("avg", "value")}
        )


def test_rollup_maintenance_sink_per_batch(spark, sf_dir, tmp_path):
    """The foreachBatch maintenance sink: each micro-batch lands as one
    source commit plus one O(batch) incremental refresh; the rollup
    equals a full recompute after every batch."""
    from gmallrealtime02_spark.streaming.rollup import (
        make_rollup_maintenance_sink,
    )

    src, ca = _ca(spark, tmp_path)
    sink = make_rollup_maintenance_sink(src, ca)
    for i, lo in enumerate((0, 200, 400)):
        sink(_events(spark, sf_dir, lo, lo + 200), i)
        assert _got(spark, ca) == _expected(
            spark, _events(spark, sf_dir, 0, lo + 200)
        )
    # batches 2 and 3 refreshed incrementally (batch 1 is the initial full)
    assert ca.reflected_version() == src.current_version() == 3


def test_rollup_maintenance_sink_via_writestream(spark, sf_dir, tmp_path):
    """Real Structured Streaming end-to-end: a file-source stream driven
    through writeStream.foreachBatch(make_rollup_maintenance_sink) —
    after processAllAvailable the raw ManifestTable holds every row
    once, the rollup equals the batch aggregate, and version count
    equals trigger count (one atomic commit per micro-batch)."""
    from gmallrealtime02_spark.streaming.rollup import (
        make_rollup_maintenance_sink,
    )

    events = _events(spark, sf_dir, 0, 600)
    src_dir = str(tmp_path / "stream_src")
    # 3 files + maxFilesPerTrigger=1 -> exactly 3 micro-batches
    events.repartition(3).write.parquet(src_dir)
    src, ca = _ca(spark, tmp_path)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(make_rollup_maintenance_sink(src, ca))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert src.current_version() == 3  # one commit per trigger
    assert ca.reflected_version() == 3
    assert src.read(spark).count() == events.count()
    assert _got(spark, ca) == _expected(spark, events)


# -- delete-aware refreshes (round 10) ---------------------------------------


def test_rollup_absorbs_deletes_as_retractions(spark, sf_dir, tmp_path):
    """count/sum rollup: an upstream delete refreshes by NEGATED
    partials over the row-level CDC (mode 'retraction'), matching a
    from-scratch recompute exactly — including groups that vanish when
    their last row is retracted."""
    from gmallrealtime02_spark.streaming.manifest import ManifestTable
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    src = ManifestTable(str(tmp_path / "src"), stats_cols=["event_id"])
    ca = ContinuousAggregate(
        src,
        str(tmp_path / "roll"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*"), "sum_ids": ("sum", "event_id")},
    )
    ev = _events(spark, sf_dir, 0, 300)
    src.append(ev)
    ca.refresh(spark)
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    gone = types[0]
    src.delete_where(spark, f"event_type = '{gone}'")
    src.delete_where(spark, "event_id >= 250")
    r = ca.refresh(spark)
    assert r["mode"] == "retraction", r
    remaining = ev.filter(
        (F.col("event_type") != gone) & (F.col("event_id") < 250)
    )
    want = {
        (x.event_type, x.n, x.s)
        for x in remaining.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    got = {
        (x.event_type, x.n, x.sum_ids) for x in ca.read(spark).collect()
    }
    assert got == want
    # the fully-retracted group is GONE, not a zero row
    assert gone not in {t for t, _, _ in got}
    # __rows__ stays internal
    assert "__rows__" not in ca.read(spark).columns
    # and appends keep working incrementally afterwards
    src.append(_events(spark, sf_dir, 300, 350))
    assert ca.refresh(spark)["mode"] == "incremental"


def test_rollup_minmax_deletes_refresh_touched_groups(
    spark, sf_dir, tmp_path
):
    """min/max cannot un-see a deleted extremum, but the CDC names the
    touched GROUPS: a delete that removes maxima refreshes in mode
    'touched_groups' (round 11) — only those groups re-aggregate from
    the source — and the result equals a from-scratch recompute,
    including the new (smaller) maxima."""
    from gmallrealtime02_spark.streaming.manifest import ManifestTable
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    src = ManifestTable(str(tmp_path / "src"), stats_cols=["event_id"])
    ca = ContinuousAggregate(
        src,
        str(tmp_path / "roll"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*"), "max_id": ("max", "event_id")},
    )
    src.append(_events(spark, sf_dir, 0, 200))
    ca.refresh(spark)
    src.delete_where(spark, "event_id >= 150")  # removes maxima
    r = ca.refresh(spark)
    assert r["mode"] == "touched_groups", r
    want = {
        (x.event_type, x.n, x.m)
        for x in _events(spark, sf_dir, 0, 150)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.max("event_id").alias("m"))
        .collect()
    }
    got = {
        (x.event_type, x.n, x.max_id) for x in ca.read(spark).collect()
    }
    assert got == want
    # a compaction still forces the honest full fallback
    src.compact(spark)
    src.append(_events(spark, sf_dir, 200, 220))
    assert ca.refresh(spark)["mode"] == "incremental"
    src.delete_where(spark, "event_id < 10")
    src.compact(spark)
    assert ca.refresh(spark)["mode"] == "full"


def test_touched_group_refresh_scans_only_touched_days(
    spark, sf_dir, tmp_path
):
    """O(touched groups), asserted structurally: a dt-grouped min/max
    rollup over day-clustered files absorbs a one-day delete by
    re-reading ONLY that day's (stats-surviving) files — files_scanned
    strictly below the live file count — while the other days' stored
    partials survive verbatim; a whole-day delete makes the day's
    group vanish with zero files re-read."""
    from gmallrealtime02_spark.streaming.manifest import ManifestTable
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    ev_all = _events(spark, sf_dir, 0, 1000)
    days = sorted(
        r[0] for r in ev_all.select("dt").distinct().collect()
    )[:4]
    assert len(days) >= 3
    ev = ev_all.filter(F.col("dt").isin(days))
    src = ManifestTable(str(tmp_path / "src"), stats_cols=["dt", "value"])
    ca = ContinuousAggregate(
        src,
        str(tmp_path / "roll"),
        group_cols=["dt"],
        aggs={
            "n": ("count", "*"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
    )
    for d in days:  # day-clustered files, one commit per day
        src.append(ev.filter(F.col("dt") == d))
    ca.refresh(spark)
    # partial delete inside ONE day: only that day's files re-read
    cut = ev.filter(F.col("dt") == days[1]).agg(
        F.expr("percentile_approx(value, 0.5)")
    ).collect()[0][0]
    src.delete_where(spark, f"dt = '{days[1]}' AND value >= {cut}")
    r = ca.refresh(spark)
    assert r["mode"] == "touched_groups", r
    # strictly fewer than the live files, and bounded by the one
    # rewritten day file (stats pruned the untouched days)
    assert r["files_scanned"] < len(src.files())
    assert r["files_scanned"] <= 2
    remaining = ev.filter(
        (F.col("dt") != days[1]) | (F.col("value") < cut)
    )
    want = {
        (x.dt, x.n, round(x.a, 6), round(x.b, 6))
        for x in remaining.groupBy("dt")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("a"),
            F.max("value").alias("b"),
        )
        .collect()
    }
    got = {
        (x.dt, x.n, round(x.vmin, 6), round(x.vmax, 6))
        for x in ca.read(spark).collect()
    }
    assert got == want
    # whole-day delete: the group vanishes, nothing needs re-reading
    src.delete_where(spark, f"dt = '{days[2]}'")
    r = ca.refresh(spark)
    assert r["mode"] == "touched_groups", r
    assert r["files_scanned"] == 0, r
    got_days = {x.dt for x in ca.read(spark).collect()}
    assert days[2] not in got_days
    assert days[1] in got_days and days[0] in got_days


def test_touched_group_refresh_null_group_keys(spark, tmp_path):
    """NULL is a group: the touched-key semi/anti joins are null-safe,
    so deleting rows of the NULL group refreshes that group rather
    than silently keeping its stale partials."""
    from gmallrealtime02_spark.streaming.manifest import ManifestTable
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    rows = [("a", 1), ("a", 5), (None, 2), (None, 9), ("b", 4)]
    df = spark.createDataFrame(rows, "g string, v long")
    src = ManifestTable(str(tmp_path / "src"), stats_cols=["v"])
    ca = ContinuousAggregate(
        src,
        str(tmp_path / "roll"),
        group_cols=["g"],
        aggs={"n": ("count", "*"), "vmax": ("max", "v")},
    )
    src.append(df)
    ca.refresh(spark)
    src.delete_where(spark, "v = 9")  # the NULL group's maximum
    r = ca.refresh(spark)
    assert r["mode"] == "touched_groups", r
    got = {(x.g, x.n, x.vmax) for x in ca.read(spark).collect()}
    assert got == {("a", 2, 5), (None, 1, 2), ("b", 1, 4)}


def test_legacy_rollup_without_rows_upgrades_once(spark, sf_dir, tmp_path):
    """A pre-round-10 rollup (no __rows__ partial) takes ONE full
    recompute on its next refresh — the upgrade that writes the hidden
    count — then retracts incrementally."""
    from gmallrealtime02_spark.streaming.manifest import ManifestTable
    from gmallrealtime02_spark.streaming.rollup import ContinuousAggregate

    src = ManifestTable(str(tmp_path / "src"), stats_cols=["event_id"])
    ca = ContinuousAggregate(
        src,
        str(tmp_path / "roll"),
        group_cols=["event_type"],
        aggs={"n": ("count", "*")},
    )
    src.append(_events(spark, sf_dir, 0, 100))
    # hand-write a LEGACY rollup state: partials without __rows__
    legacy = (
        _events(spark, sf_dir, 0, 100)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    ca.rollup.replace(legacy, extra={"source_version": 1})
    src.append(_events(spark, sf_dir, 100, 200))
    r = ca.refresh(spark)
    assert r["mode"] == "full"  # the one-time upgrade
    src.delete_where(spark, "event_id < 20")
    assert ca.refresh(spark)["mode"] == "retraction"  # now incremental
    want = {
        (x.event_type, x.n)
        for x in _events(spark, sf_dir, 20, 200)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {(x.event_type, x.n) for x in ca.read(spark).collect()} == want
