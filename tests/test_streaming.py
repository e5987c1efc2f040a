"""Streaming-semantics tests (SURVEY.md §5.2): dedup across micro-batches,
stream-stream join completeness, txn-idempotent ManifestTable sinks,
topic-routed splitter, checkpoint restart recovery.

File sources with maxFilesPerTrigger=1 drive deterministic micro-batch
boundaries; processAllAvailable() makes each run synchronous.
"""

from __future__ import annotations

import datetime
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmallrealtime02_spark.streaming import jobs as SJ
from gmallrealtime02_spark.streaming.manifest import ManifestTable

from .conftest import jobs_fired

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_batch(spark, path, rows, schema=EVENT_SCHEMA):
    os.makedirs(path, exist_ok=True)
    n = len(os.listdir(path))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        os.path.join(path, f"b{n}")
    )


def _rows(*specs):
    from datetime import datetime

    out = []
    for eid, day, hour, uid in specs:
        out.append((eid, datetime(2024, 1, day, hour, 0, 0), uid, "click", 1.0))
    return out


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch files delivered one per trigger: uid 1 appears in both
    _write_batch(spark, src, _rows((1, 1, 0, 1), (2, 1, 1, 2)))
    _write_batch(spark, src, _rows((3, 1, 2, 1), (4, 1, 3, 3)))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    dau = SJ.streaming_dau(stream)
    q = (
        dau.writeStream.outputMode("append")
        .format("memory")
        .queryName("dau_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.dt, r.mid): r.hr for r in spark.sql("SELECT * FROM dau_out").collect()
        }
    finally:
        q.stop()
    # one row per (dt, mid); uid 1's first-seen hour (00) won across batches
    assert got == {("2024-01-01", 1): "00", ("2024-01-01", 2): "01", ("2024-01-01", 3): "03"}


def test_streaming_stream_stream_join(spark, tmp_path):
    oi_schema = "o_order_id long, o_ts timestamp, o_total double"
    od_schema = "detail_id long, order_id long, d_ts timestamp, sku long"
    from datetime import datetime

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    oi_dir, od_dir = str(tmp_path / "oi"), str(tmp_path / "od")
    _write_batch(
        spark, oi_dir, [(1, t0, 10.0), (2, t0, 20.0)],
        T._parse_datatype_string(oi_schema),
    )
    # details arrive in a later file (cross-batch skew the join must absorb)
    _write_batch(
        spark, od_dir,
        [(100, 1, t0, 7), (101, 1, t0, 8), (102, 2, t0, 9), (103, 3, t0, 5)],
        T._parse_datatype_string(od_schema),
    )
    oi = (
        spark.readStream.schema(oi_schema).option("maxFilesPerTrigger", 1).parquet(oi_dir + "/*")
    )
    od = (
        spark.readStream.schema(od_schema).option("maxFilesPerTrigger", 1).parquet(od_dir + "/*")
    )
    wide = SJ.streaming_order_wide(oi, od)
    q = (
        wide.writeStream.outputMode("append")
        .format("memory")
        .queryName("wide_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.detail_id, r.o_order_id)
            for r in spark.sql("SELECT * FROM wide_out").collect()
        }
    finally:
        q.stop()
    # every matching pair exactly once; orphan detail 103 (order 3) excluded
    assert got == {(100, 1), (101, 1), (102, 2)}


def test_streaming_ods_split_topic_routing(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    envelopes = [
        {"database": "gmall", "table": "order_info", "type": "insert",
         "data": [{"id": "1", "total": "10.5"}, {"id": "2", "total": "7.0"}]},
        {"database": "gmall", "table": "user_info", "type": "update",
         "data": [{"id": "9", "name": "x"}]},
        {"database": "gmall", "table": "ignored_table", "type": "insert",
         "data": [{"id": "99"}]},
    ]
    _write_batch(
        spark, src, [(json.dumps(e),) for e in envelopes], "value string"
    )
    raw = spark.readStream.schema("value string").parquet(src + "/*")
    q = SJ.start_ods_split_job(raw, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    result = ManifestTable(out).read(spark)
    by_topic = {
        r.topic: r.n
        for r in result.groupBy("topic").agg(F.count("*").alias("n")).collect()
    }
    assert by_topic == {"ODS_MM_ORDER_INFO": 2, "ODS_MM_USER_INFO": 1}
    row = json.loads(
        result.filter(F.col("topic") == "ODS_MM_USER_INFO").head().value
    )
    assert row == {"id": "9", "name": "x"}


def test_checkpoint_restart_no_reprocess(spark, tmp_path):
    """Kill the query, add data, restart from the checkpoint: previously
    processed files are not re-committed (replaces OffsetManager.scala)."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_batch(spark, src, _rows((1, 1, 5, 1)))
    stream = lambda: (  # noqa: E731
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = SJ.start_dau_job(stream(), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = ManifestTable(out).read(spark).collect()
    assert {(r.dt, r.mid, r.hr) for r in first} == {("2024-01-01", 1, "05")}

    # later file: same (dt, mid) at an EARLIER hour + a new mid
    _write_batch(spark, src, _rows((2, 1, 3, 1), (3, 1, 6, 2)))
    q2 = SJ.start_dau_job(stream(), out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {(r.dt, r.mid, r.hr) for r in ManifestTable(out).read(spark).collect()}
    # mid 1 keeps its pre-restart first-seen row (state recovered from
    # checkpoint — the duplicate arriving after restart is suppressed)
    assert got == {("2024-01-01", 1, "05"), ("2024-01-01", 2, "06")}


def _one_file_per_trigger(spark, src):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )


def _run_dau_job(spark, src, out, ckpt):
    q = SJ.start_dau_job(_one_file_per_trigger(spark, src), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_dau_job_appends_each_key_once(spark, tmp_path):
    """The DAU sink is a plain append: the stream itself emits each
    (dt, mid) once, across batches and restarts, and a replayed batch_id
    is declined by the txn ledger — so every commit is an ``append`` of
    at most one file per dt, and the table holds one first-seen row per
    key."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_batch(spark, src, _rows((1, 1, 5, 1), (2, 1, 7, 2), (3, 2, 4, 3)))
    # later batch: an EARLIER-ts duplicate of (day 1, mid 1), a later
    # duplicate of (day 1, mid 2), mid 1's next-day repeat, new mids
    _write_batch(
        spark, src,
        _rows((4, 1, 3, 1), (5, 1, 8, 2), (6, 2, 1, 1), (7, 1, 6, 4), (8, 2, 2, 5)),
    )
    _run_dau_job(spark, src, out, ckpt)
    # restart from the checkpoint: duplicates of both days + new mids
    _write_batch(
        spark, src,
        _rows((9, 1, 2, 1), (10, 2, 0, 1), (11, 1, 9, 6), (12, 2, 3, 7)),
    )
    _run_dau_job(spark, src, out, ckpt)
    table = ManifestTable(out)
    assert table.history()[-1]["added_files"] > 0  # last batch had data

    # replay the last batch: without its commit marker the restart
    # re-runs it under the same batch_id, as after a crash between the
    # sink's commit and the checkpoint's
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for n in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, n)):
            os.remove(os.path.join(commits, n))
    version = table.current_version()
    _run_dau_job(spark, src, out, ckpt)
    assert os.path.exists(os.path.join(commits, str(last)))
    assert table.current_version() == version

    rows = sorted((r.dt, r.mid, r.hr) for r in table.read(spark).collect())
    assert rows == [
        ("2024-01-01", 1, "05"),
        ("2024-01-01", 2, "07"),
        ("2024-01-01", 4, "06"),
        ("2024-01-01", 6, "09"),
        ("2024-01-02", 1, "01"),
        ("2024-01-02", 3, "04"),
        ("2024-01-02", 5, "02"),
        ("2024-01-02", 7, "03"),
    ]
    history = table.history()
    assert {h["op"] for h in history} == {"append"}
    assert all(h["removed_files"] == 0 for h in history)
    # each commit adds at most one file per dt, each file of one dt
    live: set[str] = set()
    for h in history:
        added = set(table.files(h["version"])) - live
        live |= added
        dts = [pq.read_table(f, columns=["dt"])["dt"].unique().to_pylist() for f in added]
        assert all(len(d) == 1 for d in dts), dts
        assert len({d[0] for d in dts}) == len(dts), dts


def test_dau_trigger_fires_at_most_two_jobs(spark, tmp_path):
    """A data trigger into a DAU table that already holds rows runs the
    stateful plan once, inside its one write job: no bounds job and no
    read or rewrite of the live files.  The restart gives the trigger a
    query run (a job group) of its own."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_batch(spark, src, _rows((1, 1, 9, 1), (2, 2, 9, 2)))
    _run_dau_job(spark, src, out, ckpt)
    assert ManifestTable(out).read(spark).count() == 2
    # no row past the max event time seen so far: the watermark stays
    # put, so no no-data trigger follows the data trigger
    _write_batch(spark, src, _rows((3, 1, 8, 3), (4, 2, 1, 4), (5, 1, 2, 1)))
    with jobs_fired(spark) as fired:
        q = SJ.start_dau_job(_one_file_per_trigger(spark, src), out, ckpt)
        fired.track(q)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert ManifestTable(out).read(spark).count() == 4
    assert 0 < fired.n <= 2, fired.n


def test_streaming_sessionize_gap_merge(spark, tmp_path):
    src = str(tmp_path / "sess_src")
    from datetime import datetime

    def ev(eid, minute, uid):
        return (eid, datetime(2024, 1, 1, 10 + minute // 60, minute % 60), uid, "click", 1.0)

    # uid 1: events at 10:00, 10:10 (one session), then 11:30 (new session
    # after >30 min gap); uid 2: single event.  Session aggregation only
    # supports append mode, which emits a session once the watermark
    # passes its end — the uid-99 batches exist purely to advance event
    # time and finalize the earlier sessions.
    from datetime import datetime as dtt

    _write_batch(spark, src, [ev(1, 0, 1), ev(2, 10, 1)])
    _write_batch(spark, src, [ev(3, 90, 1), ev(4, 0, 2)])
    _write_batch(spark, src, [(98, dtt(2024, 1, 2, 10), 99, "click", 1.0)])
    _write_batch(spark, src, [(99, dtt(2024, 1, 3, 10), 99, "click", 1.0)])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    sessions = SJ.streaming_sessionize(stream, gap="30 minutes", watermark="0 seconds")
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT user_id, n_events FROM sess_out WHERE user_id != 99 "
        "ORDER BY user_id, session_start"
    ).collect()
    got = [(r.user_id, r.n_events) for r in rows]
    assert got == [(1, 2), (1, 1), (2, 1)], got


def test_stateful_day_scoped_dedup(spark, tmp_path):
    src = str(tmp_path / "state_src")
    # (dt=1, uid=1) appears in both micro-batches -> exactly one output,
    # and it must be the FIRST-seen row (hour 0, not hour 2)
    _write_batch(spark, src, _rows((1, 1, 0, 1), (2, 1, 1, 2)))
    _write_batch(spark, src, _rows((3, 1, 2, 1), (4, 2, 0, 1)))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    dedup = SJ.stateful_day_scoped_dedup(stream)
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("state_dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT mid, dt, hr FROM state_dedup_out").collect()
    got = {(r.mid, r.dt, r.hr) for r in rows}
    assert got == {
        (1, "2024-01-01", "00"),  # first-seen hour for uid 1 on day 1
        (2, "2024-01-01", "01"),
        (1, "2024-01-02", "00"),  # same uid, new day -> new state key
    }, got


def test_dedup_drops_late_beyond_watermark(spark, tmp_path):
    src = str(tmp_path / "late_src")
    # batch 1 advances event time to day 10; watermark (48h) then sits at
    # day 8, so batch 2's day-1 duplicate is late-beyond-watermark: it
    # must NOT produce a second (dt=1, uid=1) row
    _write_batch(spark, src, _rows((1, 1, 0, 1), (2, 10, 0, 9)))
    _write_batch(spark, src, _rows((3, 1, 5, 1)))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    dau = SJ.streaming_dau(stream)
    q = (
        dau.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT mid, dt, count(*) AS n FROM late_out GROUP BY mid, dt"
    ).collect()
    assert all(r.n == 1 for r in rows), rows


def test_streaming_hourly_counts_windowed(spark, tmp_path):
    src = str(tmp_path / "hourly_src")
    # day 1: uid1 twice in hour 0 (dedup -> 1), uid2 in hour 0, uid3 hour 1
    _write_batch(spark, src, _rows((1, 1, 0, 1), (2, 1, 0, 2)))
    _write_batch(spark, src, _rows((3, 1, 0, 1), (4, 1, 1, 3)))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    hourly = SJ.streaming_hourly_counts(stream)
    q = (
        hourly.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hourly_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT hour_start, ct FROM hourly_out ORDER BY hour_start"
    ).collect()
    got = [(r.hour_start.hour, r.ct) for r in rows]
    assert got == [(0, 2), (1, 1)], got  # uid1 deduped within hour 0


def test_stream_static_join_refreshes_dim_per_batch(spark, tmp_path):
    """The static side of a stream-static join is re-resolved each
    micro-batch: a dim row upserted between batches enriches the next
    batch (the reference's per-batch broadcast refresh,
    DwdOrderInfoApp.scala:87-92)."""
    from datetime import datetime

    src = str(tmp_path / "orders_src")
    dim_path = str(tmp_path / "dim_user")
    out_path = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")
    order_schema = "order_id long, user_id long, ts timestamp"
    t0 = datetime(2024, 1, 1)

    # initial dim: only user 1 known
    dim = ManifestTable(dim_path)
    dim.upsert(
        spark,
        spark.createDataFrame([(1, "alice", "vip")], "id long, name string, tier string"),
        ["id"],
    )
    _write_batch(
        spark, src, [(100, 1, t0), (101, 2, t0)],
        T._parse_datatype_string(order_schema),
    )
    stream = (
        spark.readStream.schema(order_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = SJ.streaming_enrich_orders(stream, dim_path, out_path, ckpt)
    try:
        q.processAllAvailable()
        first = {
            r.order_id: r.user_name
            for r in ManifestTable(out_path).read(spark).collect()
        }
        assert first == {100: "alice", 101: None}  # user 2 unknown yet

        # dim upsert BETWEEN batches, then a new order for user 2
        dim.upsert(
            spark,
            spark.createDataFrame([(2, "bob", "std")], "id long, name string, tier string"),
            ["id"],
        )
        _write_batch(
            spark, src, [(102, 2, t0)], T._parse_datatype_string(order_schema)
        )
        q.processAllAvailable()
        got = {
            r.order_id: r.user_name
            for r in ManifestTable(out_path).read(spark).collect()
        }
    finally:
        q.stop()
    assert got == {100: "alice", 101: None, 102: "bob"}  # snapshot refreshed


def test_streaming_enrich_orders_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a fresh-checkpoint replay over the
    same source and the same output table (the crash-before-checkpoint-
    commit replay) leaves the enriched output unchanged instead of
    appending every order a second time."""
    from datetime import datetime

    src = str(tmp_path / "orders_src")
    dim_path = str(tmp_path / "dim_user")
    out_path = str(tmp_path / "enriched")
    order_schema = "order_id long, user_id long, ts timestamp"
    ManifestTable(dim_path).upsert(
        spark,
        spark.createDataFrame([(1, "alice", "vip")], "id long, name string, tier string"),
        ["id"],
    )
    _write_batch(
        spark, src, [(100, 1, datetime(2024, 1, 1))],
        T._parse_datatype_string(order_schema),
    )

    def run(ckpt):
        stream = (
            spark.readStream.schema(order_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = SJ.streaming_enrich_orders(stream, dim_path, out_path, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def order_ids():
        return sorted(
            r.order_id for r in ManifestTable(out_path).read(spark).collect()
        )

    run(str(tmp_path / "ckpt1"))
    assert order_ids() == [100]
    run(str(tmp_path / "ckpt2"))  # full replay of batch 0
    assert order_ids() == [100]


def test_kafka_option_builders():
    from gmallrealtime02_spark.streaming.kafka import (
        kafka_sink_options,
        kafka_source_options,
    )

    src = kafka_source_options(
        "b1:9092,b2:9092", ["GMALL_START", "GMALL_EVENT"], "g1",
        {"GMALL_START": {"0": 42}},
    )
    assert src["subscribe"] == "GMALL_START,GMALL_EVENT"
    assert json.loads(src["startingOffsets"]) == {"GMALL_START": {"0": 42}}
    assert src["kafka.group.id"] == "g1"
    snk = kafka_sink_options("b1:9092", "DWD_ORDER_INFO")
    # idempotence genuinely on (the reference misspelled the key)
    assert snk["kafka.enable.idempotence"] == "true"
    assert snk["topic"] == "DWD_ORDER_INFO"


def test_stream_stream_left_outer_emits_orphans(spark, tmp_path):
    """Orphan details (no matching order_info) must emit null-padded once
    the watermark passes the join window — the reference silently drops
    them (DwsOrderWideApp.scala: inner windowed join)."""
    from datetime import datetime, timedelta

    oi_schema = "o_order_id long, o_ts timestamp, o_total double"
    od_schema = "detail_id long, order_id long, d_ts timestamp, sku long"
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    oi_dir, od_dir = str(tmp_path / "oi"), str(tmp_path / "od")
    _write_batch(spark, oi_dir, [(1, t0, 10.0)], T._parse_datatype_string(oi_schema))
    _write_batch(
        spark, od_dir, [(100, 1, t0, 7), (103, 3, t0, 5)],
        T._parse_datatype_string(od_schema),
    )
    # late traffic on BOTH streams advances the global watermark far past t0
    for dt_h in (1, 2):
        late = t0 + timedelta(hours=dt_h)
        _write_batch(
            spark, oi_dir, [(90 + dt_h, late, 1.0)],
            T._parse_datatype_string(oi_schema),
        )
        _write_batch(
            spark, od_dir, [(900 + dt_h, 90 + dt_h, late, 1)],
            T._parse_datatype_string(od_schema),
        )
    oi = (
        spark.readStream.schema(oi_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(oi_dir + "/*")
    )
    od = (
        spark.readStream.schema(od_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(od_dir + "/*")
    )
    wide = SJ.streaming_order_wide_outer(oi, od)
    q = (
        wide.writeStream.outputMode("append")
        .format("memory")
        .queryName("wide_outer_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.detail_id, r.o_order_id)
            for r in spark.sql("SELECT * FROM wide_outer_out").collect()
        }
    finally:
        q.stop()
    assert (100, 1) in got           # matched pair
    assert (103, None) in got        # orphan emitted null-padded


def test_dedup_within_watermark_state_evicts(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate inside the horizon
    collapses; the same key arriving after its state was evicted emits
    AGAIN (bounded state — the semantic difference vs first-seen
    dedup)."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "src")
    # batch 1: event 1 twice (different ts, same key) -> one row
    _write_batch(
        spark, src,
        [(1, t0, 1, "click", 1.0), (1, t0 + timedelta(seconds=30), 1, "click", 1.0)],
    )
    # batch 2: far-future traffic advances watermark past event 1's state
    _write_batch(spark, src, [(2, t0 + timedelta(hours=3), 2, "click", 1.0)])
    # batch 3: spacer — eviction runs during this batch with the advanced
    # watermark (the dedup check precedes eviction inside a batch, so the
    # replay must arrive in a LATER batch than the eviction)
    _write_batch(spark, src, [(4, t0 + timedelta(hours=3, minutes=5), 4, "click", 1.0)])
    # batch 4: event 1 again, at a fresh event time -> state gone -> emits
    _write_batch(spark, src, [(1, t0 + timedelta(hours=3, minutes=6), 1, "click", 1.0)])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    deduped = SJ.streaming_dedup_within_watermark(
        stream, ["event_id"], "ts", "10 minutes"
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("wwm_out")
        .start()
    )
    try:
        q.processAllAvailable()
        ids = [r.event_id for r in spark.sql("SELECT * FROM wwm_out").collect()]
    finally:
        q.stop()
    assert sorted(ids) == [1, 1, 2, 4], ids  # event 1 emitted twice, dup collapsed


def test_streaming_near_dup_suppress(spark, tmp_path):
    """Same bag-of-words (reworded order) collapses to one row in-stream;
    genuinely different text passes."""
    from datetime import datetime

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "docs")
    _write_batch(
        spark, src,
        [(1, t0, "the quick brown fox"), (2, t0, "an entirely different doc")],
        schema,
    )
    _write_batch(
        spark, src,
        [(3, t0, "brown quick the fox"), (4, t0, "yet another unique text")],
        schema,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = SJ.streaming_near_dup_suppress(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        ids = sorted(r.doc_id for r in spark.sql("SELECT * FROM neardup_out").collect())
    finally:
        q.stop()
    assert ids == [1, 2, 4], ids  # doc 3 (reworded doc 1) suppressed


def _typed_rows(*specs):
    from datetime import datetime

    return [
        (eid, datetime(2024, 1, day, hour, 0, 0), uid, etype, 1.0)
        for eid, day, hour, uid, etype in specs
    ]


def test_stateful_funnel_advances_across_batches(spark, tmp_path):
    """Per-user funnel stage machine: anchors carry across micro-batches,
    stage order is enforced (purchase before its click is swallowed),
    same-timestamp events do NOT advance (strict >), and each user emits
    at most one row per stage."""
    src = str(tmp_path / "funnel_src")
    # batch 1: uid1 view@h0, click@h1 (advances to 2); uid2 purchase@h0
    # (swallowed: stage 1 not reached), view@h1
    _write_batch(
        spark,
        src,
        _typed_rows(
            (1, 1, 0, 1, "view"),
            (2, 1, 1, 1, "click"),
            (3, 1, 0, 2, "purchase"),
            (4, 1, 1, 2, "view"),
        ),
    )
    # batch 2: uid1 purchase@h2 completes; uid2 click@h1 (same ts as its
    # view -> strict > rejects), click@h3 advances; uid1 second view
    # ignored (stage already past 1)
    _write_batch(
        spark,
        src,
        _typed_rows(
            (5, 1, 2, 1, "purchase"),
            (6, 1, 1, 2, "click"),
            (7, 1, 3, 2, "click"),
            (8, 1, 4, 1, "view"),
        ),
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        SJ.stateful_funnel(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.stage, r.event_type, r.ts.hour)
        for r in spark.sql("SELECT * FROM funnel_out").collect()
    }
    assert got == {
        (1, 1, "view", 0),
        (1, 2, "click", 1),
        (1, 3, "purchase", 2),
        (2, 1, "view", 1),
        (2, 2, "click", 3),
    }, got


def test_stateful_funnel_matches_batch_query_counts(spark, sf_dir):
    """Replaying the whole events table as ONE batch through the streaming
    funnel must reproduce the batch event_funnel per-stage user counts
    (in-order replay -> the state machine anchors == min-ts chaining)."""
    from gmallrealtime02_spark.plans.registry import load_all
    from gmallrealtime02_spark.sources import load_table

    batch = {
        r.stage: r.users
        for r in load_all()["event_funnel"].fn(spark, sf_dir).collect()
    }

    src = load_table(spark, sf_dir, "events").select(
        "event_id",
        # watermarks require TIMESTAMP (LTZ); the naive-µs testdata loads
        # as NTZ — the session is UTC-pinned so the cast preserves values
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events_replay")
        src.write.parquet(path)
        stream = spark.readStream.schema(src.schema).parquet(path)
        q = (
            SJ.stateful_funnel(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("funnel_replay_out")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.stage: r.users
            for r in spark.sql(
                "SELECT stage, count(*) AS users FROM funnel_replay_out GROUP BY stage"
            ).collect()
        }
    assert got == batch, (got, batch)


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def test_streaming_ingest_dedup_grows_corpus(spark, tmp_path):
    """Dedup-at-ingest via foreachBatch: batch 1 self-dedups (lowest
    doc_id wins), batch 2's docs are probed against batch 1's survivors
    (now the corpus), and only genuinely novel docs append."""
    src = str(tmp_path / "ingest_src")
    corpus = str(tmp_path / "ingest_corpus")
    out = str(tmp_path / "ingest_out")
    ckpt = str(tmp_path / "ingest_ckpt")
    tx = "alpha beta gamma delta epsilon zeta"
    ty = "one two three four five six seven"
    tz = "red green blue cyan magenta yellow"
    # batch 1: doc 2 duplicates doc 1 in-batch; doc 3 distinct
    _write_batch(
        spark, src,
        [(1, tx, "en"), (2, tx, "en"), (3, ty, "en")],
        schema=DOC_SCHEMA,
    )
    # batch 2: doc 4 duplicates the corpus (doc 1); doc 5 novel
    _write_batch(
        spark, src,
        [(4, tx, "en"), (5, tz, "en")],
        schema=DOC_SCHEMA,
    )
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = SJ.streaming_ingest_dedup(stream, corpus, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = {r.doc_id for r in ManifestTable(out).read(spark).collect()}
    assert kept == {1, 3, 5}, kept
    # the corpus grew to exactly the survivor set
    grown = {r.doc_id for r in ManifestTable(corpus).read(spark).collect()}
    assert grown == {1, 3, 5}, grown


def test_streaming_ingest_dedup_chain_keeps_component_min(spark, tmp_path):
    """In-batch self-dedup uses CONNECTED-COMPONENT semantics: for a
    near-dup chain A~B, B~C with A~/~C (overlapping shifted windows), the
    whole component keeps only its minimum doc_id — C must NOT survive
    just because its only near-dup B was also dropped (the old
    pairwise-drop rule), matching dedup_canonical's rule."""
    from gmallrealtime02_spark.functions.similarity import minhash_lsh_pairs

    seq = [f"t{k}" for k in range(60)]
    texts = [" ".join(seq[i * 3 : i * 3 + 21]) for i in range(3)]
    rows = [(i + 1, t, "en") for i, t in enumerate(texts)]
    # pin the premise: the fixture really is a chain (1~2, 2~3, not 1~3)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            spark.createDataFrame(rows, DOC_SCHEMA), 0.5
        ).collect()
    }
    assert pairs == {(1, 2), (2, 3)}, pairs

    src = str(tmp_path / "chain_src")
    corpus = str(tmp_path / "chain_corpus")
    out = str(tmp_path / "chain_out")
    ckpt = str(tmp_path / "chain_ckpt")
    _write_batch(spark, src, rows, schema=DOC_SCHEMA)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = SJ.streaming_ingest_dedup(stream, corpus, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = {r.doc_id for r in ManifestTable(out).read(spark).collect()}
    assert kept == {1}, kept


def test_streaming_ingest_dedup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch (fresh
    checkpoint over the same source and the same sink paths — the crash-
    before-checkpoint-commit replay) must leave out_path and corpus
    unchanged, not re-append survivors.  Includes a doc too short to
    carry a signature (trivial survivor), which the old append sink
    duplicated on every replay."""
    src = str(tmp_path / "replay_src")
    corpus = str(tmp_path / "replay_corpus")
    out = str(tmp_path / "replay_out")
    short = "tiny doc"  # < N_SHINGLE words -> no signature
    _write_batch(
        spark, src,
        [(1, "alpha beta gamma delta epsilon zeta", "en"), (2, short, "en")],
        schema=DOC_SCHEMA,
    )

    def run(ckpt):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = SJ.streaming_ingest_dedup(stream, corpus, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "replay_ckpt1"))
    first = sorted(
        (r.doc_id, r.text) for r in ManifestTable(out).read(spark).collect()
    )
    run(str(tmp_path / "replay_ckpt2"))  # full replay of batch 0
    again = sorted(
        (r.doc_id, r.text) for r in ManifestTable(out).read(spark).collect()
    )
    assert first == again == [(1, "alpha beta gamma delta epsilon zeta"), (2, short)]
    grown = sorted(r.doc_id for r in ManifestTable(corpus).read(spark).collect())
    assert grown == [1, 2], grown


def test_streaming_scd2_rewrites_affected_users(spark, tmp_path):
    """Streaming SCD2: batch 2's LATE event for user 1 lands between two
    existing versions — the interval re-splits, versions renumber, and
    the final table equals the batch scd2_of over ALL events; user 2's
    rows are untouched by batch 2 (no events for them)."""
    from datetime import datetime

    from gmallrealtime02_spark.operators.windows import scd2_of

    src = str(tmp_path / "scd2_src")
    tbl = str(tmp_path / "scd2_tbl")
    ckpt = str(tmp_path / "scd2_ckpt")

    def ev(eid, hour, uid, etype):
        return (eid, datetime(2024, 1, 1, hour), uid, etype, 1.0)

    b1 = [ev(1, 0, 1, "view"), ev(2, 4, 1, "purchase"), ev(10, 0, 2, "signup")]
    b2 = [ev(3, 2, 1, "click")]  # late: between view@0 and purchase@4
    _write_batch(spark, src, b1)
    _write_batch(spark, src, b2)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = SJ.streaming_scd2(
        stream.select("user_id", "event_id", "ts", "event_type"), tbl, ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.version, r.state, r.valid_from.hour,
         r.valid_to.hour if r.valid_to else None, r.is_current)
        for r in ManifestTable(tbl).read(spark).collect()
    }
    # batch reference over the full concatenated event set
    all_ev = spark.createDataFrame(b1 + b2, EVENT_SCHEMA).select(
        "user_id", "event_id", "ts", "event_type"
    )
    want = {
        (r.user_id, r.version, r.state, r.valid_from.hour,
         r.valid_to.hour if r.valid_to else None, r.is_current)
        for r in scd2_of(all_ev).collect()
    }
    assert got == want, (got, want)
    # explicit shape: user 1 now has view→click→purchase with re-split bounds
    u1 = sorted(t for t in got if t[0] == 1)
    assert u1 == [
        (1, 1, "view", 0, 2, False),
        (1, 2, "click", 2, 4, False),
        (1, 3, "purchase", 4, None, True),
    ], u1


def test_streaming_scd2_snapshot_survives_next_batch(spark, tmp_path):
    """A read resolved after batch 1 keeps reading batch 1's history
    after batch 2 commits: each batch publishes a new snapshot instead
    of overwriting the files an earlier read planned against."""
    from datetime import datetime

    from gmallrealtime02_spark.operators.windows import scd2_of

    src = str(tmp_path / "scd2_src")
    tbl = str(tmp_path / "scd2_tbl")
    ckpt = str(tmp_path / "scd2_ckpt")

    def ev(eid, hour, uid, etype):
        return (eid, datetime(2024, 1, 1, hour), uid, etype, 1.0)

    def rows(df):
        return sorted(
            (r.user_id, r.version, r.state, r.valid_from, r.valid_to)
            for r in df.collect()
        )

    cols = ["user_id", "event_id", "ts", "event_type"]

    def batch_history(events):
        return rows(scd2_of(spark.createDataFrame(events, EVENT_SCHEMA).select(*cols)))

    b1 = [ev(1, 0, 1, "view"), ev(2, 4, 1, "purchase")]
    b2 = [ev(3, 2, 1, "click")]
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
        .select(*cols)
    )
    _write_batch(spark, src, b1)
    q = SJ.streaming_scd2(stream, tbl, ckpt)
    try:
        q.processAllAvailable()
        after_b1 = ManifestTable(tbl).read(spark)  # planned, not collected
        _write_batch(spark, src, b2)
        q.processAllAvailable()
    finally:
        q.stop()
    assert rows(after_b1) == batch_history(b1)
    assert rows(ManifestTable(tbl).read(spark)) == batch_history(b1 + b2)


def test_streaming_hll_replay_matches_batch(spark, sf_dir):
    """Replaying the events table through the streaming HLL twin in two
    micro-batches reproduces the batch hll_distinct_daily estimates
    bit-for-bit: register max-merge is order- and batching-insensitive,
    so the final per-day sketch state is identical to the one-pass
    batch fold."""
    import tempfile

    from gmallrealtime02_spark.plans.registry import load_all
    from gmallrealtime02_spark.sources import load_table

    batch = {
        r.dt: (r.hit_registers, r.hll_distinct)
        for r in load_all()["hll_distinct_daily"].fn(spark, sf_dir).collect()
    }

    src = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    final: dict[str, tuple[int, float]] = {}

    def sink(df, _bid):
        for r in df.collect():
            final[r.dt] = (r.hit_registers, r.hll_distinct)

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events_hll")
        # two files -> two micro-batches, so cross-batch register merging
        # is actually exercised
        src.filter(F.col("event_id") % 2 == 0).write.parquet(path)
        src.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(path)
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        q = (
            SJ.streaming_hll(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert final == batch, (final, batch)


def test_streaming_anomaly_replay_matches_batch(spark, sf_dir):
    """Replaying the events table through the streaming anomaly twin in
    two micro-batches reproduces the batch ``anomaly_zscore`` rows
    bit-for-bit: per-day totals accumulate as exact int64 micro-units
    (order- and batching-invariant), and the emit path converts them to
    the batch op's doubles by single correct roundings."""
    import tempfile

    from gmallrealtime02_spark.plans.registry import load_all

    batch = {
        (r.event_type, r.dt): (r.day_value, r.zscore, r.is_anomaly)
        for r in load_all()["anomaly_zscore"].fn(spark, sf_dir).collect()
    }

    from gmallrealtime02_spark.sources import load_table

    src = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    final = {}

    def sink(df, _bid):
        for r in df.collect():
            final[(r.event_type, r.dt)] = (r.day_value, r.zscore, r.is_anomaly)

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events_anom")
        src.filter(F.col("event_id") % 2 == 0).write.parquet(path)
        src.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(path)
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        q = (
            SJ.streaming_anomaly(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert final == batch, {
        k: (final.get(k), batch.get(k))
        for k in set(final) ^ set(batch)
        | {k for k in set(final) & set(batch) if final[k] != batch[k]}
    }


def test_streaming_attribution_matches_batch_rollup(spark, sf_dir):
    """In-order replay of the events table through the streaming
    last-touch attributor must reproduce the batch
    attribution_last_touch channel rollup exactly (same tie rule:
    touches sort before purchases on equal timestamps)."""
    from gmallrealtime02_spark.plans.registry import load_all
    from gmallrealtime02_spark.sources import load_table

    batch = {
        r.attributed_to: (r.purchases, round(r.revenue, 2))
        for r in load_all()["attribution_last_touch"].fn(spark, sf_dir).collect()
    }

    src = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events_attr_replay")
        src.write.parquet(path)
        stream = spark.readStream.schema(src.schema).parquet(path)
        q = (
            SJ.streaming_attribution(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("attr_replay_out")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.attributed_to: (r.purchases, round(r.revenue, 2))
            for r in spark.sql(
                "SELECT attributed_to, count(*) AS purchases, "
                "sum(round(value, 2)) AS revenue "
                "FROM attr_replay_out GROUP BY attributed_to"
            ).collect()
        }
    assert got == batch, (got, batch)


def test_streaming_attribution_state_carries_across_batches(spark, tmp_path):
    """A touch in batch 1 must attribute a purchase arriving in batch 2
    (state carry), and a purchase with no prior touch is 'direct'."""
    import pandas as pd

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    b1 = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 10, 0), 7, "view", 0.0),
            (2, datetime.datetime(2024, 1, 1, 10, 1), 8, "purchase", 5.0),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [(3, datetime.datetime(2024, 1, 1, 10, 2), 7, "purchase", 9.0)],
        schema,
    )
    src = str(tmp_path / "attr_batches")
    b1.write.parquet(src)
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        SJ.streaming_attribution(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_carry_out")
        .start()
    )
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r.event_id: r.attributed_to
        for r in spark.sql("SELECT * FROM attr_carry_out").collect()
    }
    assert rows == {2: "direct", 3: "view"}, rows


def test_streaming_attribution_late_purchase_not_credited_to_future_touch(
    spark, tmp_path
):
    """A purchase arriving late (after a LATER touch already entered
    state in a previous batch) must fall back to 'direct', not credit
    the future channel."""
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    b1 = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 10, 5), 9, "click", 0.0)], schema
    )
    # purchase at 10:00 arrives in batch 2, after the 10:05 click
    b2 = spark.createDataFrame(
        [(2, datetime.datetime(2024, 1, 1, 10, 0), 9, "purchase", 3.0)], schema
    )
    src = str(tmp_path / "attr_late")
    b1.write.parquet(src)
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        SJ.streaming_attribution(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_late_out")
        .start()
    )
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r.event_id: r.attributed_to
        for r in spark.sql("SELECT * FROM attr_late_out").collect()
    }
    assert rows == {2: "direct"}, rows


def test_streaming_quality_filter_matches_batch(spark, tmp_path):
    """streaming_quality_filter: offline-trained weights score the
    ingest stream with the batch scorer's own expression trees — the
    per-doc logits match a batch run of the SAME function bit-for-bit,
    and below-threshold docs are dropped before they enter the corpus.
    Weights w = (-0.05, 1.0, 0, 0) make logit = n_words/100 - 0.05,
    i.e. only docs with >= 5 words survive threshold 0."""
    src = str(tmp_path / "qf_src")
    w = [-0.05, 1.0, 0.0, 0.0]
    rows = [
        (1, "alpha beta gamma", "en"),                      # 3 words: drop
        (2, "one two three four five", "en"),               # 5 words: keep
        (3, "a b c d e f g", "fr"),                         # 7 words: keep
        (4, "", "en"),                                      # empty: excluded
        (5, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en"),        # keep
    ]
    _write_batch(spark, src, rows[:3], schema=DOC_SCHEMA)
    _write_batch(spark, src, rows[3:], schema=DOC_SCHEMA)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        SJ.streaming_quality_filter(stream, w)
        .writeStream.format("memory")
        .queryName("qf_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.logit)
            for r in spark.sql("SELECT * FROM qf_out").collect()
        }
    finally:
        q.stop()
    # batch twin: the same stateless function over the same rows
    batch = {
        (r.doc_id, r.logit)
        for r in SJ.streaming_quality_filter(
            spark.read.schema(DOC_SCHEMA).parquet(src + "/*"), w
        ).collect()
    }
    assert got == batch
    assert {d for d, _ in got} == {2, 3, 5}, got


def test_streaming_media_features_matches_batch(spark, tmp_path):
    """streaming_media_features: binary payloads arriving on the ingest
    stream produce byte features + perceptual aHash bit-identical to a
    batch run of the SAME function over the same rows — one stateless
    Arrow stage, signature computed scan-side before the payload drops."""
    src = str(tmp_path / "media_src")
    media_schema = "doc_id long, content binary, media_type string, n_bytes long"
    rows1 = [
        (1, bytearray(b"the quick brown fox jumps over the lazy dog"),
         "text/plain", 43),
        (2, bytearray(b"the quick brown fox jumps over the lazy dot"),
         "text/plain", 43),
    ]
    rows2 = [
        (3, bytearray(b""), "text/plain", 0),
        (4, bytearray(b"zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz" * 4),
         "text/plain", 160),
    ]
    _write_batch(spark, src, rows1, schema=media_schema)
    _write_batch(spark, src, rows2, schema=media_schema)
    stream = (
        spark.readStream.schema(media_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        SJ.streaming_media_features(stream)
        .writeStream.format("memory")
        .queryName("mf_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.n_bytes, r.digest, r.byte_entropy, r.ahash)
            for r in spark.sql("SELECT * FROM mf_out").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.doc_id, r.n_bytes, r.digest, r.byte_entropy, r.ahash)
        for r in SJ.streaming_media_features(
            spark.read.schema(media_schema).parquet(src + "/*")
        ).collect()
    }
    assert got == batch
    assert len(got) == 4
    by_id = {t[0]: t for t in got}
    # near-identical payloads (one trailing char differs) land within a
    # few aHash bits; the empty payload signs to 0
    ham = bin(by_id[1][4] ^ by_id[2][4]).count("1")
    assert ham <= 3, (by_id[1][4], by_id[2][4])
    assert by_id[3][4] == 0


def test_streaming_cms_matches_batch_sketch(spark, tmp_path):
    """streaming_cms: per-shard CMS cells folded over micro-batches merge
    cell-wise into EXACTLY the sketch a batch pass over the full corpus
    builds (addition commutes), using the batch op's own hash params —
    probe estimates from the merged cells equal the python-mirror CMS
    and never underestimate the exact counts."""
    from gmallrealtime02_spark.functions.text import HASH_MOD
    from gmallrealtime02_spark.plans.sketches import CMS_PARAMS, CMS_W, P

    src = str(tmp_path / "cms_src")
    doc_schema = "doc_id long, text string"
    rows1 = [
        (1, "apple banana apple cherry"),
        (2, "banana banana date"),
        (3, "apple elderberry"),
    ]
    rows2 = [
        (4, "apple fig banana"),
        (5, "cherry cherry cherry apple"),
        (6, ""),
    ]
    _write_batch(spark, src, rows1, schema=doc_schema)
    _write_batch(spark, src, rows2, schema=doc_schema)
    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        SJ.streaming_cms(stream, n_shards=4)
        .writeStream.format("memory")
        .queryName("cms_out")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        emits = spark.sql(
            "SELECT shard, cells FROM cms_out"
        ).collect()
    finally:
        q.stop()
    # last emit per shard is the final state (update mode appends to the
    # memory sink; later rows for a shard supersede earlier ones)
    final = {}
    for r in emits:
        final[r.shard] = list(r.cells)
    merged = [0] * (len(CMS_PARAMS) * CMS_W)
    for cells in final.values():
        for i, c in enumerate(cells):
            merged[i] += c

    # python mirror: exact counts + CMS built with the same params
    def phash(word):
        acc = 0
        for ch in word:
            acc = (acc * 31 + ord(ch)) % HASH_MOD
        return acc

    from collections import Counter

    words = [
        w
        for _, text in rows1 + rows2
        for w in text.split(" ")
        if w != ""
    ]
    exact = Counter(words)
    mirror = [0] * (len(CMS_PARAMS) * CMS_W)
    for w, n in exact.items():
        h = phash(w)
        for i, (a, b) in enumerate(CMS_PARAMS):
            mirror[i * CMS_W + ((a * h + b) % P) % CMS_W] += n
    assert merged == mirror
    for w, n in exact.items():
        h = phash(w)
        est = min(
            merged[i * CMS_W + ((a * h + b) % P) % CMS_W]
            for i, (a, b) in enumerate(CMS_PARAMS)
        )
        assert est >= n
        assert est == n  # tiny vocab: no collisions at w=256


def test_streaming_bloom_decontamination_matches_batch(spark, tmp_path):
    """streaming_bloom_decontamination: the offline-built eval Bloom
    bitmap flags arriving contaminated docs bit-identically to a batch
    run of the same function; an eval-copy doc is contaminated, a
    disjoint doc is clean (Bloom never misses, so clean is certain)."""
    from gmallrealtime02_spark.plans.sketches import bloom_bitmap_words
    from gmallrealtime02_spark.functions import similarity as S
    import pyspark.sql.functions as F

    doc_schema = "doc_id long, text string"
    eval_rows = [
        (100, "the quick brown fox jumps over the lazy dog every day"),
        (101, "training data decontamination is table stakes now"),
    ]
    ev = spark.createDataFrame(eval_rows, doc_schema)
    ev_hashes = S.shingle_hash_table(ev, ("doc_id",), n=4).select(
        "doc_id", F.explode(F.array_distinct("hs")).alias("h")
    )
    words = bloom_bitmap_words(ev_hashes)

    src = str(tmp_path / "bloom_src")
    rows1 = [
        (1, "the quick brown fox jumps over the lazy dog every day"),  # copy
        (2, "completely unrelated text about spark shuffles and joins"),
    ]
    rows2 = [
        (3, "training data decontamination is table stakes now truly"),
        (4, ""),
    ]
    _write_batch(spark, src, rows1, schema=doc_schema)
    _write_batch(spark, src, rows2, schema=doc_schema)
    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        SJ.streaming_bloom_decontamination(stream, words)
        .writeStream.format("memory")
        .queryName("bloom_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.n_shingles, r.n_bloom_hits, r.contaminated)
            for r in spark.sql("SELECT * FROM bloom_out").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.doc_id, r.n_shingles, r.n_bloom_hits, r.contaminated)
        for r in SJ.streaming_bloom_decontamination(
            spark.read.schema(doc_schema).parquet(src + "/*"), words
        ).collect()
    }
    assert got == batch
    by_id = {t[0]: t for t in got}
    assert by_id[1][3] == 1  # exact eval copy: every shingle hits
    assert by_id[1][1] == by_id[1][2]
    assert by_id[2][3] == 0  # disjoint doc: clean
    assert by_id[3][3] == 1  # near-copy of eval doc: over the 50% rule


def test_streaming_curation_gate_matches_batch(spark, tmp_path):
    """streaming_curation_gate: the Gopher-rules + language-ID curation
    stages run at INGEST via the same Arrow text-profile kernel the
    batch pipeline uses, so stream and batch verdicts are bit-identical
    and failing docs never enter the corpus.  Keeper docs pass every
    Gopher rule with pred_lang 'en'; droppers fail word count or
    language."""
    src = str(tmp_path / "gate_src")
    keeper = " ".join(
        ["the quick brown fox jumps over and lazy dogs chase of them is"]
        * 5
    )  # 60 words, all-alpha, mean len ~4, en markers every sentence
    keeper2 = " ".join(["fine words keep the corpus and growing is good"] * 7)
    short = "the and of"  # fails ok_word_count
    french = " ".join(
        ["les grands arbres verts des forets une belle riviere the and"]
        * 6
    )  # 60 words, passes gopher, fr markers (les/des/une=18) > en (12)
    rows = [
        (1, keeper, "en"),
        (2, short, "en"),
        (3, french, "fr"),
        (4, keeper2, "en"),
    ]
    _write_batch(spark, src, rows[:2], schema=DOC_SCHEMA)
    _write_batch(spark, src, rows[2:], schema=DOC_SCHEMA)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        SJ.streaming_curation_gate(stream)
        .writeStream.format("memory")
        .queryName("gate_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.pred_lang, r.n_words, r.text_md5)
            for r in spark.sql("SELECT * FROM gate_out").collect()
        }
    finally:
        q.stop()
    # batch twin: the same stateless function over the same rows
    batch_df = spark.createDataFrame(rows, DOC_SCHEMA)
    want = {
        (r.doc_id, r.pred_lang, r.n_words, r.text_md5)
        for r in SJ.streaming_curation_gate(batch_df).collect()
    }
    assert got == want
    assert {r[0] for r in got} == {1, 4}


def test_streaming_semantic_decontamination_matches_batch(spark, tmp_path):
    """streaming_semantic_decontamination: the eval vectors ride as plan
    literals and the scan-side greatest() argmax decodes to EXACTLY the
    batch op's (eval_id, cosine, contaminated) on the same rows; an
    exact eval-copy vector flags contaminated (cos=1), an orthogonal one
    does not."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "sem_src")
    vec_schema = "vec_id long, embedding array<float>"
    eval_rows = [
        (0, [1.0, 0.0, 0.0, 0.25]),
        (1, [0.0, 1.0, 0.0, 0.5]),
    ]
    eval_vecs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in spark.createDataFrame(eval_rows, vec_schema).collect()
    ]
    rows1 = [
        (10, [1.0, 0.0, 0.0, 0.25]),   # exact copy of eval 0
        (11, [0.0, 0.0, 1.0, 0.0]),    # orthogonal to eval 0, weak vs eval 1
    ]
    rows2 = [
        (12, [0.0, 1.0, 0.0, 0.5]),    # exact copy of eval 1
        (13, [-1.0, -1.0, -1.0, -1.0]),
    ]
    _write_batch(spark, src, rows1, schema=vec_schema)
    _write_batch(spark, src, rows2, schema=vec_schema)
    stream = (
        spark.readStream.schema(vec_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        SJ.streaming_semantic_decontamination(stream, eval_vecs)
        .writeStream.format("memory")
        .queryName("sem_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.vec_id, r.eval_id, r.cosine, r.contaminated)
            for r in spark.sql("SELECT * FROM sem_out").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.vec_id, r.eval_id, r.cosine, r.contaminated)
        for r in SJ.streaming_semantic_decontamination(
            spark.read.schema(vec_schema).parquet(src + "/*"), eval_vecs
        ).collect()
    }
    assert got == batch
    by_id = {t[0]: t for t in got}
    assert by_id[10] == (10, 0, 1.0, 1)
    assert by_id[12] == (12, 1, 1.0, 1)
    assert by_id[13][3] == 0


def test_streaming_event_transitions_matches_batch_lag(spark, tmp_path):
    """streaming_event_transitions: per-user transitions over two
    micro-batches equal the batch lag-window result on the union —
    INCLUDING the transition that straddles the batch boundary, which is
    exactly what the keyed last-event state exists to preserve."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    src = str(tmp_path / "trans_src")
    ev_schema = "event_id long, user_id long, ts timestamp, event_type string"
    rows1 = [
        (1, 7, "2024-01-01 10:00:00", "view"),
        (2, 7, "2024-01-01 10:01:00", "cart"),
        (3, 9, "2024-01-01 10:00:30", "view"),
    ]
    rows2 = [
        (4, 7, "2024-01-01 10:02:00", "purchase"),  # boundary transition
        (5, 9, "2024-01-01 10:03:00", "error"),     # boundary transition
        (6, 9, "2024-01-01 10:04:00", "view"),
    ]
    to_rows = lambda rs: [
        (eid, uid, __import__("datetime").datetime.fromisoformat(ts), et)
        for eid, uid, ts, et in rs
    ]
    _write_batch(spark, src, to_rows(rows1), schema=ev_schema)
    _write_batch(spark, src, to_rows(rows2), schema=ev_schema)
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        SJ.streaming_event_transitions(stream)
        .writeStream.format("memory")
        .queryName("trans_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.prev_type, r.next_type, r.event_id)
            for r in spark.sql("SELECT * FROM trans_out").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(ev_schema).parquet(src + "/*")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.prev_type, r.next_type, r.event_id)
        for r in batch.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
            "event_id",
        )
        .filter(F.col("prev_type").isNotNull())
        .collect()
    }
    assert got == want
    # the two boundary-straddling transitions are present
    assert (7, "cart", "purchase", 4) in got
    assert (9, "view", "error", 5) in got
