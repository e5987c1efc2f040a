"""Workload ``applog_dau``: an app log POSTed to ``/applog`` until it is a
row of the live DAU table.

Path: ``LogCollector`` (defaults) -> the start route's ``log_stream`` ->
``start_dau_job`` (process-as-available trigger) -> ``ManifestTable``
upsert.  A separate process (``perfbench.loadgen``) posts the seeded
stream open-loop at ``RATE`` events/s: an untimed warm-up, a steady
phase of ``--seconds``, a pause, then ``BURST`` events back to back.
During the steady phase one closed-loop dashboard client reads the live
table through ``ManifestTable.read`` + ``operators.dau.dau_today_yesterday``,
pausing ``POLL_S`` between reads.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq

from perfbench.events import event_day, event_key, make_events
from perfbench.host import log, nproc
from perfbench.stats import p50_or_zero, percentile

WHY = (
    "open loop at 50 events/s of seeded app logs (skewed devices, 5% late) plus one live-read "
    "client; HTTP ingest, streaming triggers and manifest commits"
)
RATE = 50.0
WARMUP_S = 5.0
GAP_S = 2.0
BURST = 600
#: the dashboard client's pause between reads, as a polling dashboard does
POLL_S = 1.0
SETUP_REPS = 3
WAIT_S = 90.0
#: per-trigger phases of ``durationMs`` in the order a trigger runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _dau_input(spark, spool: str):
    """The start route's stream as the events ``start_dau_job`` reads
    (the reference's DauApp parse: ``common.mid`` is the device)."""
    from pyspark.sql import functions as F

    from gmallrealtime02_spark.schemas import STARTUP_LOG
    from gmallrealtime02_spark.streaming.http_ingest import START_ROUTE, log_stream

    return log_stream(spark, spool, START_ROUTE, STARTUP_LOG).select(
        F.col("common.mid").alias("user_id"),
        F.timestamp_millis("ts").alias("ts"),
        F.lit("start").alias("event_type"),
        F.lit(0.0).alias("value"),
    )


class Pipeline:
    """Collector + streaming DAU job + a reader handle on its table."""

    def __init__(self, spark, root: str) -> None:
        from gmallrealtime02_spark.streaming.http_ingest import LogCollector
        from gmallrealtime02_spark.streaming.jobs import start_dau_job
        from gmallrealtime02_spark.streaming.manifest import ManifestTable

        self.spool = os.path.join(root, "spool")
        out = os.path.join(root, "dau")
        self.collector = LogCollector(self.spool).start()
        self.port = self.collector.address[1]
        self.query = start_dau_job(
            _dau_input(spark, self.spool), out, os.path.join(root, "ckpt")
        )
        self.table = ManifestTable(out)

    def stop(self) -> None:
        self.query.processAllAvailable()
        self.query.stop()
        self.collector.stop()


def _probe_event(seed: int) -> dict:
    d = event_day(seed)
    ts = int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp()) * 1000
    return {"common": {"mid": "probe"}, "start": "icon", "ts": ts}


def post_event(port: int, ev: dict) -> int:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("POST", "/applog", json.dumps(ev).encode())
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def _wait(cond, what: str) -> None:
    deadline = time.time() + WAIT_S
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"applog_dau: timed out waiting for {what}")
        time.sleep(0.01)


def attribute_freshness(
    firsts: list[tuple[object, float]], versions: list[tuple[float, set]]
) -> tuple[list[float], list[object]]:
    """Seconds from each key's due time to the first observed table
    version whose snapshot holds it.

    ``firsts`` is ``(key, due)`` for the first event of each key;
    ``versions`` is ``(seen_at, keys_in_snapshot)`` in version order.
    Returns the latencies and the keys no version ever held."""
    first_seen: dict[object, float] = {}
    for seen_at, keys in versions:
        for k in keys:
            first_seen.setdefault(k, seen_at)
    lat, missing = [], []
    for key, due in firsts:
        if key in first_seen:
            lat.append(first_seen[key] - due)
        else:
            missing.append(key)
    return lat, missing


def _progress_list(query) -> list[dict]:
    return sorted(
        (json.loads(p.json) for p in query.recentProgress), key=lambda p: p["batchId"]
    )


def _progress_start(p: dict) -> float:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def _progress_end(p: dict) -> float:
    return _progress_start(p) + p["durationMs"]["triggerExecution"] / 1000


def _trace_progress(tracer, data: list[dict]) -> None:
    """Each data trigger as a span with its ``durationMs`` phases laid
    end to end inside it, and the foreachBatch sink's manifest spans
    hung under the ``addBatch`` that ran them."""
    if not tracer.enabled:
        return
    from perfbench.spans import adopt

    for p in data:
        t = _progress_start(p)
        rid = f"batch{p['batchId']}"
        trig = tracer.add("trigger", "streaming", t, _progress_end(p), tracer.root_id, rid)
        for ph in PHASES:
            ms = p["durationMs"].get(ph, 0)
            tracer.add(ph, "streaming", t, t + ms / 1000, trig, rid)
            t += ms / 1000
    adds = [s for s in tracer.spans if s["layer"] == "streaming" and s["name"] == "addBatch"]
    adopt(tracer.spans, adds, tracer.root_id)


def run(ctx) -> dict:
    from gmallrealtime02_spark.operators.dau import dau_today_yesterday

    spark = ctx.spark
    tracer = ctx.tracer
    seed = ctx.seed
    today = event_day(seed).isoformat()
    probe = _probe_event(seed)

    # -- set-up, repeated: collector + stream, until the first event is
    # visible in the table --
    setup_times = []
    pipe = None
    for rep in range(SETUP_REPS):
        if pipe is not None:
            pipe.stop()
        t0 = time.perf_counter()
        with tracer.span("setup", "bench", rid="setup"):
            pipe = Pipeline(spark, os.path.join(ctx.work_dir, f"applog{rep}"))
            if post_event(pipe.port, probe) != 200:
                raise RuntimeError("applog_dau: probe event refused")
            _wait(lambda: pipe.table.current_version() >= 1, "the probe event")
        setup_times.append(time.perf_counter() - t0)
    log(f"applog_dau: set up {SETUP_REPS} times")

    # -- when each table version first appears --
    stop = threading.Event()
    seen_at: dict[int, float] = {}

    def watch() -> None:
        last = 0
        while not stop.is_set():
            v = pipe.table.current_version()
            if v > last:
                now = time.time()
                for u in range(last + 1, v + 1):
                    seen_at[u] = now
                last = v
            stop.wait(0.02)

    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()

    n_paced = int(round(RATE * (WARMUP_S + ctx.seconds)))
    n_steady_from = int(round(RATE * WARMUP_S))
    events = make_events(seed, n_paced + BURST)
    events_file = os.path.join(ctx.work_dir, "loadgen.json")
    gen = subprocess.Popen(
        [
            sys.executable, "-m", "perfbench.loadgen",
            "--port", str(pipe.port), "--seed", str(seed), "--rate", str(RATE),
            "--warmup-s", str(WARMUP_S), "--steady-s", str(ctx.seconds),
            "--gap-s", str(GAP_S), "--burst", str(BURST),
            "--threads", str(nproc()), "--out", events_file,
        ],
        cwd=ctx.root,
        stdout=subprocess.PIPE,
        text=True,
    )
    ctx.rss.exclude.add(gen.pid)
    reads: list[float] = []
    read_table: list[float] = []
    read_failed = 0
    try:
        head = json.loads(gen.stdout.readline())
        t_steady = head["t0"] + WARMUP_S
        t_steady_end = t_steady + ctx.seconds
        # -- the dashboard client, closed loop, steady phase only --
        time.sleep(max(0.0, t_steady - time.time()))
        n = 0
        while time.time() < t_steady_end:
            n += 1
            a = time.perf_counter()
            try:
                with tracer.span("live_read", "bench", rid=f"read{n}"):
                    df = pipe.table.read(spark)
                    b = time.perf_counter()
                    dau_today_yesterday(df, today).collect()
            except Exception as exc:  # counted; the client keeps reading
                print(f"applog_dau: live read failed: {exc!r}", file=sys.stderr)
                read_failed += 1
                continue
            read_table.append((b - a) * 1000)
            reads.append((time.perf_counter() - a) * 1000)
            time.sleep(max(0.0, min(POLL_S, t_steady_end - time.time())))
        gen.stdout.read()
        if gen.wait(timeout=WAIT_S) != 0:
            raise RuntimeError("applog_dau: load generator failed")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    log("applog_dau: load generator done")
    with open(events_file) as fh:
        gen_out = json.load(fh)
    records = gen_out["records"]

    # -- drain: every posted event (and the probe) read by some trigger --
    total_in = 1 + len(records)
    _wait(
        lambda: sum(p["numInputRows"] for p in _progress_list(pipe.query)) >= total_in,
        "the stream to drain",
    )
    stop.set()
    watcher.join(timeout=5)
    progress = _progress_list(pipe.query)
    pipe.stop()
    log("applog_dau: stream drained")
    history = pipe.table.history()

    # -- output check: the table holds exactly the posted (dt, mid) set --
    expected = {event_key(e) for e in events} | {event_key(probe)}
    rows = [(r["dt"], r["mid"]) for r in pipe.table.read(spark).select("dt", "mid").collect()]
    correct = set(rows) == expected and len(rows) == len(expected)
    if not correct:
        print(
            f"applog_dau: DAU table mismatch: {len(rows)} rows, {len(set(rows))} keys, "
            f"{len(expected)} expected, {len(expected - set(rows))} missing",
            file=sys.stderr,
        )

    # -- freshness: the first event of each key, steady phase only --
    due = {r[0]: r[1] for r in records}
    first_idx: dict[tuple, int] = {}
    for i, e in enumerate(events):
        first_idx.setdefault(event_key(e), i)
    firsts = [
        (k, due[i]) for k, i in first_idx.items() if n_steady_from <= i < n_paced and i in due
    ]
    key_cache: dict[str, set] = {}

    def keys_of(version: int) -> set:
        out: set = set()
        for f in pipe.table.files(version):
            if f not in key_cache:
                t = pq.read_table(f, columns=["dt", "mid"]).to_pydict()
                key_cache[f] = set(zip(t["dt"], t["mid"]))
            out |= key_cache[f]
        return out

    versions = [(seen_at[v], keys_of(v)) for v in sorted(seen_at)]
    fresh, never = attribute_freshness(firsts, versions)
    fresh_ms = [x * 1000 for x in fresh]

    # -- burst drain: from the burst's due time to the end of the trigger
    # that read the last posted event --
    data = [p for p in progress if p["numInputRows"]]
    processed, t_drained, backlog = 0, None, []
    posted_done = sorted(r[3] for r in records)
    for p in progress:
        processed += p["numInputRows"]
        end = _progress_end(p)
        if p["numInputRows"]:
            posted = 1 + sum(1 for t in posted_done if t <= end)
            backlog.append(max(0, posted - processed))
        if t_drained is None and processed >= total_in:
            t_drained = end
    burst_rate = BURST / (t_drained - gen_out["t_burst"])

    def dur(phase: str) -> float:
        return p50_or_zero([p["durationMs"].get(phase, 0) for p in data])

    _trace_progress(tracer, data)
    for i, _due, sent, fin, _status in records:
        tracer.add("POST /applog", "http_ingest", sent, fin, tracer.root_id, f"ev{i}")

    post_ms = [(r[3] - r[2]) * 1000 for r in records]
    late_ms = [(r[2] - r[1]) * 1000 for r in records if r[0] < n_paced]
    post_failed = sum(1 for r in records if r[4] != 200)
    state = data[-1]["stateOperators"] if data else []
    fresh_p50 = percentile(fresh_ms, 50)
    fresh_p95 = percentile(fresh_ms, 95)
    return {
        "setup_s": setup_times,
        "e2e": {"latency_ms": fresh_p50, "throughput_per_s": burst_rate},
        "layer": {
            "freshness_p50_s": fresh_p50 / 1000,
            "freshness_p95_s": fresh_p95 / 1000,
            "burst_drain_events_per_s": burst_rate,
            "live_read_p50_ms": p50_or_zero(reads),
            "http_ingest.post_p50_ms": percentile(post_ms, 50),
            "http_ingest.post_p95_ms": percentile(post_ms, 95),
            "http_ingest.post_failed": post_failed,
            "http_ingest.spool_files": len(os.listdir(os.path.join(pipe.spool, "start"))),
            "streaming.latest_offset_p50_ms": dur("latestOffset"),
            "streaming.get_batch_p50_ms": dur("getBatch"),
            "streaming.add_batch_p50_ms": dur("addBatch"),
            "streaming.wal_commit_p50_ms": dur("walCommit"),
            "streaming.trigger_p50_ms": dur("triggerExecution"),
            "streaming.triggers": len(data),
            "streaming.rows_per_trigger_p50": p50_or_zero([p["numInputRows"] for p in data]),
            "streaming.backlog_events_max": max(backlog, default=0),
            "streaming.state_rows": state[0]["numRowsTotal"] if state else 0,
            "manifest.versions": len(history),
            "manifest.live_files": history[-1]["n_files"],
            "manifest.live_bytes": history[-1]["bytes"],
            "manifest.files_added_per_commit_p50": p50_or_zero([h["added_files"] for h in history]),
            "manifest.files_removed_per_commit_p50": p50_or_zero([h["removed_files"] for h in history]),
            "manifest.read_p50_ms": p50_or_zero(read_table),
            "gen.late_p99_ms": percentile(late_ms, 99),
            "gen.events_sent": len(records),
        },
        "attempted": len(records) + len(reads) + read_failed + 1,
        "failed": post_failed + read_failed + len(never) + (0 if correct else 1),
        "correct": correct and not never,
    }
