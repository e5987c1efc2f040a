"""End-to-end HTTP log-ingest (S5): POST /applog → routed atomic spool →
Structured Streaming file source — the full path the reference covers
with Spring Boot → Kafka → DStream (LoggerController.java:28-37)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from gmallrealtime02_spark.streaming.http_ingest import LogCollector, log_stream

SCHEMA = "mid string, start string, page string, ts long"


def _post(url: str, payload) -> str:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        return resp.read().decode()


def test_http_ingest_end_to_end(spark, tmp_path):
    spool = str(tmp_path / "spool")
    col = LogCollector(spool).start()
    host, port = col.address
    url = f"http://{host}:{port}/applog"
    try:
        starts = [{"mid": f"m{i}", "start": "1", "ts": i} for i in range(3)]
        events = [{"mid": f"m{i}", "page": "home", "ts": i} for i in range(2)]
        for p in starts + events:
            assert _post(url, p) == "success"  # reply parity

        # invalid JSON → 400, and nothing spooled for it
        req = urllib.request.Request(
            url, data=b"not json", method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(req, timeout=10)
        assert err.value.code == 400

        # wrong path → 404
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(
                urllib.request.Request(
                    f"http://{host}:{port}/nope", data=b"{}", method="POST"
                ),
                timeout=10,
            )
        assert err.value.code == 404
    finally:
        col.stop()

    for route, want_mids in (("start", {"m0", "m1", "m2"}), ("event", {"m0", "m1"})):
        q = (
            log_stream(spark, spool, route, SCHEMA)
            .writeStream.format("memory")
            .queryName(f"ingest_{route}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = spark.sql(f"SELECT * FROM ingest_{route}").collect()
        assert {r.mid for r in rows} == want_mids
        assert all(r.ingest_route == route for r in rows)
        if route == "start":
            assert all(r.start == "1" for r in rows)
        else:
            assert all(r.start is None and r.page == "home" for r in rows)


def test_http_ingest_acks_only_published_payloads(tmp_path):
    """Every ``success`` reply arrives after its payload is in a
    published spool file — nothing acked waits in memory, so a crash
    after the reply loses nothing and an idle collector holds no tail."""
    import os

    spool = str(tmp_path / "spool2")
    col = LogCollector(spool).start()
    host, port = col.address
    url = f"http://{host}:{port}/applog"
    route_dir = os.path.join(spool, "event")
    try:
        for i in range(6):
            assert _post(url, {"mid": f"b{i}", "page": "x", "ts": i}) == "success"
            published = set()
            for name in os.listdir(route_dir):
                with open(os.path.join(route_dir, name), encoding="utf-8") as f:
                    published |= {json.loads(line)["mid"] for line in f}
            assert published == {f"b{j}" for j in range(i + 1)}
        assert os.listdir(os.path.join(spool, ".tmp")) == []
    finally:
        col.stop()


def test_http_to_dau_full_chain(spark, tmp_path):
    """The reference's §3.1 architecture end-to-end in one test:
    app →HTTP /applog→ start-route spool (the GMALL_START twin) →
    streaming first-seen dedup → idempotent keyed DAU upsert (the ES
    bulk twin) — LoggerController.java:28-37 + DauApp.scala:59-75
    without a broker."""
    from pyspark.sql import functions as F

    from gmallrealtime02_spark.streaming import jobs as SJ

    spool = str(tmp_path / "chain_spool")
    out = str(tmp_path / "chain_out")
    ckpt = str(tmp_path / "chain_ckpt")
    col = LogCollector(spool).start()
    host, port = col.address
    url = f"http://{host}:{port}/applog"
    day = 1704100000  # 2024-01-01 UTC
    try:
        posts = [
            {"mid": "mid_a", "start": "1", "ts": day + 3600},
            {"mid": "mid_a", "start": "1", "ts": day + 7200},  # same-day dup
            {"mid": "mid_b", "start": "1", "ts": day + 60},
            {"mid": "mid_a", "start": "1", "ts": day + 90000},  # next day
            {"mid": "mid_c", "page": "home", "ts": day},  # event, not start
        ]
        for p in posts:
            assert _post(url, p) == "success"
    finally:
        col.stop()

    starts = log_stream(
        spark, spool, "start", "mid string, start string, ts long"
    ).select(
        F.col("mid").alias("user_id"),
        F.timestamp_seconds("ts").alias("ts"),
        F.lit("start").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    q = SJ.start_dau_job(starts, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from gmallrealtime02_spark.streaming.manifest import ManifestTable

    got = {(r.dt, r.mid) for r in ManifestTable(out).read(spark).collect()}
    assert got == {
        ("2024-01-01", "mid_a"),
        ("2024-01-01", "mid_b"),
        ("2024-01-02", "mid_a"),
    }
