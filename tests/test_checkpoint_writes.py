"""Streaming checkpoints on a local master are written through Hadoop's
FileSystem API, and keep every integrity check.

The session picks ``FileSystemBasedCheckpointFileManager`` for local
masters (see ``session.py``), so a trigger's offset, commit, source-log
and state files do not fork helper processes.  These tests pin the
manager and check that a DAU job's checkpoint, written across a restart,
still carries Hadoop's ``.crc`` sidecars and Spark's checkpoint file
checksums, with no temp file left behind."""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

from gmallrealtime02_spark.schemas import STARTUP_LOG
from gmallrealtime02_spark.streaming.http_ingest import START_ROUTE, log_stream
from gmallrealtime02_spark.streaming.jobs import start_dau_job
from gmallrealtime02_spark.streaming.manifest import ManifestTable

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
DAY_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def test_local_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == FS_MANAGER


def _spool(spool: str, batch: int, mids: list[str]) -> None:
    """One spool batch: a start log per mid, one file each, published by
    rename as the collector does, so a running query never lists a
    half-written file."""
    for i, mid in enumerate(mids):
        name = f"b{batch}_{i}.json"
        tmp = os.path.join(spool, name)
        with open(tmp, "w", encoding="utf-8") as f:
            row = {"common": {"mid": mid}, "start": "1", "ts": DAY_MS + batch * 3_600_000 + i}
            f.write(json.dumps(row) + "\n")
        os.rename(tmp, os.path.join(spool, START_ROUTE, name))


def _run_dau(spark, spool: str, out: str, ckpt: str, batches) -> None:
    """Start the DAU job from ``ckpt``; spool each batch and drain it."""
    events = log_stream(spark, spool, START_ROUTE, STARTUP_LOG).select(
        F.col("common.mid").alias("user_id"),
        F.timestamp_millis("ts").alias("ts"),
        F.lit("start").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    q = start_dau_job(events, out, ckpt)
    try:
        for batch, mids in batches:
            _spool(spool, batch, mids)
            q.processAllAvailable()
    finally:
        q.stop()


def test_dau_checkpoint_keeps_checksums_across_restart(spark, tmp_path):
    spool, out, ckpt = (str(tmp_path / d) for d in ("spool", "out", "ckpt"))
    os.makedirs(os.path.join(spool, START_ROUTE))
    _run_dau(spark, spool, out, ckpt, [(0, ["a", "b"]), (1, ["a", "c"])])
    _run_dau(spark, spool, out, ckpt, [(2, ["b", "d"])])  # restart

    rows = sorted((r.dt, r.mid, r.hr) for r in ManifestTable(out).read(spark).collect())
    assert rows == [
        ("2024-01-01", "a", "00"),
        ("2024-01-01", "b", "00"),
        ("2024-01-01", "c", "01"),
        ("2024-01-01", "d", "02"),
    ]
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"

    for log in ("offsets", "commits"):
        names = os.listdir(os.path.join(ckpt, log))
        batches = [n for n in names if n.isdigit()]
        assert len(batches) >= 3, (log, names)
        assert all(f".{n}.crc" in names for n in batches), (log, names)

    state = os.path.join(ckpt, "state", "0")
    parts = [p for p in os.listdir(state) if p.isdigit()]
    assert parts
    for p in parts:
        names = os.listdir(os.path.join(state, p))
        deltas = [n for n in names if re.fullmatch(r"\d+\.delta", n)]
        assert deltas, (p, names)
        assert all(f"{n}.crc" in names for n in deltas), (p, names)

    left = [
        os.path.join(d, n)
        for d, _, files in os.walk(ckpt)
        for n in files
        if n.endswith(".tmp")
    ]
    assert left == []
