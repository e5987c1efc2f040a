"""Listing an explicit file list must not launch a Spark job.

Past ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths,
Spark lists files with a distributed job of one task per file.  On a
local master the session keeps that listing on the driver, so neither
a manifest read nor a spool trigger pays a job that grows with the
file count.  Counted in jobs, not timed."""

from __future__ import annotations

import json
import os

from gmallrealtime02_spark.streaming.http_ingest import START_ROUTE, log_stream
from gmallrealtime02_spark.streaming.manifest import ManifestTable

from .conftest import jobs_fired

SCHEMA = "mid string, start string, ts long"


def test_manifest_read_over_many_files_fires_no_job(spark, tmp_path):
    table = ManifestTable(str(tmp_path / "t"))
    table.append(spark.range(0, 40, 1, numPartitions=40))
    assert len(table.files()) == 40

    with jobs_fired(spark) as fired:
        df = table.read(spark)
    assert fired.n == 0
    assert df.count() == 40


def _spool_run_jobs(spark, root: str, n_files: int) -> int:
    """Jobs fired by one availableNow run over ``n_files`` spool files."""
    spool = os.path.join(root, f"spool{n_files}")
    os.makedirs(os.path.join(spool, START_ROUTE))
    for i in range(n_files):
        path = os.path.join(spool, START_ROUTE, f"{i:03d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write(json.dumps({"mid": f"m{i}", "start": "1", "ts": i}) + "\n")
    name = f"listing_jobs_{n_files}"
    with jobs_fired(spark) as fired:
        q = (
            log_stream(spark, spool, START_ROUTE, SCHEMA)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(root, f"ckpt{n_files}"))
            .trigger(availableNow=True)
            .start()
        )
        fired.track(q)
        q.awaitTermination(60)
    assert spark.table(name).count() == n_files
    return fired.n


def test_spool_trigger_jobs_do_not_grow_with_file_count(spark, tmp_path):
    few = _spool_run_jobs(spark, str(tmp_path), 3)
    many = _spool_run_jobs(spark, str(tmp_path), 40)
    assert few > 0
    assert many == few
