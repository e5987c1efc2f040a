"""SparkSession factory.

Defaults are tuned for the test harness (local[N], single JVM) but every
knob is chosen to also be the right default on a real cluster at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- ``spark.sql.shuffle.partitions`` sized from the env (local: ~cores;
  cluster: leave high and let AQE coalesce).
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are stable across deployments.
- Arrow enabled so the Pandas-UDF slow path is batch-vectorized.
- Local masters only: ``spark.sql.sources.parallelPartitionDiscovery.
  threshold`` is raised to ``2147483647``, so listing an explicit file
  list stays on the driver.  Past the default 32 paths Spark lists with a
  distributed job of one task per file; in local mode those tasks run on
  the driver JVM's own threads, so the job adds a task launch per file
  and no parallelism.  The streaming file source hands every trigger's
  new spool files to such a listing (``getBatch``), and every
  ``ManifestTable`` read passes its live files the same way.  Cluster
  masters keep Spark's default: there the listing job spreads over
  executors and does add parallelism.  Its sibling, the schema-inference
  job of a parquet read, is avoided at the reads themselves: they pass
  an explicit schema (``sources.tables.load_table`` builds it from the
  parquet footer).
- Local masters only: streaming checkpoints are written through
  ``FileSystemBasedCheckpointFileManager`` instead of Spark's default
  FileContext-based manager.  Every trigger writes the file source's
  metadata log, the offset log, each state partition's delta and the
  commit log.  Without the native Hadoop library, the local file system
  forks ``chmod`` for each file and directory the FileContext path
  creates, and the FileContext rename forks ``readlink``.  So each small
  checkpoint file cost several process launches on the trigger path.
  Atomicity is unchanged on ``file:``: both managers write a temp file
  and publish it by check-then-rename (FileContext's ``rename(..., NONE)``
  stats the target, then renames, as the FileSystem path does).
  Hadoop's ``.crc`` sidecars and Spark's checkpoint file checksums
  (``spark.sql.streaming.checkpoint.fileChecksum.enabled``) stay on.
  Cluster masters keep Spark's default: their checkpoints live on HDFS
  or an object store, where FileContext's no-overwrite rename is one
  atomic call and nothing forks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gmallrealtime02_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` (default 32) controls local parallelism; on a real
    cluster ``master`` comes from spark-submit and this arg stays None.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # NOT set: spark.sql.parquet.aggregatePushdown — it only engages
        # through the DSv2 parquet source (useV1SourceList exclusion),
        # which would re-shape every FileScan the plan gates pin, for a
        # win limited to bare MIN/MAX/COUNT scans; measured a no-op here.
        # Driver testdata is written with TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as long and normalize at load
        # (sources.tables.load_table) to microsecond timestamps, matching
        # DuckDB's truncation of the same files.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The compiled-class cache defaults to 100 entries; the minhash/
        # simhash/PQ operators each generate dozens of large codegen
        # stages, so a multi-query session (the driver's 50-query
        # correctness pass, pytest, bench sweeps) thrashes it and pays
        # full janino recompiles per query — measured 2-4x wall-clock on
        # repeat runs of signature-heavy queries.  Static conf: must be
        # set before the first session.  Classes are tens of KB; 2000
        # entries is ~100 MB worst-case against a 16g driver.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647"
        ).config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
