"""Batch source builders over the driver's parquet testdata.

The reference's sources are Kafka topics with manual Redis offset
bookkeeping (util/MyKafkaUtil.scala:17-55, util/OffsetManager.scala:14-46).
In this engine the batch path reads parquet directly (columnar scan with
predicate pushdown + column pruning); the streaming path
(gmallrealtime02_spark.streaming) uses Structured Streaming sources with
checkpointing, which replaces the offset bookkeeping wholesale.

Every read passes an explicit schema built from the file's parquet
footer.  A parquet read without one makes Spark infer the schema with a
one-task Spark job per call, even for a single local file (80-120 ms on
a 4-core host, against ~0.2 ms for the footer read); every query
plan and dashboard request builds its scans through :func:`load_table`,
so that job was a fixed cost on each of them.  The footer is read fresh
on every call, never cached by path: a file replaced in place must not
be read under its predecessor's schema.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Spark's parquet reader widens unsigned ints to the next signed type
# that holds every value; Arrow keeps them unsigned, which Spark lacks.
_UNSIGNED = {
    8: T.ShortType(),
    16: T.IntegerType(),
    32: T.LongType(),
    64: T.DecimalType(20, 0),
}


def _leaf_type(at: pa.DataType, col) -> T.DataType:
    """Spark's read type for one parquet leaf column.

    Arrow's type decides, except where Spark's parquet reader disagrees
    with it; there the parquet physical/logical type decides:

    - INT96 (legacy Impala/Spark timestamps; Arrow says ``timestamp[ns]``)
      → TIMESTAMP;
    - INT64 TIMESTAMP(NANOS) → BIGINT epoch-nanos, as Spark reads it
      under ``spark.sql.legacy.parquet.nanosAsLong``;
    - unsigned INT(n) → the widened signed type (``_UNSIGNED``);
    - Arrow durations and all-null columns carry no annotation Spark
      knows, so the physical INT32/INT64 decides.

    Times raise (Spark's parquet reader rejects them), and so does
    anything else ``from_arrow_type`` cannot place: there is no fallback
    to inference."""
    if col.physical_type == "INT96":
        return T.TimestampType()
    lt = json.loads(col.logical_type.to_json())
    if lt["Type"] == "Timestamp" and lt["timeUnit"] == "nanoseconds":
        return T.LongType()
    if lt["Type"] == "Int" and not lt["isSigned"]:
        return _UNSIGNED[lt["bitWidth"]]
    if pa.types.is_duration(at) or pa.types.is_null(at):
        return T.LongType() if col.physical_type == "INT64" else T.IntegerType()
    if pa.types.is_time(at):
        raise TypeError(f"parquet column {col.path}: Spark cannot read {at}")
    return from_arrow_type(at, prefer_timestamp_ntz=True)


def _spark_type(at: pa.DataType, leaves) -> T.DataType:
    """Spark type of an Arrow field, consuming its parquet leaf columns
    from ``leaves`` in order (Arrow's depth-first field order is the
    parquet column order).  Everything is nullable: Spark reads a file
    source's schema ``asNullable``, nested levels included."""
    if pa.types.is_struct(at):
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type, leaves)) for f in at]
        )
    if pa.types.is_map(at):
        return T.MapType(
            _spark_type(at.key_type, leaves), _spark_type(at.item_type, leaves)
        )
    if (
        pa.types.is_list(at)
        or pa.types.is_large_list(at)
        or pa.types.is_fixed_size_list(at)
    ):
        return T.ArrayType(_spark_type(at.value_type, leaves))
    return _leaf_type(at, next(leaves))


def _footer_schema(path: str) -> tuple[T.StructType, dict[str, str]]:
    """One footer read: the Spark read schema, and the kind of each
    top-level timestamp column:

    - ``"nanos"`` — TIMESTAMP(NANOS).  Spark's parquet reader has no nanos
      type; with ``spark.sql.legacy.parquet.nanosAsLong`` they surface as
      epoch-nanos longs, which we convert back to microsecond timestamps
      (the same truncation DuckDB applies).
    - ``"ntz"`` — µs/ms timestamps with ``isAdjustedToUTC=false``, which
      Spark 4 reads as TIMESTAMP_NTZ.  Literals compared against these
      MUST be cast to ``timestamp_ntz``: an LTZ literal gets coerced
      through the *session timezone*, silently shifting the bound on a
      non-UTC host.
    - ``"ltz"`` — tz-adjusted timestamps and INT96 (ordinary TIMESTAMP).
    """
    with pq.ParquetFile(path) as pf:
        arrow_schema, parquet_schema = pf.schema_arrow, pf.schema
    leaves = (parquet_schema.column(i) for i in range(len(parquet_schema)))
    fields, kinds = [], {}
    for f in arrow_schema:
        dt = _spark_type(f.type, leaves)
        fields.append(T.StructField(f.name, dt))
        if isinstance(dt, T.TimestampNTZType):
            kinds[f.name] = "ntz"
        elif isinstance(dt, T.TimestampType):
            kinds[f.name] = "ltz"
        elif pa.types.is_timestamp(f.type):
            kinds[f.name] = "nanos"  # read as a bigint, see _leaf_type
    return T.StructType(fields), kinds


def _iso_to_nanos(iso: str) -> int:
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(iso)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)  # testdata timestamps are UTC-naive
    return int(dt.timestamp()) * 1_000_000_000 + dt.microsecond * 1_000


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_bounds: dict[str, tuple[str | None, str | None]] | None = None,
) -> DataFrame:
    """Scan one testdata table. Plain parquet read so Catalyst keeps
    pushdown/pruning; never cache here — callers decide lifetime.

    The read schema comes from the file's parquet footer
    (:func:`_footer_schema`), so building the scan fires no Spark job;
    it equals what Spark's own inference would give.  INT96 columns read
    as TIMESTAMP; TIMESTAMP(NANOS) columns read as epoch-nanos longs and
    leave here as microsecond timestamps (below).

    ``ts_bounds`` maps a timestamp column to an inclusive ``(lo_iso,
    hi_iso)`` range applied BEFORE the nanos→µs conversion Project.  For
    TIMESTAMP(NANOS) columns (which Spark surfaces as epoch-nanos longs)
    a filter written after the conversion sits above a Project on a
    computed expression, so it can never become a parquet pushed filter —
    no row-group statistics skipping, which at 100 TB means scanning
    every file of a date-sorted fact table.  The raw-long comparison
    pushes (`PushedFilters: [LessThanOrEqual(ts, ...)]`), pinned by
    tests/test_plan_shapes.py.  Semantics match a filter on the
    µs-truncated value exactly: lo is whole-µs so `trunc(raw) >= lo ⇔
    raw >= lo`; hi uses `raw <= hi + 999 ns ⇔ trunc(raw) <= hi`.
    Native-unit timestamp columns take the ordinary pushable filter.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, kinds = _footer_schema(path)
    nanos_cols = [c for c, k in kinds.items() if k == "nanos"]
    if nanos_cols:
        # Self-sufficient on ANY SparkSession: the driver's harness builds
        # its own vanilla session, which otherwise dies with
        # PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS) columns.  Both confs are
        # runtime-settable.  UTC pins dt/hr derivations to the oracle's
        # timezone on a non-UTC host.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.schema(schema).parquet(path)
    for c, (lo, hi) in (ts_bounds or {}).items():
        kind = kinds.get(c)
        if kind == "nanos":
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(_iso_to_nanos(lo)))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(_iso_to_nanos(hi) + 999))
        else:
            # NTZ literals parse the ISO string tz-independently; an LTZ
            # cast would route the comparison through the session timezone.
            lit_type = "timestamp_ntz" if kind == "ntz" else "timestamp"
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo).cast(lit_type))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi).cast(lit_type))
    for c in nanos_cols:
        # integer `div`, not `/1000` — the float path loses sub-µs bits on
        # epoch-nanos magnitudes and can flip a microsecond vs the oracle
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def ensure_parallelism(df: DataFrame, by: tuple[str, ...] | None = None) -> DataFrame:
    """Spread a narrow scan across all cores before heavy per-row work.

    The testdata parquet files are single-row-group, so a scan arrives as
    ONE split and everything before the first exchange runs on one task.
    Conditional: only repartitions when the scan has fewer partitions than
    ``defaultParallelism`` — at 100 TB scans have thousands of splits and
    this is a no-op.  When ``by`` is given, hash-partitions on those
    columns so a downstream aggregation/join keyed on them (or their
    aliases — Spark's alias-aware output partitioning) needs no second
    exchange."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if by:
        return df.repartition(*[F.col(c) for c in by])
    return df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
