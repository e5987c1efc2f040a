"""``load_table`` reads its schema from the parquet footer.

Spark's schema inference launches a one-task job per read, even for one
local file; every plan build and dashboard request loads its tables
through ``load_table``, so that job was a fixed cost on each.  These
tests pin that the loads fire no job and that the footer-built schema
equals Spark's own inference, which stays the reference."""

from __future__ import annotations

import datetime as dt
import os
import re
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gmallrealtime02_spark
from gmallrealtime02_spark.schemas import TESTDATA_TABLES
from gmallrealtime02_spark.sources.tables import _footer_schema, load_table

from .conftest import jobs_fired

TS = [dt.datetime(2024, 1, 1, 1, 2, 3, 456789), None, dt.datetime(2024, 1, 2)]
TS_STRINGS = ["2024-01-01 01:02:03.456789", None, "2024-01-02 00:00:00"]


def _strings(df, col: str) -> list:
    """A timestamp column's values as Spark renders them (in the UTC
    session timezone), independent of the Python process's timezone."""
    return [r[0] for r in df.selectExpr(f"CAST({col} AS STRING)").collect()]


def _arrow_table() -> pa.Table:
    ints = [1, 2, None]
    cols = {
        "i8": pa.array(ints, pa.int8()),
        "i16": pa.array(ints, pa.int16()),
        "i32": pa.array(ints, pa.int32()),
        "i64": pa.array(ints, pa.int64()),
        "u8": pa.array([0, 255, None], pa.uint8()),
        "u16": pa.array([0, 65535, None], pa.uint16()),
        "u32": pa.array([0, 2**32 - 1, None], pa.uint32()),
        "u64": pa.array([0, 2**64 - 1, None], pa.uint64()),
        "f32": pa.array([1.5, None, -2.0], pa.float32()),
        "f64": pa.array([1.5, None, -2.0], pa.float64()),
        "dec": pa.array(
            [Decimal("1.25"), None, Decimal("-3.50")], pa.decimal128(10, 2)
        ),
        "s": pa.array(["a", None, "c"]),
        "ls": pa.array(["a", None, "c"], pa.large_string()),
        "dic": pa.array(["a", "b", "a"]).dictionary_encode(),
        "bin": pa.array([b"a", None, b"c"]),
        "b": pa.array([True, None, False]),
        "d32": pa.array([dt.date(2024, 1, 1), None, dt.date(2024, 1, 3)], pa.date32()),
        "dur": pa.array([1, None, 3], pa.duration("us")),
        "nul": pa.nulls(3),
        "lst": pa.array([[1, 2], None, [None]], pa.list_(pa.int32())),
        "lst_req": pa.array(
            [[1, 2], None, [3]],
            pa.list_(pa.field("element", pa.int32(), nullable=False)),
        ),
        "lst_ns": pa.array([[TS[0]], None, [TS[2]]], pa.list_(pa.timestamp("ns"))),
        "st": pa.array(
            [{"a": 1, "b": "x", "u": 7}, None, {"a": None, "b": "y", "u": 8}],
            pa.struct(
                [
                    pa.field("a", pa.int64()),
                    pa.field("b", pa.string(), nullable=False),
                    pa.field("u", pa.uint32()),
                ]
            ),
        ),
        "mp": pa.array(
            [[("k", 1)], None, [("j", None)]], pa.map_(pa.string(), pa.int64())
        ),
    }
    for unit in ("ms", "us", "ns"):
        cols[f"ts_{unit}"] = pa.array(TS, pa.timestamp(unit))
        cols[f"tstz_{unit}"] = pa.array(TS, pa.timestamp(unit, tz="UTC"))
    t = pa.table(cols)
    return t.append_column(
        pa.field("nonnull", pa.int64(), nullable=False), pa.array([1, 2, 3])
    )


def _assert_parity(spark, sf_dir: str, name: str) -> None:
    path = os.path.join(sf_dir, f"{name}.parquet")
    assert load_table(spark, sf_dir, name).schema == spark.read.parquet(path).schema


def test_load_table_fires_no_job(spark, sf_dir):
    with jobs_fired(spark) as fired:
        for name in TESTDATA_TABLES:
            load_table(spark, sf_dir, name)
    assert fired.n == 0


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_testdata_schema_parity(spark, sf_dir, name):
    _assert_parity(spark, sf_dir, name)


def test_pyarrow_types_schema_parity(spark, tmp_path):
    """Every column type pyarrow writes that Spark can read.  Nanos
    columns (top-level and nested) read as epoch-nanos longs; load_table
    then converts the top-level ones, so the parity is on the scan."""
    t = _arrow_table()
    pq.write_table(t, tmp_path / "t.parquet")
    path = str(tmp_path / "t.parquet")
    schema, kinds = _footer_schema(path)
    assert schema == spark.read.parquet(path).schema
    assert kinds == {
        "ts_ms": "ntz",
        "ts_us": "ntz",
        "ts_ns": "nanos",
        "tstz_ms": "ltz",
        "tstz_us": "ltz",
        "tstz_ns": "nanos",
    }
    got = load_table(spark, str(tmp_path), "t")
    ref = spark.read.parquet(path)
    nanos = [c for c, k in kinds.items() if k == "nanos"]
    plain = [c for c in t.column_names if c not in nanos]
    assert got.select(*plain).collect() == ref.select(*plain).collect()
    for c in nanos:
        assert _strings(got, c) == TS_STRINGS, c


def test_spark_written_schema_parity(spark, tmp_path):
    df = spark.sql(
        """SELECT id, CAST(id AS INT) AS i, CAST(id AS DECIMAL(12, 3)) AS d,
                  CAST(id AS STRING) AS s, id % 2 = 0 AS b,
                  TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id) AS ts,
                  TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ntz,
                  DATE '2024-01-01' AS dt,
                  array(id, id + 1) AS arr,
                  named_struct('x', id, 'y', CAST(id AS STRING)) AS st,
                  map('k', id) AS m
           FROM range(3)"""
    )
    df.coalesce(1).write.parquet(str(tmp_path / "w"))
    (part,) = [p for p in (tmp_path / "w").iterdir() if p.suffix == ".parquet"]
    part.rename(tmp_path / "spark.parquet")
    _assert_parity(spark, str(tmp_path), "spark")
    assert (
        load_table(spark, str(tmp_path), "spark").collect()
        == spark.read.parquet(str(tmp_path / "spark.parquet")).collect()
    )


def test_int96_timestamps_load(spark, tmp_path):
    """Arrow reports INT96 as timestamp[ns], but it is not
    TIMESTAMP(NANOS): Spark reads it as a TIMESTAMP, and load_table must
    not route it through the nanos-to-micros conversion."""
    pq.write_table(
        pa.table({"x": [1, 2, 3], "ts": pa.array(TS, pa.timestamp("ns"))}),
        tmp_path / "i96.parquet",
        use_deprecated_int96_timestamps=True,
    )
    path = str(tmp_path / "i96.parquet")
    got = load_table(
        spark, str(tmp_path), "i96", ts_bounds={"ts": ("2024-01-01", None)}
    )
    ref = spark.read.parquet(path).filter("ts >= CAST('2024-01-01' AS TIMESTAMP)")
    assert got.schema == ref.schema
    assert got.schema["ts"].dataType.typeName() == "timestamp"
    assert got.orderBy("x").collect() == ref.orderBy("x").collect()
    assert got.count() == 2


def test_file_replaced_in_place_rereads_footer(spark, tmp_path):
    """The footer is read per call: a file replaced at the same path with
    a µs ``ts`` where it had a ns one must not get the nanos conversion
    its predecessor needed."""
    path = tmp_path / "ev.parquet"
    pq.write_table(pa.table({"ts": pa.array(TS, pa.timestamp("ns"))}), path)
    first = load_table(spark, str(tmp_path), "ev")
    assert _strings(first, "ts") == TS_STRINGS
    pq.write_table(pa.table({"ts": pa.array(TS, pa.timestamp("us"))}), path)
    second = load_table(spark, str(tmp_path), "ev")
    assert second.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert _strings(second, "ts") == TS_STRINGS


def test_unreadable_type_raises(tmp_path):
    """No fallback to inference: a column Spark's parquet reader rejects
    raises from the footer mapping itself."""
    pq.write_table(
        pa.table({"t": pa.array([1, 2], pa.time64("us"))}),
        tmp_path / "t.parquet",
    )
    with pytest.raises(TypeError, match="time64"):
        _footer_schema(str(tmp_path / "t.parquet"))


def test_library_reads_parquet_only_with_a_schema():
    """Every parquet read in the library passes an explicit schema, so no
    read pays Spark's inference job.  The one exception is
    ManifestTable's fallback for manifests written before the table
    schema was recorded."""
    pkg = Path(gmallrealtime02_spark.__file__).parent
    inferring = sorted(
        (str(p.relative_to(pkg)), m.group(0))
        for p in pkg.rglob("*.py")
        for m in re.finditer(
            r"\bread(?:Stream)?\s*\.\s*(?:parquet\(|format\(\s*[\"']parquet)[^\n]*",
            p.read_text(),
        )
    )
    assert inferring == [
        ("streaming/manifest.py", "read.parquet(*paths)")
    ], inferring
