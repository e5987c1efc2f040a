"""CSV / JSON-lines / ORC ingest paths: round-trip fidelity against the
parquet tables, malformed-record quarantine, and strict-mode failure."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gmallrealtime02_spark.sources import load_table
from gmallrealtime02_spark.sources.formats import (
    CORRUPT_COL,
    MICRO_TS_FORMAT,
    quarantine_split,
    read_csv,
    read_jsonl,
    read_orc,
    to_parquet,
)


def _events_slice(spark, sf_dir):
    # event_id / ts (NTZ) / user_id / event_type / value covers ints,
    # timestamps, strings, doubles; props (map-ish json) excluded from the
    # CSV leg (CSV has no nested types — that's a property of the format)
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def _assert_same_rows(a, b):
    assert a.schema == b.schema, (a.schema, b.schema)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    assert diff == 0, diff


def test_csv_round_trip(spark, sf_dir, tmp_path):
    src = _events_slice(spark, sf_dir)
    p = os.path.join(tmp_path, "events_csv")
    # µs format on the WRITE side too — the writer default is
    # millisecond-lossy (formats.MICRO_TS_FORMAT docstring)
    src.write.option("header", "true").option(
        "timestampNTZFormat", MICRO_TS_FORMAT
    ).mode("overwrite").csv(p)
    back = read_csv(
        spark, p, src.schema, mode="FAILFAST", timestamp_format=MICRO_TS_FORMAT
    )
    _assert_same_rows(src, back)


def test_jsonl_round_trip(spark, sf_dir, tmp_path):
    src = _events_slice(spark, sf_dir)
    p = os.path.join(tmp_path, "events_jsonl")
    src.write.option("timestampNTZFormat", MICRO_TS_FORMAT).mode(
        "overwrite"
    ).json(p)
    back = read_jsonl(
        spark, p, src.schema, mode="FAILFAST", timestamp_format=MICRO_TS_FORMAT
    )
    _assert_same_rows(src, back)


def test_orc_round_trip(spark, sf_dir, tmp_path):
    src = _events_slice(spark, sf_dir)
    p = os.path.join(tmp_path, "events_orc")
    src.write.mode("overwrite").orc(p)
    back = read_orc(spark, p)
    _assert_same_rows(src, back)


def test_jsonl_permissive_quarantine(spark, sf_dir, tmp_path):
    src = _events_slice(spark, sf_dir).limit(5)
    p = os.path.join(tmp_path, "mixed.jsonl")
    lines = [r for r in src.toJSON().collect()]
    lines.insert(2, "{not valid json at all")
    lines.append('{"event_id": "also-bad-type"')
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    df = read_jsonl(spark, p, src.schema, mode="PERMISSIVE")
    clean, bad = quarantine_split(df)
    assert clean.count() == 5
    assert bad.count() == 2
    assert CORRUPT_COL not in clean.columns
    got_bad = {r[CORRUPT_COL] for r in bad.collect()}
    assert "{not valid json at all" in got_bad


def test_csv_failfast_aborts_on_malformed(spark, sf_dir, tmp_path):
    src = _events_slice(spark, sf_dir).limit(3)
    p = os.path.join(tmp_path, "bad_csv")
    os.makedirs(p)
    src.write.option("header", "true").mode("overwrite").csv(p)
    with open(os.path.join(p, "part-extra.csv"), "w") as f:
        f.write("event_id,ts,user_id,event_type,value\n")
        f.write("not-an-int,also-not-a-ts,9,click,1.5\n")
    with pytest.raises(Exception, match="Malformed|FAILFAST|BadRecord|FAILED_READ"):
        # .collect(), not .count(): CSV count() is answered by line
        # counting without parsing, so it never trips the parser
        read_csv(spark, p, src.schema, mode="FAILFAST").collect()


def test_ingest_lands_as_partitioned_parquet(spark, sf_dir, tmp_path):
    src = _events_slice(spark, sf_dir)
    jp = os.path.join(tmp_path, "raw_jsonl")
    src.write.mode("overwrite").json(jp)
    ingested = read_jsonl(spark, jp, src.schema, mode="FAILFAST").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    pp = os.path.join(tmp_path, "landed")
    to_parquet(ingested, pp, partition_by=("dt",))
    back = spark.read.parquet(pp)
    assert back.count() == src.count()
    # partition pruning: a dt filter must prune directories, visible as a
    # PartitionFilters entry in the scan
    plan = (
        back.filter(F.col("dt") == "2024-01-05")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan and "dt" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0], plan

