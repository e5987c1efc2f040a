"""The streaming append sink's driver-side writer
(``ManifestTable._append_collected``): one collect per micro-batch, one
pyarrow file per layout key, committed through the same publish/stats/
commit tail as the Spark writer — and the footer stats that tail reads
off pyarrow-written files."""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gmallrealtime02_spark.streaming import jobs as SJ
from gmallrealtime02_spark.streaming.manifest import (
    ManifestTable,
    make_manifest_append_sink,
)

from .conftest import jobs_fired
from .test_streaming import _one_file_per_trigger, _rows, _write_batch

TYPED_SCHEMA = (
    "i int, l long, s string, d date, ts timestamp, tn timestamp_ntz, "
    "x double, p decimal(10,2)"
)
TYPED_COLS = ["i", "l", "s", "d", "ts", "tn", "x", "p"]


def _typed_rows():
    day = datetime.date
    at = datetime.datetime
    return [
        (3, 30, "b", day(2024, 1, 2), at(2024, 1, 1, 5, 6, 7, 123000),
         at(2024, 1, 1, 5, 6, 7), 1.5, decimal.Decimal("1.20")),
        (-1, 10, "a", day(2024, 1, 3), at(2024, 1, 3), at(2024, 1, 3, 1),
         -2.5, decimal.Decimal("5.00")),
        (7, None, None, day(2023, 12, 31), at(2024, 1, 2, 23, 59, 59),
         None, None, None),
    ]


def _staging_dirs(root: str) -> list[str]:
    return [n for n in os.listdir(root) if n.startswith("_staging-")]


@pytest.mark.parametrize("ptype", ["decimal(5,1)", "decimal(10,2)"])
def test_small_precision_decimal_stats_column_is_omitted(spark, tmp_path, ptype):
    """Spark stores a decimal of precision ≤ 18 as INT32/INT64, whose
    footer statistics pyarrow cannot decode: the stat is omitted (the
    manifest cannot encode decimals anyway) and pruning keeps the file."""
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["id", "price"])
    df = spark.createDataFrame(
        [(1, decimal.Decimal("1.5")), (2, decimal.Decimal("4.0"))],
        f"id long, price {ptype}",
    ).coalesce(1)
    m = t.append(df)
    assert m is not None and len(m["files"]) == 1
    assert m["stats"][m["files"][0]] == {"id": [1, 2]}
    assert t.pruned_files("price", 100, 200) == m["files"]
    assert t.read(spark).count() == 2


def test_arrow_written_stats_match_the_executor_build(spark, tmp_path):
    """Parity of the two stat paths over one set of rows: the footer
    stats of the driver-written file equal what ``_build_file_meta``
    records for the same rows (decimal omitted on both sides; a
    UTC-adjusted timestamp's footer value is stored naive, like the
    executor build), every probe prunes alike, and reads agree."""
    df = spark.createDataFrame(_typed_rows(), TYPED_SCHEMA)
    arrow = ManifestTable(str(tmp_path / "arrow"), stats_cols=TYPED_COLS)
    arrow._append_collected(df, txn=("p", 0))
    # a bloom column routes the Spark-written commit through the
    # executor-side meta job
    spark_t = ManifestTable(
        str(tmp_path / "spark"), stats_cols=TYPED_COLS, bloom_cols=["l"]
    )
    spark_t.append(df.coalesce(1))

    (fa,) = arrow.manifest()["files"]
    (fs,) = spark_t.manifest()["files"]
    got = arrow.manifest()["stats"][fa]
    want = spark_t.manifest()["stats"][fs]
    assert got == want, (got, want)
    assert "p" not in got
    assert got["ts"] == ["2024-01-01T05:06:07.123000", "2024-01-03T00:00:00"]
    assert got["tn"] == ["2024-01-01T05:06:07", "2024-01-03T01:00:00"]
    # and the executor build over the driver-written file itself
    rows = {fa: pq.read_metadata(os.path.join(arrow.data_dir, fa)).num_rows}
    _, built = arrow._build_file_meta(spark, [fa], rows, df.schema)
    assert built[fa] == got

    probes = {
        "i": [(-5, -2), (0, 2), (8, 9)],
        "l": [(0, 5), (20, 20), (31, 40)],
        "s": [("0", "0z"), ("a", "a"), ("c", "d")],
        "d": [("2023-01-01", "2023-06-01"), ("2024-01-01", "2024-01-01"),
              ("2024-02-01", None)],
        "ts": [("2023-12-31 00:00:00", "2024-01-01 05:06:07"),
               ("2024-01-03 00:00:01", None), (None, "2024-01-01 05:06:07")],
        "tn": [("2024-01-03 01:00:01", None), ("2024-01-02", "2024-01-02"),
               (None, "2024-01-01 05:06:06")],
        "x": [(-9.0, -3.0), (0.0, 1.0), (1.6, 2.0)],
        "p": [(100, 200)],
    }
    for col, bounds in probes.items():
        for lo, hi in bounds:
            keep_a = arrow.pruned_files(col, lo, hi) == [fa]
            keep_s = spark_t.pruned_files(col, lo, hi) == [fs]
            assert keep_a == keep_s, (col, lo, hi, keep_a, keep_s)

    def rows_of(t):
        return sorted(repr(tuple(r)) for r in t.read(spark).collect())

    assert rows_of(arrow) == rows_of(spark_t)
    assert arrow.read(spark).schema == df.schema


def test_dau_data_trigger_fires_one_job(spark, tmp_path):
    """A DAU data trigger runs its stateful plan once — the sink's
    collect — and writes no Spark job of its own; no staging directory
    is left behind."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_batch(spark, src, _rows((1, 1, 9, 1), (2, 2, 9, 2)))
    q = SJ.start_dau_job(_one_file_per_trigger(spark, src), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # no row past the max event time seen so far: the next run is one
    # data trigger and no no-data trigger
    _write_batch(spark, src, _rows((3, 1, 8, 3), (4, 2, 1, 4)))
    with jobs_fired(spark) as fired:
        q = SJ.start_dau_job(_one_file_per_trigger(spark, src), out, ckpt)
        fired.track(q)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert fired.n == 1, fired.n
    # the stateful plan's two stages (scan, dedup state) and no
    # shuffle or write stage after them
    tracker = spark.sparkContext.statusTracker()
    stages = [
        s
        for g in fired.groups
        for j in tracker.getJobIdsForGroup(g)
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert len(stages) == 2, stages
    t = ManifestTable(out)
    assert t.read(spark).count() == 4
    assert _staging_dirs(out) == []


def test_null_layout_key_rows_get_a_file_of_their_own(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["k"])
    sink = make_manifest_append_sink(t, app_id="a", layout_by=["k"])
    df = spark.createDataFrame(
        [("b", 1), (None, 2), ("a", 3), (None, 4), ("b", 5)], "k string, v int"
    )
    sink(df, 0)
    by_key = {}
    for f in t.files():
        keys = pq.read_table(f, columns=["k"])["k"].unique().to_pylist()
        assert len(keys) == 1, keys
        vals = sorted(pq.read_table(f, columns=["v"])["v"].to_pylist())
        by_key[keys[0]] = vals
    assert by_key == {"a": [3], "b": [1, 5], None: [2, 4]}
    assert sorted(r.v for r in t.read(spark).collect()) == [1, 2, 3, 4, 5]
    # the null file records no stat and so is never pruned
    null_file = [
        f for f in t.manifest()["files"] if "k" not in t.manifest()["stats"].get(f, {})
    ]
    assert len(null_file) == 1
    assert null_file[0] in t.pruned_files("k", "c", "d")


def test_ods_split_commits_at_most_one_file_per_topic_per_batch(spark, tmp_path):
    import json

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def envelope(table, typ, *ids):
        return (json.dumps({"database": "gmall", "table": table, "type": typ,
                            "data": [{"id": str(i)} for i in ids]}),)

    _write_batch(spark, src, [envelope("order_info", "insert", 1, 2),
                              envelope("user_info", "update", 9),
                              envelope("order_detail", "insert", 5)], "value string")
    _write_batch(spark, src, [envelope("order_info", "insert", 3),
                              envelope("base_province", "insert", 7, 8)], "value string")
    raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = SJ.start_ods_split_job(raw, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = ManifestTable(out)
    live: set[str] = set()
    data_commits = 0
    for h in t.history():
        added = set(t.files(h["version"])) - live
        live |= added
        topics = [pq.read_table(f, columns=["topic"])["topic"].unique().to_pylist()
                  for f in added]
        assert all(len(tp) == 1 for tp in topics), topics
        assert len({tp[0] for tp in topics}) == len(topics), topics
        data_commits += bool(added)
    assert data_commits == 2
    counts = {r.topic: r.n for r in t.read(spark).groupBy("topic")
              .agg(F.count("*").alias("n")).collect()}
    assert counts == {"ODS_MM_ORDER_INFO": 3, "ODS_MM_USER_INFO": 1,
                      "ODS_MM_ORDER_DETAIL": 1, "ODS_MM_BASE_PROVINCE": 2}
    assert _staging_dirs(out) == []


def test_empty_micro_batch_commits_an_empty_version(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"), stats_cols=["k"])
    sink = make_manifest_append_sink(t, app_id="a", layout_by=["k"])
    empty = spark.createDataFrame([], "k string, v int")
    sink(empty, 0)
    assert t.current_version() == 1
    assert t.files() == []
    got = t.read(spark)
    assert got.count() == 0
    assert got.columns == ["k", "v"]
    assert _staging_dirs(t.root) == []
    # a replay of the committed batch declines: no new version
    sink(empty, 0)
    assert t.current_version() == 1
    # and the next batch lands on top of the empty version
    sink(spark.createDataFrame([("a", 1)], "k string, v int"), 1)
    assert t.current_version() == 2
    assert [tuple(r) for r in t.read(spark).collect()] == [("a", 1)]
