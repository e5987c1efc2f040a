from __future__ import annotations

import contextlib
import os
import uuid

import duckdb
import pandas as pd
import pytest

from gmallrealtime02_spark.schemas import TESTDATA_TABLES
from gmallrealtime02_spark.session import get_spark

# Correctness tier: sf0.01 (the driver's t2 gate); override for quick runs.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gmall_tests", shuffle_partitions=8)
    yield s


class FiredJobs:
    """Job groups whose jobs :func:`jobs_fired` counts; ``n`` is set when
    the block exits."""

    def __init__(self) -> None:
        self.groups = [uuid.uuid4().hex]
        self.n: int | None = None

    def track(self, query) -> None:
        """Count a streaming query's jobs too: its triggers run in a job
        group of their own, named after the query's ``runId``."""
        self.groups.append(str(query.runId))


@contextlib.contextmanager
def jobs_fired(spark):
    """Count the Spark jobs fired inside the block.

    The block runs in a fresh job group, restored on exit; the count is
    ``statusTracker().getJobIdsForGroup`` over that group and any
    tracked streaming query, after the listener bus has drained so no
    job start is still in flight."""
    sc = spark.sparkContext
    fired = FiredJobs()
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(fired.groups[0], "jobs_fired")
    try:
        yield fired
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    fired.n = sum(len(tracker.getJobIdsForGroup(g)) for g in fired.groups)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mimic the driver's order-insensitive compare: sort columns by name,
    then sort rows by every column's string render."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        key = df.astype(str).apply(lambda r: "\x1f".join(r.values), axis=1)
        df = df.iloc[key.sort_values(kind="mergesort").index].reset_index(drop=True)
    return df


def assert_matches_oracle(spark_df, duck_con, sql: str, float_rtol: float = 1e-9):
    got = _normalize(spark_df.toPandas())
    want = _normalize(duck_con.execute(sql).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=False, rtol=float_rtol, atol=1e-12
    )
    # The driver's hash is over the canonicalized STRING RENDER of both
    # frames, so a value-equal result with a different render (DuckDB
    # sum() -> HUGEINT -> pandas float64 "255000.0" vs Spark bigint
    # "255000") is a red driver row.  The rtol compare above cannot see
    # that class (it shipped two such bugs in round 5) — assert the
    # renders themselves are identical.
    pd.testing.assert_frame_equal(
        got.astype(str), want.astype(str), check_dtype=False, obj="string-render"
    )
