"""Publisher-parity serving layer: the reference's REST JSON contracts.

The reference serves DAU answers through two Spring endpoints backed by
Elasticsearch (gmall-publisher ChartController.java:23-61 →
DauServicelmpl.java:27-74) and mirrors them in the dw-chart app
(IndexController.java:58-110).  Here the same contracts are thin
driver-side renderers over the registered DAU queries — the heavy work
(parse → dt/hr derive → first-seen dedup → agg) is the distributed
plan in operators/dau.py; what reaches the driver is one row per day
or 24 rows per day, so the ``collect()`` is the serving layer's job,
not an operator smell.

Scale note: both endpoints bound the events scan to the requested
day(s) via ``ts_bounds``, which pushes a raw-long parquet filter below
the nanos→µs conversion (sources/tables.py) — on a date-sorted 100 TB
fact that is row-group pruning, i.e. the endpoint reads ~1 day of
data, not the table.
"""

from __future__ import annotations

import json
from collections import Counter
from datetime import date as _date
from datetime import timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators import dau as dau_ops
from .sources import load_table

# The reference hardcodes the second tile (ChartController.java:36-40:
# `newMap.put("value", 2)`), ids and zh-CN display names included.
_NEW_MID_VALUE = 2


def _day_bounds(date: str) -> tuple[str, str]:
    return (f"{date} 00:00:00", f"{date} 23:59:59.999999")


def _dau_for_dates(spark: SparkSession, sf_dir: str, dates: list[str]):
    lo = min(dates)
    hi = max(dates)
    events = load_table(
        spark,
        sf_dir,
        "events",
        ts_bounds={"ts": (_day_bounds(lo)[0], _day_bounds(hi)[1])},
    )
    # both serving consumers (realtime_total / realtime_hour) count by
    # dt/hr only, so they ride the hash-aggregable count-only dedup core
    # (operators/dau.py dau_first_ts) instead of the payload struct-min
    return dau_ops.dau_first_ts(events)


# Offset fetches pull page·size rows to the driver, so beyond this many
# rows the serving layer switches to the keyset path automatically
# (driver pull becomes O(size) no matter how deep the page).
DEEP_PAGE_ROWS = 2000


def paged_detail(
    spark: SparkSession,
    sf_dir: str,
    page: int = 1,
    size: int = 20,
    keyword: str | None = None,
    draw: int = 1,
    after: tuple | None = None,
) -> str:
    """GET /getData — the dw-chart DataTables contract
    (IndexController.java:79-111 wraps the ES page as
    ``{'draw':…,'data':…}``; the commented fallback at :112-186 shows the
    intended inner shape ``total``+``rows``).  Here: customer-enriched
    order rows, keyword-filtered with ES-match semantics (the reference
    forwards ``keyword`` to an ES match query, which ANALYZES the input
    and ORs the terms — so a multi-token keyword here ORs per-token
    substring matches on the customer name), deterministically ordered
    (o_orderdate DESC, order key ASC) and paged.

    Scale — three fetch strategies by depth, same contract and rows:

    - shallow (page·size <= ``DEEP_PAGE_ROWS``): ``orderBy().limit(
      page*size)`` — a distributed ``TakeOrderedAndProject`` (each task
      keeps its local top-(page·size), the driver merges) — sliced
      driver-side.  The earlier revision ranked with a GLOBAL
      no-partition window, which sends every matching row to one task
      for a full sort; plan-gated in tests/test_plan_shapes.py.
    - deep without a cursor: KEYSET SEEK.  The boundary key at rank
      (page-1)·size is computed executor-side (narrow 2-column top-N,
      then reverse-top-1 — the driver receives ONE row), then the page
      is ``WHERE (order_date, order_id) after boundary ORDER BY …
      LIMIT size``.  Driver pull is O(size) at any depth; the deep cost
      that remains (one task holding (page-1)·size sort KEYS) is the
      inherent price of random deep-page access.
    - with ``after=(order_date, order_id)`` (the previous page's last
      key, returned as ``last_key`` in every response): pure keyset —
      O(size) work AND O(size) driver pull, the walk-forward path a
      dashboard actually uses.  ``page`` is then only echoed back.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name"), F.col("c_mktsegment")
    )
    d = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("final_total_amount"),
        F.col("o_orderdate").alias("order_date"),
    )
    if keyword:
        # ES match-query semantics: analyze (whitespace-tokenize) the
        # keyword, OR the per-term matches
        terms = [t for t in keyword.split() if t]
        cond = F.lit(False)
        for t in terms:
            cond = cond | F.col("user_name").contains(t)
        d = d.filter(cond)
    total = d.count()
    hi = page * size
    skip = (page - 1) * size
    if after is not None:
        page_rows = keyset_page_plan(d, after, size).collect()
    elif hi <= DEEP_PAGE_ROWS or skip == 0:
        page_rows = paged_detail_plan(d, hi).collect()[skip:hi]
    else:
        boundary = keyset_boundary_plan(d, skip).collect()
        if not boundary:
            page_rows = []  # page starts beyond the data
        else:
            b = boundary[0]
            page_rows = keyset_page_plan(
                d, (b["order_date"], b["order_id"]), size
            ).collect()
    rows = [
        {
            "order_id": r["order_id"],
            "user_id": r["user_id"],
            "user_name": r["user_name"],
            "segment": r["segment"],
            "order_status": r["order_status"],
            "final_total_amount": r["final_total_amount"],
            "order_date": str(r["order_date"]),
        }
        for r in page_rows
    ]
    last_key = (
        [rows[-1]["order_date"], rows[-1]["order_id"]] if rows else None
    )
    return json.dumps(
        {"draw": draw, "total": total, "rows": rows, "last_key": last_key}
    )


def paged_detail_plan(d, hi: int):
    """The distributed page fetch: a top-(page·size) limit under the
    serving sort — plans as TakeOrderedAndProject (split out so the plan
    gate can assert no global-window sort sneaks back in)."""
    return d.orderBy(F.col("order_date").desc(), F.col("order_id").asc()).limit(hi)


def keyset_boundary_plan(d, skip: int):
    """The boundary key at rank ``skip`` under the serving sort, found
    WITHOUT pulling ``skip`` rows to the driver: a narrow top-``skip``
    over just the two sort-key columns (executor-side
    TakeOrderedAndProject), then the reverse-order top-1 of that —
    exactly one row crosses to the driver."""
    keys = (
        d.select("order_date", "order_id")
        .orderBy(F.col("order_date").desc(), F.col("order_id").asc())
        .limit(skip)
    )
    return keys.orderBy(
        F.col("order_date").asc(), F.col("order_id").desc()
    ).limit(1)


def keyset_page_plan(d, after: tuple, size: int):
    """One page strictly after ``after=(order_date, order_id)`` in the
    serving sort (date DESC, id ASC): the keyset predicate prunes
    everything at-or-before the cursor BEFORE the sort, so the fetch is
    top-``size`` of the remainder — O(size) driver pull at any depth,
    and on a date-sorted layout the date bound is row-group pruning."""
    bd, bi = after
    # cursors round-trip through JSON as strings; compare in the
    # column's own type (a string comparand would coerce the COLUMN)
    bd_lit = F.lit(bd).cast(d.schema["order_date"].dataType)
    return (
        d.filter(
            (F.col("order_date") < bd_lit)
            | (
                (F.col("order_date") == bd_lit)
                & (F.col("order_id") > F.lit(bi))
            )
        )
        .orderBy(F.col("order_date").desc(), F.col("order_id").asc())
        .limit(size)
    )


def stat_groups(spark: SparkSession, sf_dir: str) -> str:
    """GET /getSexData — the dw-chart demographic stat-group shape
    (IndexController.java:189-195: ``{'stat':[{'group':[{name,value}…]},
    …]}``).  The reference HARDCODES the values; here they are computed —
    group 1 is the tier bucket distribution, group 2 the segment-class
    distribution, both from the P9 CASE buckets (DimUserInfoApp.scala:
    55-82 analogue in operators/buckets.py).  One scan and one grouped
    count over (tier, segment_class); the driver sums its few rows into
    the two distributions."""
    from .operators.buckets import user_dim

    tiers: Counter = Counter()
    segs: Counter = Counter()
    for r in (
        user_dim(load_table(spark, sf_dir, "customer"))
        .groupBy("tier", "segment_class")
        .count()
        .collect()
    ):
        tiers[r["tier"]] += r["count"]
        segs[r["segment_class"]] += r["count"]
    return json.dumps(
        {
            "stat": [
                {
                    "group": [
                        {"name": k, "value": tiers[k]} for k in sorted(tiers)
                    ]
                },
                {
                    "group": [
                        {"name": k, "value": segs[k]} for k in sorted(segs)
                    ]
                },
            ]
        }
    )


def map_order_data(spark: SparkSession, sf_dir: str) -> str:
    """GET /getChinaOrderData — the dw-chart geo-map rollup
    (IndexController.java:198-202).  The reference ships this endpoint as
    an EMPTY stub (returns ``""``) feeding an echarts China-map panel; the
    intended payload is the standard echarts map series —
    ``[{"name": <geo>, "value": <amount>}, …]``.  Here it is computed:
    order revenue per customer nation (the schema's geo dimension).
    Plan shape: nation (25 rows) is broadcast-hinted; orders⋈customer is
    left to the optimizer — customer is a LARGE dim (auto-broadcast from
    stats at test scale, sort-merge at 100 TB), and the grouped agg
    reduces to 25 rows before the driver sees anything."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rows = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        # exact decimal accumulation (the dsum discipline): a raw double
        # sum is task-completion-order dependent and not run-reproducible
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("value")
        )
        .collect()
    )
    return json.dumps(
        sorted(
            ({"name": r["n_name"], "value": r["value"]} for r in rows),
            key=lambda d: d["name"],
        )
    )


def realtime_total(spark: SparkSession, sf_dir: str, date: str) -> str:
    """GET /realtime-total?date=… — JSON list of stat tiles
    (ChartController.java:23-46): the day's DAU plus the reference's
    hardcoded new-device tile, ids/names/values bit-identical."""
    dau = _dau_for_dates(spark, sf_dir, [date])
    # Column predicate, not an interpolated SQL string: the date is
    # caller-supplied (HTTP-facing) — a quote in it must compare as a
    # value, never rewrite the filter
    rows = dau_ops.dau_total(dau).filter(F.col("dt") == date).collect()
    total = rows[0]["total"] if rows else 0
    return json.dumps(
        [
            {"id": "dau", "name": "新增日活", "value": total},
            {"id": "new_mid", "name": "新增设备", "value": _NEW_MID_VALUE},
        ],
        ensure_ascii=False,
    )


def realtime_hour(spark: SparkSession, sf_dir: str, date: str) -> str:
    """GET /realtime-hour?id=dau&date=… — {"today": {hr: ct}, "yesterday":
    {hr: ct}} (ChartController.java:48-61).  The reference runs two ES
    terms-aggs and stitches; here it is ONE scan of the two bounded days
    (operators/dau.py dau_today_yesterday) split driver-side.  Hours with
    no actives are absent, matching the ES terms-agg behavior."""
    yesterday = (_date.fromisoformat(date) - timedelta(days=1)).isoformat()
    dau = _dau_for_dates(spark, sf_dir, [yesterday, date])
    rows = dau_ops.dau_today_yesterday(dau, date).collect()
    out: dict[str, dict[str, int]] = {"today": {}, "yesterday": {}}
    for r in rows:
        if r["dt"] == date:
            out["today"][r["hr"]] = r["ct"]
        elif r["dt"] == yesterday:
            out["yesterday"][r["hr"]] = r["ct"]
    return json.dumps(out)
