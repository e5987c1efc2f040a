"""Structured Streaming jobs — the reference's 10 DStream apps as
declarative streaming queries (SURVEY.md §3).

Mapping:
- DauApp (§3.1)          → ``streaming_dau``: watermarked dropDuplicates
  replaces the Redis SADD state (DauApp.scala:59-75); checkpointing
  replaces the Redis offset hash (OffsetManager.scala:14-46) outright.
  ``start_dau_job`` commits each micro-batch as one dt-clustered append:
  the stream already emits each (dt, mid) once, so the sink needs no
  keyed merge — exactly-once comes from the checkpointed state plus the
  sink's txn ledger, as Structured Streaming composes a replayable
  source, checkpointed state and an idempotent sink.  The per-trigger
  small files are ``ManifestTable.maintain()``'s to compact.
- OdsGmallCanal (§3.2)   → ``streaming_ods_split``: one query with a
  per-record topic column instead of N per-table jobs.
- Dim* apps (§3.2)       → ``streaming_dim_upsert``: foreachBatch keyed
  upsert (touched-files-only MERGE) into a snapshot-isolated
  ManifestTable (replaces Phoenix/HBase), the one job whose rows really
  do update; all warehouse sinks here commit through the manifest
  layer — atomic per-batch visibility, exactly-once replay via per-app
  txn watermarks (streaming/manifest.py).
- DwdOrder*/DwsOrderWide (§3.3) → ``streaming_order_wide``: watermarked
  stream-stream inner join — strictly more correct than the reference's
  overlapping 10s/5s windows + Redis dedup (J4+J5): no duplicate-from-
  overlap, no loss at window edges, bounded state.

Memory contract of the append sinks (``start_dau_job``,
``start_ods_split_job``): ``make_manifest_append_sink`` collects each
micro-batch's OUTPUT to the driver and writes its files there (one
collect instead of a Spark write job per trigger).  The spool-fed DAU
job emits at most one row per new input file, and the file source
already holds those file paths on the driver.  ``start_ods_split_job``'s
caller bounds its Kafka batch with ``maxOffsetsPerTrigger``; without it
the first batch is the topic's whole backlog.

Scale notes: dedup/join state lives in the state store (RocksDB on a
real cluster — spark.sql.streaming.stateStore.providerClass).  The
reference's day-scoped no-TTL Redis state maps to
``dropDuplicatesWithinWatermark`` with a 48 h delay: exact first-seen
for day-scoped keys AND the watermark actually evicts state (plain
``dropDuplicates`` on keys excluding event time would never evict).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cdc import ods_split
from ..operators.dau import with_dt_hr
from .manifest import (
    ManifestTable,
    make_manifest_append_sink,
    make_manifest_upsert_sink,
)

DEFAULT_WATERMARK = "48 hours"


def streaming_first_seen_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """First-seen-wins dedup over an unbounded stream (A4/A5 streaming
    form): state-store backed ``dropDuplicatesWithinWatermark``.

    Plain ``dropDuplicates(keys)`` with ``ts_col`` NOT in the keys keeps
    state forever — the watermark never evicts it, so state grows
    unboundedly across days.  The within-watermark variant evicts a
    key's state once the watermark passes it, and drops every duplicate
    whose event time falls within ``watermark`` of the first occurrence
    — true by construction for day-scoped keys like (dt, mid), whose
    duplicates all fall inside one 24 h day, with the default 48 h
    delay.  For keys without such a time scope the horizon is the
    retransmission window (``streaming_dedup_within_watermark``
    documents that contract).

    First-seen means first-ARRIVED: the kept row's payload (ts, hr,
    value) is whichever duplicate the stream delivered first, which on
    out-of-order delivery can differ from the batch pipeline's
    min-(ts, event_id) winner (the EXISTENCE of the key row — the
    reference's Redis-SADD contract, and everything DAU counts — is
    identical either way; only non-key payload columns can differ).
    ``stateful_day_scoped_dedup`` narrows the gap: it keeps the
    min-(ts, event_id) row among duplicates arriving up to the key's
    first emit (in-batch reordering handled; a later batch's
    earlier-ts duplicate is still swallowed — the standard streaming
    tradeoff, with the batch pipeline as the exact retrospective
    form)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_dau(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """events stream → deduped daily-active rows (one per dt × mid)."""
    e = with_dt_hr(events, "ts")
    return streaming_first_seen_dedup(e, ["dt", "user_id"], "ts", watermark).select(
        F.col("user_id").alias("mid"), "dt", "hr", "ts", "event_type", "value"
    )


def start_dau_job(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger: str | None = None,
) -> StreamingQuery:
    """The full DAU pipeline as a streaming query: dedup → idempotent
    append into the serving table (ES bulk K4 → parquet append).

    The serving table is a snapshot-isolated ``ManifestTable`` with
    dt-stats: each micro-batch is one atomic ``append`` commit of one
    file per dt in the batch (``layout_by=["dt"]`` keeps each file's dt
    range tight), with no read or rewrite of the live files.  No keyed
    merge is needed because the append is already exactly-once:

    - the stream emits each (dt, mid) at most once — every duplicate of
      a day-scoped key falls within 24 h of its first occurrence, inside
      the 48 h watermark that keeps the key's state, and later ones are
      dropped as late;
    - a checkpoint replay of a committed ``batch_id`` is declined by the
      per-app txn watermark (``app_id="dau"``).

    The sink collects the batch's rows to the driver and writes its
    per-dt files there with pyarrow, so the trigger's one Spark job is
    the stateful plan itself.  Memory: the driver holds one batch's
    output, at most one row per new spool file (whose paths the file
    source already holds on the driver).

    Every trigger adds small files (and a no-data trigger that only
    advances the watermark publishes an empty version):
    ``ManifestTable.maintain()`` is the table's housekeeping — compact
    past its file budget, then vacuum.  Read the output with
    ``ManifestTable(out_path).read(spark)``.

    ``trigger="5 seconds"`` reproduces the reference's micro-batch
    cadence (DauApp.scala:25, W2); None = process-as-available (tests)."""
    dau = streaming_dau(events)
    w = dau.writeStream.outputMode("append").option(
        "checkpointLocation", checkpoint
    )
    if trigger is not None:
        w = w.trigger(processingTime=trigger)
    table = ManifestTable(out_path, stats_cols=["dt"])
    return w.foreachBatch(
        make_manifest_append_sink(table, app_id="dau", layout_by=["dt"])
    ).start()


def streaming_ods_split(raw: DataFrame) -> DataFrame:
    """CDC envelope stream → routed ODS rows (value-JSON per row)."""
    split = ods_split(
        raw,
        [
            ("order_info", ["insert"]),
            ("order_detail", ["insert"]),
            ("base_province", ["insert", "update", "bootstrap-insert"]),
            ("user_info", ["insert", "update", "bootstrap-insert"]),
        ],
    )
    return split.select(
        "topic", "table", F.to_json(F.col("row")).alias("value")
    )


def start_ods_split_job(
    raw: DataFrame, out_path: str, checkpoint: str, trigger: str | None = None
) -> StreamingQuery:
    """Splitter sink: a topic-stat-clustered ManifestTable stands in for
    the Kafka sink's per-record topic routing (K2) in this environment —
    each batch's files are clustered by topic so a per-topic consumer
    prunes to its own files via the manifest stats (the manifest-level
    analogue of the raw layout's ``partitionBy("topic")``), and each
    micro-batch is one atomic, replay-idempotent commit."""
    routed = streaming_ods_split(raw)
    w = routed.writeStream.outputMode("append").option(
        "checkpointLocation", checkpoint
    )
    if trigger is not None:
        w = w.trigger(processingTime=trigger)
    table = ManifestTable(out_path, stats_cols=["topic"])
    return w.foreachBatch(
        make_manifest_append_sink(table, app_id="ods_split", layout_by=["topic"])
    ).start()


def streaming_dim_upsert(
    dim_rows: DataFrame, out_path: str, checkpoint: str, keys: list[str]
) -> StreamingQuery:
    """Dim loader (K5): keyed upsert per micro-batch, committed through
    a ManifestTable (atomic snapshot per batch, replay-idempotent).
    Fact jobs re-read the table per batch — the stream-static join
    resolves a fresh snapshot each micro-batch, matching the reference's
    per-batch broadcast refresh (DwdOrderInfoApp.scala:87-92)."""
    table = ManifestTable(out_path, stats_cols=[keys[0]])
    return (
        dim_rows.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(make_manifest_upsert_sink(table, keys, app_id="dim"))
        .start()
    )


def streaming_order_wide(
    order_info: DataFrame,
    order_detail: DataFrame,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Watermarked stream-stream inner equi-join (J4 without J5).

    Both sides carry event-time; the join tolerates ``watermark`` of
    cross-stream arrival skew — the declarative replacement for the
    reference's overlapping processing-time windows + Redis ZSET dedup.
    """
    oi = order_info.withWatermark("o_ts", watermark).alias("oi")
    od = order_detail.withWatermark("d_ts", watermark).alias("od")
    return od.join(
        oi,
        F.expr(
            "order_id = o_order_id AND "
            f"d_ts >= o_ts - INTERVAL {watermark} AND "
            f"d_ts <= o_ts + INTERVAL {watermark}"
        ),
        "inner",
    )


def streaming_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Event-time session windows (the streaming twin of the batch
    ``sessionize`` operator): gap-merged per-user sessions via
    ``session_window`` — state-store merged, watermark-bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("window_start"),
            F.col("session_window.end").alias("window_end"),
            "n_events",
            "session_start",
            "session_end",
        )
    )


_DEDUP_OUT_SCHEMA = (
    "mid long, dt string, hr string, ts timestamp, event_type string, value double"
)


def stateful_day_scoped_dedup(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """A4 with *explicit* custom state (``applyInPandasWithState``): the
    reference's ``SADD dau:<dt> mid`` contract — one boolean per
    (dt, mid), first-seen row emitted, later arrivals swallowed
    (DauApp.scala:59-75).

    ``dropDuplicates`` (``streaming_first_seen_dedup``) is the idiomatic
    form; this variant exists for custom stateful semantics the built-in
    can't express (per-key TTL policies, counters, side outputs) and as
    the template for ``applyInPandasWithState`` operators generally.
    State is Arrow-batched per group; at scale the state store shards by
    the group key across executors (RocksDB-backed on a cluster).
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    e = with_dt_hr(events, "ts").withWatermark("ts", watermark)

    def first_seen(key, pdfs, state):
        if state.exists:
            return  # key already emitted in an earlier batch
        first = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.sort_values(["ts", "event_id"]).iloc[0]
            if first is None or (cand["ts"], cand["event_id"]) < (
                first["ts"],
                first["event_id"],
            ):
                first = cand
        if first is None:
            return
        state.update((True,))
        dt, mid = key
        yield pd.DataFrame(
            [
                {
                    "mid": mid,
                    "dt": dt,
                    "hr": first["hr"],
                    "ts": first["ts"],
                    "event_type": first["event_type"],
                    "value": first["value"],
                }
            ]
        )

    return e.groupBy("dt", "user_id").applyInPandasWithState(
        first_seen,
        outputStructType=_DEDUP_OUT_SCHEMA,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_event_transitions(events: DataFrame) -> DataFrame:
    """Streaming twin of ``plans.analytics.event_transition_matrix``'s
    lag stage: per-user (prev_type → next_type) transition rows on the
    INGEST stream, with the user's LAST event carried in keyed state so
    transitions that straddle a micro-batch boundary are emitted exactly
    once (a per-batch window lag silently drops every boundary
    transition — the classic streaming-sessionization bug).

    State per user is one (ts, event_id, event_type) triple — O(users),
    constant per key, the smallest useful stateful shape; at scale the
    state store shards by user across executors.  Downstream the
    transition rows aggregate to the SAME matrix the batch op computes
    (equivalence pinned in tests/test_streaming.py on event-time-ordered
    batches, the suite's stateful-fixture convention)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    def transitions(key, pdfs, state):
        rows = [pdf for pdf in pdfs if len(pdf)]
        if not rows:
            return
        batch = pd.concat(rows, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        if state.exists:
            last_ns, last_eid, last_type = state.get
        else:
            last_type = None
        out = []
        for r in batch.itertuples(index=False):
            if last_type is not None:
                out.append(
                    {
                        "user_id": key[0],
                        "prev_type": last_type,
                        "next_type": r.event_type,
                        "event_id": r.event_id,
                    }
                )
            last_type = r.event_type
        tail = batch.iloc[-1]
        state.update(
            (int(pd.Timestamp(tail["ts"]).value), int(tail["event_id"]),
             str(tail["event_type"]))
        )
        if out:
            yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        transitions,
        outputStructType=(
            "user_id long, prev_type string, next_type string, event_id long"
        ),
        stateStructType="last_ns long, last_event_id long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hourly_counts(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """A2's streaming twin: event-time tumbling-hour active counts over
    the deduped stream — dedup state and window state compose in one
    query (dropDuplicates feeds the windowed agg); watermark bounds
    both."""
    deduped = streaming_first_seen_dedup(
        with_dt_hr(events, "ts"), ["dt", "user_id"], "ts", watermark
    )
    return (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("ct"))
        .select(
            F.col("w.start").alias("hour_start"),
            F.col("w.end").alias("hour_end"),
            "ct",
        )
    )


def streaming_enrich_orders(
    order_stream: DataFrame, dim_path: str, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Stream-static enrichment (J1/J2 streaming form) with the
    reference's per-batch dim refresh (DwdOrderInfoApp.scala:87-92).

    The dim is re-READ inside ``foreachBatch`` — a fresh DataFrame per
    micro-batch — rather than joined as a plan-level static side: a
    plan-level parquet static side caches its file listing at stream
    start, so dim upserts that rewrite files would crash (stale paths)
    or go stale.  A fresh read per batch resolves the dim
    ManifestTable's current snapshot (the table ``streaming_dim_upsert``
    writes) and still broadcasts (no driver-side collect, unlike the
    reference).  The test pins the semantic: a dim row upserted between
    batches enriches the next batch.

    Each batch's enriched rows commit as one ``ManifestTable.append``
    to ``out_path`` with ``txn=("enrich_orders", batch_id)``: a replayed
    batch is declined, so the output holds each order once."""
    dim_table = ManifestTable(dim_path)
    out_table = ManifestTable(out_path)

    def enrich_batch(batch_df: DataFrame, batch_id: int) -> None:
        dim = dim_table.read(batch_df.sparkSession)
        out = batch_df.join(
            F.broadcast(dim), batch_df["user_id"] == dim["id"], "left"
        ).select(
            batch_df["order_id"],
            batch_df["user_id"],
            batch_df["ts"],
            dim["name"].alias("user_name"),
            dim["tier"].alias("user_tier"),
        )
        out_table.append(out, txn=("enrich_orders", int(batch_id)))

    return (
        order_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(enrich_batch)
        .start()
    )


def streaming_order_wide_outer(
    order_info: DataFrame,
    order_detail: DataFrame,
    watermark: str = "30 seconds",
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: details keep flowing even
    when their order_info never arrives — the null-padded row emits once
    the watermark passes the join window (bounded wait, bounded state).
    The reference's window+Redis scheme (DwsOrderWideApp.scala:88-122)
    silently DROPS such orphans; the outer join surfaces them, which is
    what a reconciliation/DQ consumer needs."""
    oi = order_info.withWatermark("o_ts", watermark).alias("oi")
    od = order_detail.withWatermark("d_ts", watermark).alias("od")
    return od.join(
        oi,
        F.expr(
            "order_id = o_order_id AND "
            f"d_ts >= o_ts - INTERVAL {watermark} AND "
            f"d_ts <= o_ts + INTERVAL {watermark}"
        ),
        "left_outer",
    )


def streaming_dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Dedup with EVICTING state (``dropDuplicatesWithinWatermark``):
    duplicates arriving within the watermark delay collapse even when
    their event times differ; state for a key is dropped once the
    watermark passes it, so a duplicate arriving much later emits again.
    This is the right tool when "duplicate" means retransmission within a
    bounded horizon (at-least-once producers) — unbounded-horizon
    first-seen semantics are ``streaming_first_seen_dedup``.  At 100 TB
    the distinction is state size: this one's store holds only the
    watermark horizon, not the full key history."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_near_dup_suppress(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """In-stream near-duplicate suppression: the simhash signature is
    computed scan-side (functions/similarity.py — word-hash sign sums,
    no UDF) and used as the dedup key, so reworded-but-same-bag-of-words
    arrivals collapse in one stateful pass.  Suppression horizon is
    UNBOUNDED in time (plain ``dropDuplicates`` — the watermark only
    drops late rows, it does not evict dedup state), but state is still
    bounded: the key is the 24-bit signature, never the document body,
    so the store can hold at most 2^24 entries regardless of stream
    length.  For a time-bounded horizon swap in
    ``dropDuplicatesWithinWatermark`` (``streaming_dedup_within_watermark``)."""
    from ..functions.similarity import simhash_col

    sig = docs.withColumn("simhash", simhash_col(F.col(text_col)))
    return sig.withWatermark(ts_col, watermark).dropDuplicates(["simhash"])


_FUNNEL_OUT_SCHEMA = "user_id long, stage int, event_type string, ts timestamp"

_FUNNEL_ORDER = {"view": 1, "click": 2, "purchase": 3}


def stateful_funnel(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Streaming twin of the batch ``event_funnel`` query: a per-user
    stage machine (``applyInPandasWithState``) that emits one row per
    funnel advance — the first view anchors stage 1, the first click
    strictly after it stage 2, the first purchase strictly after that
    stage 3 (the same strict-ordering anchors the batch query computes
    with min-ts chaining; tests pin the per-stage user counts equal).

    State per user is (stage, anchor_ts) — two fields, not an event
    buffer, so state size is O(users), never O(events).  Within a batch
    the group's rows are processed in (ts, event_id) order; across
    batches the anchors carry forward.  Out-of-order delivery beyond a
    batch boundary (e.g. a view arriving after a later view already
    anchored stage 1) is bounded by the watermark, the standard
    streaming-funnel tradeoff — the batch query remains the exact
    retrospective form."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    e = events.filter(
        F.col("event_type").isin(list(_FUNNEL_ORDER))
    ).withWatermark("ts", watermark)

    def advance(key, pdfs, state):
        if state.exists:
            stage, anchor = state.get
        else:
            stage, anchor = 0, None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((stage, anchor))
            return
        rows = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        out = []
        for _, r in rows.iterrows():
            if stage >= 3:
                break
            if _FUNNEL_ORDER.get(r["event_type"]) != stage + 1:
                continue
            if anchor is not None and not (r["ts"] > anchor):
                continue
            stage += 1
            anchor = r["ts"]
            out.append(
                {
                    "user_id": key[0],
                    "stage": stage,
                    "event_type": r["event_type"],
                    "ts": r["ts"],
                }
            )
        state.update((stage, anchor))
        if out:
            yield pd.DataFrame(out)

    return e.groupBy("user_id").applyInPandasWithState(
        advance,
        outputStructType=_FUNNEL_OUT_SCHEMA,
        stateStructType="stage int, anchor timestamp",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hll(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``hll_distinct_daily`` sketch: per-day
    distinct-user estimates that update every micro-batch.

    The split of work is the mergeable-sketch pattern at its best: the
    (register, rho) pair is computed JVM-side inside codegen
    (``sketches.hll_reg_rho_cols`` — the identical expressions the batch
    query uses), so the Python state op never hashes a row; it only
    folds per-register maxima into the 64-int state vector and re-emits
    the estimate.  State per day is 64 ints — O(days), not O(users) —
    which is the whole reason HLL exists: the exact streaming dedup
    (``streaming_dau``) keeps one state row per (day, user).  Full
    replay reproduces the batch estimates bit-for-bit (pinned in
    tests/test_streaming.py) because max-merge is order- and
    batching-insensitive."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans import sketches as SK

    reg, rho = SK.hll_reg_rho_cols(F.col("user_id").cast("string"))
    e = with_dt_hr(events, "ts").select(
        "dt", reg.alias("reg"), rho.alias("rho")
    )

    def merge(key, pdfs, state):
        regs = list(state.get[0]) if state.exists else [0] * SK.HLL_M
        for pdf in pdfs:
            if not len(pdf):
                continue
            for r, m in pdf.groupby("reg")["rho"].max().items():
                if m > regs[r]:
                    regs[r] = int(m)
        state.update((regs,))
        hit, est = SK.hll_estimate_py(regs)
        yield pd.DataFrame(
            [{"dt": key[0], "hit_registers": hit, "hll_distinct": est}]
        )

    return e.groupBy("dt").applyInPandasWithState(
        merge,
        outputStructType="dt string, hit_registers int, hll_distinct double",
        stateStructType="regs array<int>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_cms(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Streaming twin of the batch ``cms_heavy_hitters`` sketch: per-shard
    count-min cells over the arriving corpus's tokens, updated every
    micro-batch.

    Work splits like ``streaming_hll``: the (row, pos) cell coordinates
    are computed JVM-side inside codegen with the BATCH sketch's own
    hash params (``portable_hash`` + ``CMS_PARAMS`` — so a cell here is
    a cell there), and the Python state op only folds integer increments
    into the d×w=1024-long state vector.  State per shard is 1024 longs —
    O(shards), not O(vocabulary) — and shard sketches MERGE CELL-WISE
    (addition commutes), so the reader's estimate over the union equals
    a batch sketch of the full corpus exactly, regardless of batching or
    arrival order (pinned in tests/test_streaming.py).  At 100 TB/day
    this is the frequency monitor that runs where exact word counts
    can't: the state never grows with the data."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions import text as TX
    from ..plans import sketches as SK

    n_cells = len(SK.CMS_PARAMS) * SK.CMS_W
    w = docs.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        F.explode(F.split("text", " ")).alias("word"),
    ).filter(F.col("word") != "")
    h = w.select("shard", TX.portable_hash(F.col("word")).alias("h"))
    rp = h.select(
        "shard",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        (((F.lit(a) * F.col("h") + b) % SK.P) % SK.CMS_W)
                        .cast("int")
                        .alias("pos"),
                    )
                    for i, (a, b) in enumerate(SK.CMS_PARAMS)
                ]
            )
        ).alias("rp"),
    ).select("shard", F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))

    def merge(key, pdfs, state):
        cells = list(state.get[0]) if state.exists else [0] * n_cells
        for pdf in pdfs:
            if not len(pdf):
                continue
            for (r, p), n in pdf.groupby(["row", "pos"]).size().items():
                cells[int(r) * SK.CMS_W + int(p)] += int(n)
        state.update((cells,))
        yield pd.DataFrame([{"shard": int(key[0]), "cells": cells}])

    return rp.groupBy("shard").applyInPandasWithState(
        merge,
        outputStructType="shard int, cells array<long>",
        stateStructType="cells array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_bloom_decontamination(
    docs: DataFrame, bloom_words: list[int], n: int = 4
) -> DataFrame:
    """Eval-set decontamination at INGEST — the third leg of the
    ingest-curation stool next to ``streaming_quality_filter`` (model as
    plan literal) and ``streaming_ingest_dedup`` (corpus probe): the
    eval set's 4-gram Bloom bitmap, built OFFLINE by
    ``plans.sketches.bloom_bitmap_words``, rides into the plan as one
    8 KB array literal and every arriving document's distinct shingle
    hashes probe it scan-side.  Emits per doc: distinct shingles, Bloom
    hits, and the contaminated flag (integer cross-multiplied ≥50%
    hit-ratio rule — no float threshold).

    Stateless narrow map, and the whole probe stays INSIDE the row: the
    hit count is a higher-order filter over the doc's own hash array
    (mask via a 64-long POW2 literal — ``shiftleft`` needs a literal
    shift, ``element_at`` doesn't), so there is no explode, no per-doc
    re-aggregation, no watermark, and — Bloom's whole point — no
    broadcast that grows with the eval set.  Batch-vs-stream
    bit-equivalence pinned in tests/test_streaming.py; Bloom never
    misses, so a contaminated=0 doc is CLEAN with certainty."""
    from ..functions import similarity as S
    from ..plans import sketches as SK

    pow2 = [1 << i for i in range(63)] + [-(1 << 63)]  # signed bit 63
    pow2_lit = F.lit(pow2).cast("array<long>")
    bitmap = F.lit(bloom_words).cast("array<long>")

    def hit(h):
        out = F.lit(True)
        for a, b in SK.BLOOM_PARAMS:
            pos = (((F.lit(a) * h + b) % SK.P) % SK.BLOOM_M).cast("int")
            word = F.element_at(bitmap, (F.shiftright(pos, 6) + 1).cast("int"))
            mask = F.element_at(pow2_lit, pos % 64 + 1)
            out = out & (word.bitwiseAND(mask) != F.lit(0).cast("long"))
        return out

    sh = S.shingle_hash_table(docs, ("doc_id",), n=n)
    t = sh.select("doc_id", F.array_distinct("hs").alias("hs"))
    return t.select(
        "doc_id",
        F.size("hs").alias("n_shingles"),
        F.size(F.filter("hs", hit)).alias("n_bloom_hits"),
    ).withColumn(
        "contaminated",
        (
            (F.col("n_shingles") > 0)
            & (F.col("n_bloom_hits") * 2 >= F.col("n_shingles"))
        ).cast("int"),
    )


def streaming_semantic_decontamination(
    vectors: DataFrame,
    eval_vecs: list[tuple[int, list[float]]],
    threshold_micro: int | None = None,
) -> DataFrame:
    """Embedding-based decontamination at INGEST — the semantic leg next
    to ``streaming_bloom_decontamination``'s n-gram probe: the (small,
    offline-collected) eval-set vectors ride into the plan as array
    literals and every arriving vector's nearest-eval cosine is computed
    SCAN-SIDE: one fold per eval vector, argmax folded through the batch
    op's single-integer encoding (``plans.llm_pipeline.
    semantic_decontamination`` — enc = (cosine_micro + 1e6)·16 +
    (15 − eval_id)) via ``greatest``, so stream and batch verdicts are
    bit-identical by construction (pinned in tests/test_streaming.py).

    Stateless narrow map: no explode, no aggregation, no watermark — the
    whole argmax lives inside the row, and the plan size is
    O(n_eval · dim) literals (the 'model as plan constant' layout; at
    eval sets beyond broadcast size the batch LSH-candidate form takes
    over).  Emits (vec_id, eval_id, cosine, contaminated) per arriving
    vector."""
    from ..functions.similarity import _dot
    from ..plans.llm_pipeline import SEM_DECON_MICRO

    if threshold_micro is None:
        threshold_micro = SEM_DECON_MICRO
    cn = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    encs = []
    for qid, qv in eval_vecs:
        qlit = F.lit(qv).cast("array<float>")
        # norms/cosine via the SAME expression trees as the batch op —
        # Catalyst constant-folds the eval-side norm, bit-identically
        qn = F.sqrt(_dot(qlit, qlit))
        cos = F.round(_dot(qlit, F.col("embedding")) / (qn * cn), 6)
        micro = (cos.cast("decimal(18,6)") * 1000000).cast("long")
        encs.append((micro + 1000000) * 16 + F.lit(15 - qid).cast("long"))
    t = vectors.select("vec_id", F.greatest(*encs).alias("enc"))
    dec_micro = F.expr("enc div 16") - 1000000
    return t.select(
        "vec_id",
        (15 - F.col("enc") % 16).alias("eval_id"),
        (dec_micro.cast("double") / 1000000).alias("cosine"),
        (dec_micro >= threshold_micro).cast("int").alias("contaminated"),
    )


def streaming_quality_filter(
    docs: DataFrame, weights, threshold: float = 0.0
) -> DataFrame:
    """Model-broadcast quality filtering on the document ingest stream —
    the other half of ingest-time curation next to
    ``streaming_ingest_dedup``: a classifier trained OFFLINE
    (``plans.curation_ops.quality_classifier_train``'s weights) scores
    every arriving document and below-threshold docs never enter the
    corpus.  Emits (doc_id, logit) for survivors.

    Stateless by construction: the features and the pinned-order logit
    are the BATCH scorer's own expression trees
    (``classifier_features``/``classifier_logit``), so streaming scores
    are bit-identical to ``quality_classifier_score`` on the same rows
    (pinned in tests/test_streaming.py), no watermark or state is
    needed, and at 100 TB/day the filter is an embarrassingly parallel
    narrow map — the 4 weights ride in the plan as literals, the
    'model as broadcast constant' inference layout."""
    from ..plans.curation_ops import classifier_features, classifier_logit

    f = classifier_features(docs)
    return f.select(
        "doc_id", F.round(classifier_logit(weights), 6).alias("logit")
    ).filter(F.col("logit") >= threshold)


def streaming_curation_gate(docs: DataFrame) -> DataFrame:
    """Rule-based curation on the INGEST stream — the Gopher-rules +
    language-ID stages of ``plans.llm_pipeline.curation_pipeline`` run
    at ingest time, so documents that would never survive curation are
    dropped before they ever land in the corpus (the dedup stage is the
    stateful half and lives in ``streaming_ingest_dedup``).

    The per-document flags come from the SAME Arrow text-profile kernel
    the batch pipeline uses (``functions.text.text_profile_table`` —
    mapInPandas is stateless, so it runs unchanged on a streaming frame),
    which makes stream and batch verdicts bit-identical by construction
    (pinned in tests/test_streaming.py).  Emits
    (doc_id, pred_lang, n_words, text_md5) for survivors — the md5 rides
    along so the downstream stateful dedup never recomputes it.

    Scale: embarrassingly parallel narrow map, no watermark or state; at
    ingest rates the cost is the kernel's ~200k docs/s/32-core scan.
    """
    from ..functions.text import text_profile_table

    prof = text_profile_table(
        docs,
        ("doc_id",),
        ("text_md5", "n_words", "gopher_ok", "pred_lang"),
    )
    return prof.filter(
        F.col("gopher_ok") & (F.col("pred_lang") == "en")
    ).select("doc_id", "pred_lang", "n_words", "text_md5")


def streaming_media_features(media_stream: DataFrame) -> DataFrame:
    """Media feature extraction on the INGEST stream — the multimodal
    twin of ``streaming_quality_filter``: every arriving binary payload
    passes through the BATCH extractor's own Arrow ``mapInPandas``
    kernel (``functions.multimodal.extract_features``) plus the
    scan-side perceptual aHash (``media_ahash_table``), so streaming
    features and signatures are bit-identical to a batch run over the
    same rows (pinned in tests/test_streaming.py).

    Stateless narrow map: no watermark, no state — at ingest scale the
    payload is decoded once, ON the scan, and only the small typed
    feature row (plus the 8-byte signature) continues to the sink;
    downstream near-dup checks join on the signature, never the bytes.
    Works unchanged on batch and streaming frames (both are per-row
    maps), which is exactly what the equivalence test exploits.
    """
    from ..functions.multimodal import ahash_of
    from ..functions.text import char_codepoints

    # signature scan-side FIRST (needs the payload column), features via
    # the Arrow kernel after — mapInPandas passes non-schema columns
    # through only if listed in its output schema, so the signature is
    # attached before the payload is dropped.
    t = media_stream.withColumn(
        "cps", char_codepoints(F.decode(F.col("content"), "utf-8"))
    )
    t = t.withColumn("n_cp", F.size("cps")).withColumn(
        "cp_total",
        F.aggregate(
            "cps", F.lit(0).cast("long"), lambda a, c: a + c.cast("long")
        ),
    )
    t = t.withColumn(
        "ahash", ahash_of(F.col("cps"), F.col("n_cp"), F.col("cp_total"))
    ).drop("cps", "n_cp", "cp_total")
    return extract_features_with_ahash(t)


def extract_features_with_ahash(media: DataFrame) -> DataFrame:
    """Arrow feature kernel that PASSES THROUGH a precomputed ahash
    column — one mapInPandas over (media columns + ahash), so batch and
    stream share a single narrow stage with no self-join."""
    import hashlib as _hl

    import pandas as _pd

    def op(batches):
        for pdf in batches:
            from ..functions.multimodal import _entropy

            content = pdf["content"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": content.map(len).astype("int64"),
                    "digest": content.map(
                        lambda b: _hl.md5(bytes(b)).hexdigest()
                    ),
                    "byte_entropy": content.map(lambda b: _entropy(bytes(b))),
                    "ahash": pdf["ahash"].astype("int64"),
                }
            )

    return media.mapInPandas(
        op,
        schema=(
            "doc_id long, n_bytes long, digest string, "
            "byte_entropy double, ahash long"
        ),
    )


def streaming_ingest_dedup(
    new_docs: DataFrame,
    corpus_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
) -> StreamingQuery:
    """Dedup-at-ingest: each micro-batch of incoming documents keeps only
    docs that are NOT minhash-LSH near-dups of (a) the existing corpus
    or (b) earlier docs within the same batch — the streaming form of
    the batch ``dedup_incremental`` operator, reusing the same
    asymmetric probe (``minhash_incremental_survivors``) inside
    ``foreachBatch``.

    Survivors, tagged with their micro-batch id (``ingest_batch``),
    commit as one ``ManifestTable.append`` to ``out_path`` and one to
    the corpus table, each with ``txn=("ingest_dedup", batch_id)``:
    foreachBatch is at-least-once, so a replayed batch is declined by
    whichever table already holds it instead of re-appending.  The
    corpus read excludes the current batch's own rows, so a replay
    after a crash between the two commits computes the same survivor
    set against prior batches only — idempotent under any crash point.
    Batch N+1 sees batch N's survivors as corpus — the
    continuously-growing-index semantics a production ingest pipeline
    runs.  At 100 TB the corpus
    side is the persisted band index (bucketed by (band, bkey)); the
    per-batch "re-read" is a metadata refresh and the probe join prunes
    to matching buckets, so per-batch cost follows the batch, not the
    corpus.

    In-batch self-dups resolve by CONNECTED COMPONENT: each component of
    the batch's near-dup graph keeps only its minimum doc_id — the same
    canonical rule as the batch ``dedup_canonical`` operator.  (The
    earlier revision dropped the higher id of every PAIR, which
    over-deletes on chains: with A~B and B~C but A≁C, C was dropped even
    though its only near-dup B was dropped too.)

    ``new_docs`` must be documents-shaped (doc_id, text, lang)."""
    from ..functions.similarity import (
        connected_components,
        minhash_incremental_survivors,
        minhash_lsh_pairs,
    )

    out_table = ManifestTable(out_path)
    corpus_table = ManifestTable(corpus_path)

    def ingest(batch: DataFrame, bid: int) -> None:
        from ..caching import begin_query

        begin_query()  # per-batch cache-release boundary (see caching.py)
        spark = batch.sparkSession
        # in-batch self-dedup, component-min semantics: every clustered
        # doc whose id is not its component's minimum is dropped
        self_dup_ids = (
            connected_components(
                minhash_lsh_pairs(batch, threshold).select("doc_a", "doc_b")
            )
            .filter(F.col("doc_id") != F.col("component"))
            .select("doc_id")
        )
        kept = batch.join(self_dup_ids, "doc_id", "left_anti")
        if corpus_table.current_version() > 0:
            # exclude this batch's own rows: a replay after a crash
            # between the two commits must not probe against its own
            # committed survivors
            corpus = corpus_table.read(spark).filter(
                F.col("ingest_batch") != F.lit(int(bid))
            )
            cols = kept.columns
            tagged = (
                corpus.select(*cols)
                .withColumn("is_new", F.lit(False))
                .unionByName(kept.withColumn("is_new", F.lit(True)))
            )
            survivor_ids = minhash_incremental_survivors(
                tagged, F.col("is_new"), threshold
            ).select("doc_id")
            kept = kept.join(survivor_ids, "doc_id", "left_semi")
        kept = kept.withColumn(
            "ingest_batch", F.lit(int(bid))
        ).localCheckpoint(eager=True)  # pin before double write
        for table in (out_table, corpus_table):
            table.append(kept, txn=("ingest_dedup", int(bid)))

    return (
        new_docs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(ingest)
        .start()
    )


def streaming_scd2(
    changes: DataFrame, table_path: str, checkpoint: str
) -> StreamingQuery:
    """Streaming SCD type-2 dimension maintenance: each micro-batch of
    change events rewrites the affected users' version history —
    intervals re-close, versions renumber, the open row moves — while
    untouched users' rows pass through.  The streaming form of the batch
    ``scd2_history`` operator (reference analogue: the per-record
    Phoenix dim upserts, DimUserInfoApp.scala:55-82 — which keep only
    latest state; this maintains full effective-dated history).

    Late events are handled by REPLAY: an affected user's stored change
    rows convert back to change events, merge with the batch (dedup on
    (user_id, event_id) — at-least-once replay after checkpoint restart
    is idempotent), and the user's history recomputes via the same
    ``scd2_of`` transform — so a late event landing between two existing
    versions re-splits the interval correctly.  Caveat: events that
    collapsed as consecutive repeats are not retained, so a late event
    arriving between a collapsed repeat and its survivor yields the
    history of the RETAINED change rows (the standard dim-table
    tradeoff; keep the raw event log for full retrospective rebuilds).

    Each batch commits as one ``ManifestTable.merge_delta``: the
    affected users' rows are deleted and their recomputed history
    inserted atomically, with ``txn=("scd2", batch_id)`` declining a
    replayed batch.  Data files are immutable, so a read resolved
    before a commit keeps its snapshot.

    At 100 TB: record per-file ``user_id`` stats on the table
    (``ManifestTable(table_path, stats_cols=["user_id"])``) and the
    merge carries files whose user range misses the batch by name, so
    per-batch cost follows the batch's user set, not the dimension;
    without stats every live file is rewritten."""
    from ..operators.windows import scd2_of

    table = ManifestTable(table_path)

    def apply(batch: DataFrame, bid: int) -> None:
        spark = batch.sparkSession
        ev = batch.select("user_id", "event_id", "ts", "event_type")
        users = ev.select("user_id").distinct()
        if table.files():
            replay = (
                table.read(spark)
                .join(users, "user_id", "left_semi")
                .select(
                    "user_id",
                    "event_id",
                    F.col("valid_from").alias("ts"),
                    F.col("state").alias("event_type"),
                )
            )
            ev = replay.unionByName(ev).dropDuplicates(["user_id", "event_id"])
        table.merge_delta(
            spark, scd2_of(ev), [(["user_id"], users)], txn=("scd2", int(bid))
        )

    return (
        changes.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(apply)
        .start()
    )


def streaming_anomaly(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``anomaly_zscore`` operator: per
    (event_type, day) totals z-scored against the trailing <=7 PRIOR
    days, updating every micro-batch — the metric-monitoring job that
    alerts on ingest-volume collapse or bot spikes while the day is
    still in flight.

    Exactness discipline: values convert to integer MICRO-UNITS inside
    JVM codegen (decimal(18,6) * 1e6 -> long) before the Python state
    op, so per-day totals accumulate as exact int64s — order- and
    batching-invariant, and convertible to the batch op's doubles by a
    single correct rounding (``Fraction``-based float conversion +
    HALF_UP decimal quantize, matching Spark's decimal->double cast and
    ``round(z, 6)`` bit-for-bit).  Full replay therefore reproduces the
    batch result exactly (pinned in tests/test_streaming.py).

    State per event_type is O(days) pairs of (day, int64) — bounded and
    tiny; each batch re-emits the full per-type day table (update-mode
    sinks keep the last row per key; a production variant would emit
    only days whose trailing window was touched)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    micros = (
        (F.col("value").cast("decimal(18,6)") * 1_000_000)
        .cast("long")
        .alias("micros")
    )
    e = events.select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("dt"), micros
    )

    def score(key, pdfs, state):
        from decimal import ROUND_HALF_UP, Decimal
        from fractions import Fraction

        totals: dict[str, int] = (
            dict(zip(state.get[0], state.get[1])) if state.exists else {}
        )
        for pdf in pdfs:
            if not len(pdf):
                continue
            # NULL values arrive as NaN (float64 batch): drop them to
            # mirror F.sum's null-skip — and an all-null (type, day)
            # group must create NO entry (pandas would sum NaNs to 0.0,
            # minting a zero day the batch op does not have).  Coerce
            # back to int64 so the groupby sum accumulates exactly
            # (float64 partials lose exactness past 2^53).
            pdf = pdf.dropna(subset=["micros"])
            if not len(pdf):
                continue
            sums = pdf.assign(
                micros=pdf["micros"].astype("int64")
            ).groupby("dt")["micros"].sum()
            for dt, m in sums.items():
                totals[dt] = totals.get(dt, 0) + int(m)
        days = sorted(totals)
        state.update((days, [totals[d] for d in days]))

        def r6(x: float) -> float:
            # repr() = shortest round-trip decimal, the same value Java's
            # Double.toString feeds Spark's round(); Decimal(x) would use
            # the exact binary expansion and round 2.675-style edge cases
            # the other way
            return float(
                Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
            )

        out = []
        for i, d in enumerate(days):
            frame = days[max(0, i - 7) : i]
            n = len(frame)
            if n < 4:
                continue
            s = [totals[x] for x in frame]
            v = float(Fraction(totals[d], 10**6))
            ws = float(Fraction(sum(s), 10**6))
            wss = float(Fraction(sum(x * x for x in s), 10**12))
            var = (wss - ws * ws / n) / (n - 1)
            if not var > 0:
                continue
            z = (v - ws / n) / var**0.5
            out.append(
                {
                    "event_type": key[0],
                    "dt": d,
                    "day_value": r6(v),
                    "zscore": r6(z),
                    "is_anomaly": abs(z) >= 2.0,
                }
            )
        yield pd.DataFrame(
            out,
            columns=["event_type", "dt", "day_value", "zscore", "is_anomaly"],
        )

    return e.groupBy("event_type").applyInPandasWithState(
        score,
        outputStructType=(
            "event_type string, dt string, day_value double, "
            "zscore double, is_anomaly boolean"
        ),
        stateStructType="days array<string>, totals array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_attribution(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Streaming twin of the batch ``attribution_last_touch`` query: a
    per-user carry (``applyInPandasWithState``) of the latest
    NON-purchase touch; every purchase row emits immediately with the
    channel it attributes to ('direct' when no touch precedes it) —
    the real-time "which channel just converted" feed the batch rollup
    retrospectively audits.

    State per user is (touch_type, touch_ts, touch_event_id) — three
    fields, O(users) total, never an event buffer.  Within a batch the
    group's rows are processed in (ts, kind_ord, event_id) order with
    touches BEFORE purchases on timestamp ties — the exact tie rule of
    the batch query's carry-forward window, so an in-order replay
    reproduces the batch attribution bit-for-bit (pinned in tests).
    Out-of-order delivery across batch boundaries is bounded by the
    watermark, the same tradeoff as ``stateful_funnel``."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    e = events.withWatermark("ts", watermark)

    def attribute(key, pdfs, state):
        if state.exists:
            t_type, t_ts, t_eid = state.get
        else:
            t_type, t_ts, t_eid = None, None, None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((t_type, t_ts, t_eid))
            return
        rows = pd.concat(chunks, ignore_index=True)
        rows["kind_ord"] = (rows["event_type"] == "purchase").astype("int64")
        rows = rows.sort_values(["ts", "kind_ord", "event_id"])
        out = []
        for _, r in rows.iterrows():
            if r["event_type"] != "purchase":
                # later (ts, event_id) wins, matching the window's order
                if t_ts is None or (r["ts"], r["event_id"]) > (t_ts, t_eid):
                    t_type, t_ts, t_eid = (
                        r["event_type"],
                        r["ts"],
                        int(r["event_id"]),
                    )
                continue
            # late purchase guard: a purchase arriving AFTER a future
            # touch entered state (cross-batch out-of-order) must not be
            # credited to a channel that had not yet touched the user —
            # fall back to 'direct' unless the touch is at-or-before it
            touch_valid = t_ts is not None and t_ts <= r["ts"]
            out.append(
                {
                    "event_id": int(r["event_id"]),
                    "user_id": key[0],
                    "ts": r["ts"],
                    "attributed_to": t_type if touch_valid else "direct",
                    "value": float(r["value"]),
                }
            )
        state.update((t_type, t_ts, t_eid))
        if out:
            yield pd.DataFrame(
                out,
                columns=["event_id", "user_id", "ts", "attributed_to", "value"],
            )

    return e.groupBy("user_id").applyInPandasWithState(
        attribute,
        outputStructType=(
            "event_id long, user_id long, ts timestamp, "
            "attributed_to string, value double"
        ),
        stateStructType=(
            "touch_type string, touch_ts timestamp, touch_event_id long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
