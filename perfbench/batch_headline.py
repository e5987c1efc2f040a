"""Workload ``batch_headline``: the warehouse batch and its dashboard,
as warm passes.

A pass runs the ten headline registry queries (``metrics.HEADLINE``) at
sf 0.1 through the noop sink, then eight operator cores of those queries
over inputs replicated in memory (``metrics.SCALED``), then one round of
dashboard requests (``perfbench.dashboard``).  The headline queries and
the dashboard requests are dominated by fixed cost (plan build, many
small Spark jobs, driver collects); the scaled cores by execution, so
the two end-to-end numbers separate plan and Py4J wins from operator
wins.  Replication factors grow with the core count so a pass stays
short on any host.

First, untimed, every headline result is fetched once and checked
against the query's registered DuckDB oracle (an order-insensitive hash
of the rows); this also warms the engine up.  Every dashboard answer is
checked against its reference as it arrives, outside its timing.  Set-up (repeated, median reported): the
scaled cores' inputs replicated and persisted.  Then passes run while
another fits in ``--seconds``, at least one.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import dashboard
from perfbench.datagen import generate
from perfbench.host import JobCounter, log, nproc
from perfbench.metrics import HEADLINE
from perfbench.stats import median

WHY = (
    "closed loop, one client, seeded sf0.1 tables: 10 headline registry queries, 8 scaled "
    "operator cores and 8 dashboard requests per warm pass; plan build vs execution"
)
SF = 0.1
SETUP_REPS = 3


def factors(cores: int) -> dict[str, int]:
    """Replication factor per scaled input on ``cores`` cores."""
    return {
        "events": max(1, cores // 4),
        "lineitem": max(1, cores // 8),
        "documents": max(1, cores // 4),
        "embeddings": max(1, cores // 4),
    }


def _replicate(spark, df, n: int, id_exprs):
    from pyspark.sql import functions as F

    reps = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    parts = 2 * spark.sparkContext.defaultParallelism
    return df.select("*", reps).select(*id_exprs).repartition(parts)


def prepare_scaled(spark, data_dir: str) -> dict:
    """Replicate and persist the scaled cores' inputs.  Per-replica key
    remaps keep group sizes constant while group counts grow."""
    from pyspark.sql import functions as F

    from gmallrealtime02_spark.sources.tables import load_table

    f = factors(nproc())
    ev = load_table(spark, data_dir, "events")
    li = load_table(spark, data_dir, "lineitem")
    o = load_table(spark, data_dir, "orders")
    docs = load_table(spark, data_dir, "documents")
    emb = load_table(spark, data_dir, "embeddings")
    n_li = f["lineitem"]
    big = {
        "events": _replicate(spark, ev, f["events"], [
            (F.col("event_id") * f["events"] + F.col("rep")).alias("event_id"),
            (F.col("user_id") + F.col("rep") * 10_000_000).alias("user_id"),
            F.col("ts"),
            F.col("event_type"),
        ]),
        "lineitem": _replicate(spark, li, n_li, [
            (F.col("l_orderkey") * n_li + F.col("rep")).alias("l_orderkey"),
            *[F.col(c) for c in li.columns if c != "l_orderkey"],
        ]),
        "orders": _replicate(spark, o, n_li, [
            (F.col("o_orderkey") * n_li + F.col("rep")).alias("o_orderkey"),
            *[F.col(c) for c in o.columns if c != "o_orderkey"],
        ]),
        "documents": _replicate(spark, docs, f["documents"], [
            (F.col("doc_id") * f["documents"] + F.col("rep")).alias("doc_id"),
            F.concat("text", F.lit(" r"), F.col("rep")).alias("text"),
        ]),
        "embeddings": _replicate(spark, emb, f["embeddings"], [
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            F.col("embedding"),
        ]),
    }
    big = {name: df.persist() for name, df in big.items()}
    with ThreadPoolExecutor(max_workers=len(big)) as pool:
        list(pool.map(lambda df: df.count(), big.values()))
    return big


def scaled_plans(spark, data_dir: str, big: dict) -> dict:
    """``name -> () -> DataFrame`` for the eight scaled operator cores."""
    from pyspark.sql import functions as F

    from gmallrealtime02_spark.functions import similarity as S
    from gmallrealtime02_spark.functions import text as TX
    from gmallrealtime02_spark.operators import dau as dau_ops
    from gmallrealtime02_spark.operators.aggregates import davg, dsum
    from gmallrealtime02_spark.operators.enrich import enrich_detail_snowflake
    from gmallrealtime02_spark.operators.order_wide import order_wide
    from gmallrealtime02_spark.operators.windows import sessionize
    from gmallrealtime02_spark.sources.tables import load_table

    def table(name):
        return load_table(spark, data_dir, name)

    ev, li, o = big["events"], big["lineitem"], big["orders"]
    return {
        "scaled_dau_hourly": lambda: dau_ops.dau_hourly(dau_ops.dau_first_ts(ev)),
        "scaled_sessionize": lambda: sessionize(ev, gap_minutes=30),
        "scaled_order_wide": lambda: order_wide(o, li),
        "scaled_detail_snowflake": lambda: enrich_detail_snowflake(
            li, table("part"), table("supplier"), table("nation"), table("region")
        ),
        "scaled_pricing_summary": lambda: (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                dsum("l_quantity", 2).alias("sum_qty"),
                dsum("l_extendedprice", 2).alias("sum_base_price"),
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                    "sum_disc_price"
                ),
                davg("l_quantity", 2).alias("avg_qty"),
                davg("l_extendedprice", 2).alias("avg_price"),
                F.count("*").alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        ),
        "scaled_revenue_by_nation": lambda: (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(table("customer")), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(table("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_name").alias("nation_name"))
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
        ),
        "scaled_doc_quality": lambda: TX.text_profile_table(
            big["documents"],
            ("doc_id",),
            (
                "n_chars", "n_words", "avg_word_len", "stopword_ratio",
                "punct_ratio", "type_token_ratio", "quality", "pred_lang",
            ),
        ),
        "scaled_ann_cosine_topk": lambda: S.cosine_topk(big["embeddings"], 10, 5),
    }


def _canonical(con, relation: str) -> str:
    """SQL hashing each row of ``relation`` over its columns in name
    order, numbers as DOUBLE and times as epoch microseconds, so the
    engines' integer / decimal / double and timestamp-kind choices do not
    matter."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    out = []
    for name, typ, *_ in sorted(cols):
        q = '"' + name.replace('"', '""') + '"'
        t = typ.upper()
        if t.startswith("TIMESTAMP"):
            expr = f"epoch_us({q})"
        elif t == "DATE":
            expr = f"epoch_us(CAST({q} AS TIMESTAMP))"
        elif t.startswith(("DECIMAL", "HUGEINT", "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
                           "UBIGINT", "UINTEGER", "DOUBLE", "FLOAT", "BOOLEAN")):
            expr = f"CAST({q} AS DOUBLE)"
        else:
            expr = f"CAST({q} AS VARCHAR)"
        out.append(expr)
    return f"SELECT hash({', '.join(out)}) AS h FROM {relation}"


def result_hash(con, relation: str) -> tuple[int, int]:
    """``(rows, hash)`` of a relation, independent of row and column
    order: the sum of per-row hashes of its canonical form."""
    rows, h = con.execute(
        f"SELECT count(*), sum(h::HUGEINT) FROM ({_canonical(con, relation)})"
    ).fetchone()
    return int(rows), int(h or 0)


def check_headline(spark, data_dir: str, queries: dict, tracer) -> list[str]:
    """Run each headline query once, its rows fetched as Arrow, and
    compare its result hash with that of its DuckDB oracle over the same
    files (computed on a second thread meanwhile).  Returns the names
    that differ."""
    import duckdb

    from gmallrealtime02_spark.caching import release_pending
    from gmallrealtime02_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    # the oracles run beside the engine: leave it most of the cores
    con.execute(f"SET threads TO {max(1, nproc() // 2)}")
    for t in TESTDATA_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracle_cur = con.cursor()
    with ThreadPoolExecutor(max_workers=1) as pool:
        wants = {
            name: pool.submit(result_hash, oracle_cur, f"({queries[name].oracle})")
            for name in HEADLINE
        }
        cur = con.cursor()
        bad = []
        for name in HEADLINE:
            with tracer.span(f"check:{name}", "bench", rid=f"check:{name}"):
                cur.register("spark_result", queries[name].fn(spark, data_dir).toArrow())
                got = result_hash(cur, "spark_result")
                cur.unregister("spark_result")
            release_pending()
            want = wants[name].result()
            if got != want:
                print(f"batch_headline: {name} differs from its oracle: "
                      f"rows {got[0]} vs {want[0]}", file=sys.stderr)
                bad.append(name)
    con.close()
    return bad


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run(ctx) -> dict:
    from gmallrealtime02_spark.caching import release_pending
    from gmallrealtime02_spark.plans.registry import load_all

    tracer, spark = ctx.tracer, ctx.spark
    data_dir = os.path.join(ctx.work_dir, "data")
    generate(data_dir, SF, ctx.seed)
    queries = load_all()
    jobs = JobCounter(spark)
    client = dashboard.Client(spark, data_dir, ctx.seed, jobs, tracer)
    log("batch_headline: inputs and dashboard references ready")

    # -- untimed: output check, which also warms the engine up --
    bad = check_headline(spark, data_dir, queries, tracer)
    log("batch_headline: headline results checked")

    big: dict = {}
    setup_times = []
    for _ in range(SETUP_REPS):
        for df in big.values():
            df.unpersist(blocking=True)
        t0 = time.perf_counter()
        with tracer.span("setup", "bench", rid="setup"):
            big = prepare_scaled(spark, data_dir)
        setup_times.append(time.perf_counter() - t0)
    scaled = scaled_plans(spark, data_dir, big)
    log(f"batch_headline: set up {SETUP_REPS} times")

    # -- timed passes: as many as fit in --seconds, at least one --
    build_s: dict[str, list[float]] = {q: [] for q in HEADLINE}
    exec_s: dict[str, list[float]] = {q: [] for q in HEADLINE}
    n_jobs: dict[str, list[int]] = {q: [] for q in HEADLINE}
    scaled_s: dict[str, list[float]] = {q: [] for q in scaled}
    stages, tasks, pass_headline, pass_scaled, pass_dash = [], [], [], [], []
    end = time.perf_counter() + ctx.seconds
    passes, last = 0, 0.0
    while passes == 0 or time.perf_counter() + last <= end:
        passes += 1
        t_pass = time.perf_counter()
        h_tot = s_tot = 0.0
        pass_stages = pass_tasks = 0
        for name in HEADLINE:
            group = jobs.group(name)
            with tracer.span(name, "bench", rid=f"pass{passes}:{name}"):
                a = time.perf_counter()
                with tracer.span(f"{name}.build", "plans"):
                    df = queries[name].fn(spark, data_dir)
                b = time.perf_counter()
                _noop(df)
                c = time.perf_counter()
            release_pending()
            nj, ns, nt = jobs.counts(group)
            build_s[name].append(b - a)
            exec_s[name].append(c - b)
            n_jobs[name].append(nj)
            pass_stages += ns
            pass_tasks += nt
            h_tot += c - a
        for name, plan in scaled.items():
            with tracer.span(name, "bench", rid=f"pass{passes}:{name}"):
                a = time.perf_counter()
                _noop(plan())
                c = time.perf_counter()
            scaled_s[name].append(c - a)
            s_tot += c - a
        pass_dash.append(client.round())
        pass_headline.append(h_tot)
        pass_scaled.append(s_tot)
        stages.append(pass_stages)
        tasks.append(pass_tasks)
        last = time.perf_counter() - t_pass
    log(f"batch_headline: {passes} timed passes")
    spark.sparkContext.setJobGroup("", "")
    for df in big.values():
        df.unpersist()

    headline_s, scaled_total = median(pass_headline), median(pass_scaled)
    layer = {
        "batch_headline_s": headline_s,
        "batch_scaled_s": scaled_total,
        "plans.build_s": sum(median(v) for v in build_s.values()),
        "plans.exec_s": sum(median(v) for v in exec_s.values()),
        "plans.spark_jobs": sum(median(v) for v in n_jobs.values()),
        "plans.spark_stages": median(stages),
        "plans.spark_tasks": median(tasks),
        "operators.replicate_s": median(setup_times),
        **client.layer(),
    }
    for q in HEADLINE:
        layer[f"plans.{q}.build_s"] = median(build_s[q])
        layer[f"plans.{q}.exec_s"] = median(exec_s[q])
        layer[f"plans.{q}.jobs"] = median(n_jobs[q])
    for q, v in scaled_s.items():
        layer[f"operators.{q}.exec_s"] = median(v)
    interactive = len(HEADLINE) + len(client.pool)
    return {
        "setup_s": setup_times,
        "e2e": {
            "latency_ms": 1000 * (headline_s + median(pass_dash)) / interactive,
            "throughput_per_s": len(scaled) / scaled_total,
        },
        "layer": layer,
        "attempted": len(HEADLINE) + passes * (len(HEADLINE) + len(scaled)) + client.attempted,
        "failed": len(bad) + client.failed,
        "correct": not bad and client.failed == 0,
    }
