"""End-to-end layered-warehouse test (SURVEY.md §5.2): CDC envelopes →
ODS splitter → dim upsert → DWD enrichment (per-batch dim snapshot) →
DWS stream-stream order-wide join — the reference's full architecture
(§3.2 + §3.3) with topic-partitioned parquet standing in for Kafka
between layers.  Each layer is its own streaming query with its own
checkpoint, exactly like the reference's one-JVM-per-app deployment."""

from __future__ import annotations

import json
import os
from datetime import datetime

from pyspark.sql import functions as F

from gmallrealtime02_spark.streaming import jobs as SJ
from gmallrealtime02_spark.streaming.manifest import ManifestTable


def _write_envelopes(spark, path, envelopes):
    os.makedirs(path, exist_ok=True)
    n = len(os.listdir(path))
    spark.createDataFrame(
        [(json.dumps(e),) for e in envelopes], "value string"
    ).coalesce(1).write.mode("append").parquet(os.path.join(path, f"b{n}"))


def test_e2e_ods_dim_dwd_dws(spark, tmp_path):
    src = str(tmp_path / "cdc_src")
    ods = str(tmp_path / "ods")
    dim_path = str(tmp_path / "dim_province")
    dwd_path = str(tmp_path / "dwd_order_info")
    t0 = "2024-01-01 10:00:00"

    envelopes = [
        {"database": "gmall", "table": "base_province", "type": "insert",
         "data": [{"id": "1", "name": "hebei"}, {"id": "2", "name": "jiangsu"}]},
        {"database": "gmall", "table": "order_info", "type": "insert",
         "data": [
             {"id": "101", "user_id": "7", "province_id": "1",
              "final_total_amount": "30.0", "create_time": t0},
             {"id": "102", "user_id": "8", "province_id": "2",
              "final_total_amount": "55.5", "create_time": t0},
         ]},
        {"database": "gmall", "table": "order_detail", "type": "insert",
         "data": [
             {"id": "1001", "order_id": "101", "sku_id": "5",
              "order_price": "10.0", "sku_num": "3", "create_time": t0},
             {"id": "1002", "order_id": "102", "sku_id": "6",
              "order_price": "55.5", "sku_num": "1", "create_time": t0},
             {"id": "1003", "order_id": "999", "sku_id": "9",
              "order_price": "1.0", "sku_num": "1", "create_time": t0},  # orphan
         ]},
    ]
    _write_envelopes(spark, src, envelopes)

    # ---- ODS layer: splitter fans the envelope stream out by topic ----
    raw = spark.readStream.schema("value string").parquet(src + "/*")
    q = SJ.start_ods_split_job(raw, ods, str(tmp_path / "ckpt_ods"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def ods_topic(topic):
        # manifest snapshot read with file-level topic pruning: the sink
        # clustered each batch's files by topic and recorded min/max, so
        # this opens only the topic's files (plus the exact residual)
        return (
            ManifestTable(ods)
            .read_pruned(spark, "topic", lo=topic, hi=topic)
            .select("value")
        )

    # ---- DIM layer: province rows upserted into the dim table ----
    prov = ods_topic("ODS_MM_BASE_PROVINCE").select(
        F.get_json_object("value", "$.id").cast("long").alias("id"),
        F.get_json_object("value", "$.name").alias("name"),
    )
    ManifestTable(dim_path).upsert(spark, prov, ["id"])

    # ---- DWD layer: order_info enriched against the dim, streaming, with
    # the per-batch snapshot refresh (foreachBatch re-read) ----
    oi_stream = (
        spark.readStream.schema("topic string, table string, value string")
        .option("maxFilesPerTrigger", 1)
        # append-only manifest table: downstream streams tail the
        # immutable data files directly (compact/upsert tables would
        # use the manifest-version CDC reader instead)
        .parquet(ods + "/data")
        .filter(F.col("topic") == "ODS_MM_ORDER_INFO")
        .select(
            F.get_json_object("value", "$.id").cast("long").alias("order_id"),
            F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
            F.get_json_object("value", "$.province_id").cast("long").alias("province_id"),
            F.get_json_object("value", "$.final_total_amount").cast("double").alias("final_total_amount"),
            F.to_timestamp(F.get_json_object("value", "$.create_time")).alias("ts"),
        )
    )

    def enrich(batch_df, batch_id):
        dim = ManifestTable(dim_path).read(batch_df.sparkSession)
        out = batch_df.join(
            F.broadcast(dim), batch_df["province_id"] == dim["id"], "left"
        ).select(
            "order_id", "user_id", "final_total_amount", "ts",
            dim["name"].alias("province_name"),
        )
        out.write.mode("append").parquet(dwd_path)

    q2 = (
        oi_stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dwd"))
        .foreachBatch(enrich)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    dwd = {
        r.order_id: (r.province_name, r.final_total_amount)
        for r in spark.read.parquet(dwd_path).collect()
    }
    assert dwd == {101: ("hebei", 30.0), 102: ("jiangsu", 55.5)}

    # ---- DWS layer: watermarked stream-stream join DWD orders x details ----
    oi2 = (
        spark.readStream.schema(
            "order_id long, user_id long, final_total_amount double, "
            "ts timestamp, province_name string"
        )
        .parquet(dwd_path)
        .select(
            F.col("order_id").alias("o_order_id"),
            F.col("ts").alias("o_ts"),
            "user_id", "final_total_amount", "province_name",
        )
    )
    od2 = (
        spark.readStream.schema("topic string, table string, value string")
        .parquet(ods + "/data")
        .filter(F.col("topic") == "ODS_MM_ORDER_DETAIL")
        .select(
            F.get_json_object("value", "$.id").cast("long").alias("detail_id"),
            F.get_json_object("value", "$.order_id").cast("long").alias("order_id"),
            F.get_json_object("value", "$.sku_id").cast("long").alias("sku_id"),
            F.get_json_object("value", "$.order_price").cast("double").alias("sku_price"),
            F.get_json_object("value", "$.sku_num").cast("long").alias("sku_num"),
            F.to_timestamp(F.get_json_object("value", "$.create_time")).alias("d_ts"),
        )
    )
    wide = SJ.streaming_order_wide(oi2, od2)
    q3 = (
        wide.writeStream.outputMode("append")
        .format("memory")
        .queryName("e2e_wide")
        .start()
    )
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    got = {
        (r.detail_id, r.o_order_id, r.province_name, r.sku_price)
        for r in spark.sql("SELECT * FROM e2e_wide").collect()
    }
    # orphan detail 1003 (order 999) excluded; dims resolved end to end
    assert got == {
        (1001, 101, "hebei", 10.0),
        (1002, 102, "jiangsu", 55.5),
    }
