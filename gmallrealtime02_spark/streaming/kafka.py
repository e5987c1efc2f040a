"""Kafka source/sink builders (S1/S2/K1/K2 — MyKafkaUtil.scala:17-55,
MyKafkaSender.scala:12-40).

No broker exists in the test environment, so the streaming test-suite
drives the same jobs through file sources; these builders carry the
Kafka-specific configuration so a deployment only swaps the source/sink
construction.  Option construction is pure and unit-tested; query
start-up requires a real broker.

Offset bookkeeping note: the reference persists per-partition offsets in
a Redis hash and resumes manually (OffsetManager.scala:14-46).  Here the
checkpoint location IS the offset store — ``startingOffsets`` only
applies to the very first run; afterwards the checkpoint wins, which is
the same resume-from-last-committed behavior with exactly-once source
semantics instead of the reference's at-least-once.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_source_options(
    brokers: str,
    topics: list[str],
    group_id: str,
    starting_offsets: str | dict[str, dict[str, int]] = "latest",
) -> dict[str, str]:
    """Options mirroring the reference's consumer params
    (MyKafkaUtil.scala:17-31): subscribe list, group id, latest default —
    auto-commit is irrelevant (the checkpoint commits)."""
    if isinstance(starting_offsets, dict):
        starting_offsets = json.dumps(starting_offsets)
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": ",".join(topics),
        "startingOffsets": starting_offsets,
        "kafka.group.id": group_id,
    }


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topics: list[str],
    group_id: str,
    starting_offsets: str | dict[str, dict[str, int]] = "latest",
) -> DataFrame:
    """S1/S2: streaming DataFrame of (key, value as string, topic,
    partition, offset, timestamp)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        brokers, topics, group_id, starting_offsets
    ).items():
        reader = reader.option(k, v)
    return project_kafka_frame(reader.load())


def project_kafka_frame(raw: DataFrame) -> DataFrame:
    """The source's record contract: binary key/value cast to string plus
    the (topic, partition, offset, timestamp) metadata — split out so the
    projection is testable on a kafka-schema batch frame without a
    broker."""
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
        "timestamp",
    )


def kafka_sink_options(brokers: str, default_topic: str | None = None) -> dict[str, str]:
    """K1: producer options.  Idempotence is ON (the reference intended it
    but misspelled the config key — MyKafkaSender.scala:19)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "kafka.enable.idempotence": "true",
        "kafka.acks": "all",
    }
    if default_topic is not None:
        opts["topic"] = default_topic
    return opts


def to_kafka_frame(df: DataFrame, topic_col: str = "topic", key_col: str | None = None) -> DataFrame:
    """Shape a DataFrame for the Kafka sink: (topic, key, value=json(*)).

    The per-record ``topic`` column replaces the reference's
    one-job-per-table fan-out (K2, OdsGmallCanal.scala:46).
    """
    value = F.to_json(F.struct(*[c for c in df.columns if c != topic_col]))
    cols = [F.col(topic_col).alias("topic"), value.alias("value")]
    if key_col:
        cols.insert(1, F.col(key_col).cast("string").alias("key"))
    return df.select(*cols)


def write_kafka_stream(
    routed: DataFrame,
    brokers: str,
    checkpoint: str,
    default_topic: str | None = None,
):
    """K1/K2 sink builder: expects a ``value`` column; a ``topic`` column,
    when present, routes each record dynamically (the reference needs a
    per-table job for this — OdsGmallCanal.scala:46)."""
    writer = routed.writeStream.format("kafka").option(
        "checkpointLocation", checkpoint
    )
    for k, v in kafka_sink_options(brokers, default_topic).items():
        writer = writer.option(k, v)
    return writer
