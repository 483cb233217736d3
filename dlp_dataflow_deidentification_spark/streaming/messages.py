"""Event-bus message converter + publisher sink (P13/K4).

Re-expresses the reference's PubSub publish leg:
  * converter — common/PubSubMessageConverts.java:30-40: payload = JSON of
    the row's fields, one attribute ``table_name`` carrying the routing key.
  * publisher — DLPTextToBigQueryStreamingV2.java:361-370: PubsubIO sink
    with max batch 1000 messages / 10,000 bytes.

Spark-first shape: the converter is a pure ``to_json(struct(*))`` projection
(JVM-side, codegen'd); the publisher is ``writeStream.format("kafka")`` —
the open-source event bus Spark ships a connector for. The message layout
follows Kafka's writer contract (``key``/``value``/``headers``), with the
``table_name`` attribute as a header, so any JSON consumer of the reference's
PubSub topic reads the same envelope from the Kafka topic.

No broker (or spark-sql-kafka jar) exists in this sandbox, so the publisher
raises a clear error at start() when the connector is absent; the converter —
the actual row→message logic — is fully unit-tested
(tests/test_streaming.py::test_pubsub_message_converter_payload).
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference publisher limits (DLPTextToBigQueryStreamingV2.java:77-80)
PUB_SUB_BATCH_SIZE = 1000
PUB_SUB_BATCH_SIZE_BYTES = 10_000


def to_messages(
    df: DataFrame,
    table_name_col: str = "source_key",
    value_columns: "Sequence[str] | None" = None,
) -> DataFrame:
    """Rows → event-bus messages: ``value`` = JSON object of the row's fields
    (PubSubMessageConverts payload), ``key`` = the routing key (stable
    partitioning per table), ``headers`` = [("table_name", key)] (the
    reference's single message attribute)."""
    cols = [c for c in (value_columns or df.columns) if c != table_name_col]
    key = F.col(table_name_col).cast("string")
    return df.select(
        key.alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value"),
        F.array(
            F.struct(
                F.lit("table_name").alias("key"),
                key.cast("binary").alias("value"),
            )
        ).alias("headers"),
    )


def publish_stream(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint_dir: str,
    table_name_col: str = "source_key",
    trigger: "dict | None" = None,
):
    """Publish a streaming DataFrame to a Kafka topic (K4 analogue).

    Requires the spark-sql-kafka connector on the classpath
    (``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark ver>``).

    Batch-cap mapping (the semantics differ from PubSub's knobs):
    ``kafka.batch.size`` is a per-partition batch BYTE budget — the direct
    analogue of the reference's 10 kB maxBatchBytesSize — with a small
    ``linger.ms`` so batches actually fill. The reference's 1000-message
    count cap has no Kafka producer equivalent; the byte budget bounds the
    batch instead. ``max.request.size`` is deliberately LEFT AT DEFAULT
    (~1 MB): it caps a single produce request, and shrinking it to the
    batch budget would make any row larger than 10 kB fail the whole query
    with RecordTooLargeException instead of being batched alone.
    """
    msgs = to_messages(df, table_name_col)
    writer = (
        msgs.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("includeHeaders", "true")
        .option("kafka.batch.size", str(PUB_SUB_BATCH_SIZE_BYTES))
        .option("kafka.linger.ms", "5")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    try:
        return writer.start()
    except Exception as e:  # connector jar absent → actionable error
        if "kafka" in str(e).lower() or "DATA_SOURCE_NOT_FOUND" in str(e):
            raise NotImplementedError(
                "Kafka connector not on the classpath; submit with "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<version>"
            ) from e
        raise
