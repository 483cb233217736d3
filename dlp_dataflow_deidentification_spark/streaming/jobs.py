"""End-to-end streaming pipelines (the engine's DLPTextToBigQueryStreamingV2).

Spark lifecycle per SURVEY.md §3.1: ``readStream`` (file/Iceberg source with
``maxFilesPerTrigger`` — the FilePollingTransform analogue,
common/FilePollingTransform.java:54-64) → narrow deid projection (the whole
DLP stage fuses into one WholeStageCodegen span; the reference's
shard→bag-state→batch→RPC machinery, beam/ShardRows.java +
beam/BatchRequestForDLP.java, is subsumed by micro-batch execution) →
``foreachBatch`` idempotent exactly-once sink with lineage
(streaming/sink.py) → checkpoint for resume.
"""
from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.deidentify import deidentify
from ..operators.skew import salted_repartition
from ..plans.config import DeidTemplate
from ..plans.pipeline import apply_method
from .sink import IdempotentBatchSink

ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession, changelog_checkpointing: bool = True) -> None:
    """Switch stateful streaming queries to the RocksDB state store (the
    north-star's store): window/join/state rows spill to executor-local
    RocksDB instead of the JVM heap, so state size is bounded by disk, not
    memory — required at 10^12-turn scale where open sessions/windows dwarf
    any heap. ``changelog_checkpointing`` commits per-batch changelogs
    instead of full snapshots (faster micro-batch commits; snapshots are
    compacted in the background). Applies to queries started after this
    call; the HDFS-backed default remains for anything already running."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER)
    if changelog_checkpointing:
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )


TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def read_transcript_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded transcript source over a parquet directory: new files are
    discovered per micro-batch (ReadExistingFiles ∪ ReadNewFiles semantics,
    common/ReadExistingFilesTransform.java:57-69 +
    common/ReadNewFilesPubSubTransform.java:62-75 — the file source's catalog
    diff subsumes both). On a cluster this is
    ``spark.readStream.format("iceberg")`` on the transcripts table."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def deid_sessions_stream(
    spark: SparkSession,
    template: DeidTemplate,
    input_dir: str,
    gap_ms: int = 1_800_000,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """DEID → stateful conversation assembly as ONE streaming query.

    The de-identification stage is a stateless narrow projection (the whole
    regexp chain fuses into one WholeStageCodegen span), so chaining it
    under the ``applyInPandasWithState`` session machine costs no extra
    stage or shuffle beyond the assembler's own groupBy — one query, one
    stateful operator, per-conversation session records over TOKENIZED text
    (n_pii_turns counts the [INFO_TYPE] surrogates the deid stage minted).
    Batch equivalent: ``conversation_assembler(deidentify(df, template))``
    (driver query ``conv_sessions``); stream≡batch equality is pinned by
    ``tests/test_stateful.py::test_deid_sessions_single_query_stream``.
    ``n_buckets``: state groups — one state row / one vectorized pandas fold
    per ``pmod(xxhash64(conv_id), n_buckets)`` bucket (see
    ``conversation_assembler``); None = one group per conversation. Same
    output, ~|keys|/n_buckets fewer per-micro-batch pandas dispatches.
    """
    from .stateful import conversation_assembler

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    return conversation_assembler(
        deidentify(stream, template),
        gap_ms=gap_ms,
        watermark=watermark,
        n_buckets=n_buckets,
    )


@dataclass
class StreamingDeidJob:
    """Streaming pipeline: source → INSPECT/DEID/REID → exactly-once sink.

    ``mode`` is the reference's DLPMethod switch: "deid" (default),
    "inspect" (findings stream) or "reid" (detokenize ``reid_columns``),
    run by ``plans.pipeline.apply_method``, the step batch runs too."""

    spark: SparkSession
    template: DeidTemplate
    input_dir: str
    output_dir: str
    checkpoint_dir: str
    num_shards: int = 0  # >0: salted repartition for hot conv_ids before the sink
    max_files_per_trigger: int | None = None
    mode: str = "deid"
    text_columns: tuple = ("text",)
    # optional full InspectConfig for mode="inspect" (detectors +
    # minLikelihood/includeQuote/limits + ruleSet; offset-dependent rule
    # sets run on inspect_offsets, every other config on inspect, as in
    # batch — plans.pipeline.apply_method). None = the deid template's detectors
    inspect_config: "object | None" = None
    reid_columns: tuple = ("text",)
    # no default key on purpose: reid mode raises without an explicit key
    # (a shared hardcoded key would make every deployment's tokens public)
    crypto_key: "str | None" = None
    # cipher for reid mode, any operators.deidentify.reidentify mode — "siv"
    # (the AES-SIV tokens every cryptoDeterministicConfig compiles to, so an
    # omitted-mode deid→reid pair round-trips in streaming too), "ffx" or
    # "inline" (free-text envelopes)
    crypto_mode: str = "siv"
    # surrogate envelope override for reid mode; None = use the envelope the
    # TEMPLATE minted for each column (template.surrogates) — tokens written
    # as "NAME(len):token" cannot decrypt without stripping the envelope
    surrogate_info_type: "str | None" = None
    partition_output_by: str | None = None  # dynamic destinations (per-key)
    # dead-letter leg (the reference's API-error side output,
    # common/DLPTransform.java:330-343): rows whose transform fails — a
    # corrupt token in reid mode, a null payload cell otherwise — are
    # committed to this second exactly-once sink within the SAME batch id
    error_output_dir: "str | None" = None

    def sink(self) -> IdempotentBatchSink:
        return IdempotentBatchSink(self.output_dir, partition_col=self.partition_output_by)

    def error_sink(self) -> "IdempotentBatchSink | None":
        if not self.error_output_dir:
            return None
        return IdempotentBatchSink(self.error_output_dir)

    def transformed(self, df: DataFrame) -> DataFrame:
        # numberOfRowsRead counter analogue (reference:
        # DLPTextToBigQueryStreaming.java:683-686) — per-batch observed metric
        df = df.observe("reader", F.count(F.lit(1)).alias("rows_read"))
        out = apply_method(
            df,
            self.mode,
            self.template,
            text_columns=self.text_columns,
            id_columns=("conv_id", "turn_idx", "ts"),
            inspect_config=self.inspect_config,
            reid_columns=self.reid_columns,
            crypto_key=self.crypto_key,
            crypto_mode=self.crypto_mode,
            surrogate_info_type=self.surrogate_info_type,
            dead_letter=bool(self.error_output_dir),
        )
        if self.num_shards:
            out = salted_repartition(out, "conv_id", self.num_shards, "turn_idx")
        return out

    def _foreach(self):
        """foreachBatch body: one exactly-once sink, or — when a dead-letter
        dir is configured — a success/error fan-out committed under the SAME
        batch id (the reference's TupleTag success/failure side outputs,
        common/DLPTransform.java:129-154). The batch is persisted, so the
        dead predicate (reid's pandas UDF) and the ``rows_read`` observation
        run once. The main leg writes first and counts the batch's dead rows
        in the same pass: an observation on the whole batch, below the
        ``NOT __dead`` filter, so the main lineage still counts live rows.
        Only a batch with dead rows then runs the dead-letter write, over the
        persisted batch; a clean batch commits a zero-row dead-letter ledger
        entry (``commit_empty``), so it runs one Spark job in all. A replay
        whose main leg is already committed has no count to read and runs
        the (idempotent) dead-letter leg. The main ledger commits first; a
        failure in either leg fails the micro-batch, and the replay
        finishes what it left."""
        main, err = self.sink(), self.error_sink()
        reason = (
            "reid: undecodable token"
            if self.mode == "reid"
            else "malformed record: required field null"
        )

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            if err is None or "__dead" not in batch_df.columns:
                main(batch_df.drop("__dead"), batch_id)
                return
            batch_df.persist()
            try:
                replay = main.is_committed(batch_id)
                dead = Observation(f"dead_{batch_id}")
                counted = batch_df.observe(dead, F.expr("count_if(__dead) AS n"))
                main(counted.filter("NOT __dead").drop("__dead"), batch_id)
                if replay or dead.get["n"]:
                    errors = batch_df.filter("__dead").drop("__dead")
                    err(errors.withColumn("error_message", F.lit(reason)), batch_id)
                else:
                    schema = StructType([f for f in batch_df.schema if f.name != "__dead"])
                    err.commit_empty(batch_id, schema.add("error_message", StringType()))
            finally:
                batch_df.unpersist()

        return fn

    def start(self, trigger: dict | None = None):
        """Start the stream; default trigger availableNow (drain all pending
        input then stop — used by tests/bench; pass
        ``{"processingTime": "3 seconds"}`` for the reference's V2 cadence)."""
        stream = self.transformed(
            read_transcript_stream(self.spark, self.input_dir, self.max_files_per_trigger)
        )
        writer = (
            stream.writeStream.foreachBatch(self._foreach())
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("append")
        )
        trigger = trigger or {"availableNow": True}
        return writer.trigger(**trigger).start()

    def run_to_completion(self, timeout_sec: int = 600) -> bool:
        """Returns True iff the query drained and terminated on its own
        (False = the timeout stopped an incomplete run)."""
        q = self.start()
        finished = bool(q.awaitTermination(timeout_sec))
        if q.isActive:
            q.stop()
        return finished
