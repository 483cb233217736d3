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

from pyspark.sql import DataFrame, SparkSession
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

    ``mode`` mirrors the reference's DLPMethod switch
    (DLPTextToBigQueryStreamingV2.java:94-108): "deid" (default), "inspect"
    (findings stream), or "reid" (detokenize ``reid_columns``)."""

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
    # minLikelihood/includeQuote/limits + quote-scoped ruleSet exclusions —
    # the native streaming path; offset-dependent rules raise, as in batch
    # inspect). None = the deid template's detectors, the historical default
    inspect_config: "object | None" = None
    reid_columns: tuple = ("text",)
    # no default key on purpose: reid mode raises without an explicit key
    # (a shared hardcoded key would make every deployment's tokens public)
    crypto_key: "str | None" = None
    # cipher for reid mode — "siv" (the template compiler's
    # cryptoDeterministicConfig default, so an omitted-mode deid→reid pair
    # round-trips in streaming too) or "ecb" for the explicit opt-in path
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
        route_errors = bool(self.error_output_dir)
        if self.mode == "deid":
            if route_errors:  # null payload cells → dead-letter, like a
                # malformed CSV record in the reference's reader (isNull is
                # never null, and the lit(False) seed keeps an empty
                # text_columns tuple well-defined: nothing is ever dead)
                dead = F.lit(False)
                for c in self.text_columns:
                    dead = dead | F.col(c).isNull()
                df = df.withColumn("__dead", dead)
            out = deidentify(df, self.template)
        elif self.mode == "inspect":
            from ..operators.inspect import inspect, inspect_offsets

            ic = self.inspect_config
            # offset-dependent rules (hotwordRule, excludeInfoTypes,
            # excludeByHotword) route to the pandas offsets path — it works
            # in foreachBatch/streaming the same as batch; quote-only
            # configs stay on the JVM-native path
            needs_offsets = ic is not None and any(
                rs.hotwords
                or any(
                    ex.exclude_info_types is not None or ex.hotword is not None
                    for ex in rs.exclusions
                )
                for rs in ic.rule_sets
            )
            op = inspect_offsets if needs_offsets else inspect
            out = op(
                df,
                ic.detectors if ic is not None else self.template.detectors,
                list(self.text_columns),
                id_columns=["conv_id", "turn_idx", "ts"],
                **(
                    dict(
                        min_likelihood=ic.min_likelihood,
                        include_quote=ic.include_quote,
                        max_findings_per_item=ic.max_findings_per_item,
                        rule_sets=ic.rule_sets,
                    )
                    if ic is not None
                    else {}
                ),
            )
        elif self.mode == "reid":
            import re as _re

            from ..functions import transforms

            if not self.crypto_key:
                raise ValueError("mode='reid' requires an explicit crypto_key")
            if self.crypto_mode not in ("siv", "ecb", "inline"):
                raise ValueError(
                    f"crypto_mode must be 'siv', 'ecb', or 'inline', got {self.crypto_mode!r}"
                )
            if self.crypto_mode in ("siv", "inline"):
                from ..plans.config import derive_siv_key

                siv_key = derive_siv_key(self.crypto_key)
            out = df
            inline_surs = {}
            for c in self.reid_columns:
                # strip the envelope the template minted for this column
                # ("NAME(len):token") or an explicit job-level override —
                # an enveloped token fed raw to the cipher can never decode
                sur = self.surrogate_info_type or self.template.surrogates.get(c)
                if self.crypto_mode == "inline":
                    # free-text surrogate reid: decrypt NAME(len):token
                    # envelopes IN PLACE (tokens minted by the per-finding
                    # cryptoDeterministicConfig path, functions/findings.py)
                    from ..functions import findings as fnd

                    if not sur:
                        raise ValueError(
                            "crypto_mode='inline' needs a surrogate_info_type "
                            "(job-level or minted by the template) — inline "
                            "envelopes are unfindable without the name"
                        )
                    inline_surs[c] = sur
                    dec = fnd.reidentify_text(
                        out[c], siv_key, sur, strict=not route_errors
                    )
                elif self.crypto_mode == "siv":
                    from ..functions import crypto

                    dec = crypto.siv_reidentify(
                        out[c], siv_key, sur, strict=not route_errors
                    )
                else:
                    dec = transforms.crypto_reidentify(
                        out[c], self.crypto_key, sur, strict=not route_errors
                    )
                out = out.withColumn(f"__dec_{c}", dec)
            if route_errors:
                # dead derived from the MATERIALIZED __dec_<c> columns: the
                # decrypt (a pandas UDF on the SIV path) is evaluated once
                # per column, not re-run inside the predicate. Cell modes
                # null the cell on a corrupt token; inline mode LEAVES the
                # corrupt envelope in the text, so dead = residual envelope
                dead = F.lit(False)
                for c in self.reid_columns:
                    if self.crypto_mode == "inline":
                        residual = _re.escape(inline_surs[c]) + r"\([0-9]+\):"
                        dead = dead | F.coalesce(
                            F.col(f"__dec_{c}").rlike(residual), F.lit(False)
                        )
                    else:
                        dead = dead | (
                            F.col(c).isNotNull() & F.col(f"__dec_{c}").isNull()
                        )
                out = out.withColumn("__dead", dead)
            for c in self.reid_columns:
                # dead rows keep their original (undecodable) token so the
                # error table carries the evidence, like the reference's
                # error_log payload
                val = (
                    F.when(F.col("__dead"), F.col(c)).otherwise(F.col(f"__dec_{c}"))
                    if route_errors
                    else F.col(f"__dec_{c}")
                )
                out = out.withColumn(c, val).drop(f"__dec_{c}")
        else:
            raise ValueError(f"unknown mode {self.mode!r}")
        if self.num_shards:
            out = salted_repartition(out, "conv_id", self.num_shards, "turn_idx")
        return out

    def _foreach(self):
        """foreachBatch body: one exactly-once sink, or — when a dead-letter
        dir is configured — a success/error fan-out committed under the SAME
        batch id (both legs replay-idempotent; the reference's TupleTag
        success/failure side outputs, common/DLPTransform.java:129-154)."""
        main, err = self.sink(), self.error_sink()

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            if err is not None and "__dead" in batch_df.columns:
                batch_df.persist()
                try:
                    main(batch_df.filter(~F.col("__dead")).drop("__dead"), batch_id)
                    errors = (
                        batch_df.filter(F.col("__dead"))
                        .drop("__dead")
                        .withColumn(
                            "error_message",
                            F.lit(
                                "reid: undecodable token"
                                if self.mode == "reid"
                                else "malformed record: required field null"
                            ),
                        )
                    )
                    err(errors, batch_id)
                finally:
                    batch_df.unpersist()
            else:
                if "__dead" in batch_df.columns:
                    batch_df = batch_df.drop("__dead")
                main(batch_df, batch_id)

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
