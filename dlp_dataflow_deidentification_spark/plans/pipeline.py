"""Config-driven end-to-end pipelines — the engine's
``DLPTextToBigQueryStreamingV2`` (reference: main() + run()/runReidPipeline,
DLPTextToBigQueryStreamingV2.java:82-371; options
DLPTextToBigQueryStreamingV2PipelineOptions.java).

One declarative spec replaces the reference's pipeline-options surface:

    spec = {
      "source": {"path": ..., "format": "csv|tsv|txt|jsonl|avro|parquet|orc",
                  "headers": [...], "streaming": false},
      "mode": "inspect" | "deid" | "reid",
      "template": <path or dict>,            # deid/inspect template
      "reid_columns": [...],                 # reid mode
      "text_columns": [...],                 # inspect mode
      "crypto_mode": "siv|ffx|inline",       # reid cipher (deid: siv)
      "surrogate_info_type": ...,            # reid envelope override
      "strict": true,                        # reid: false nulls bad tokens
      "required_columns": [...],             # null cell → error_path
      "sink": {"path": ..., "format": "parquet|csv|text",
                "partition_by_source": true},
      "error_path": ...,                     # malformed-record side output
      "num_shards": 0,                       # conv-id salt (hot keys)
    }

Batch and streaming share the same transform graph: ``run_batch`` and
``streaming.jobs.StreamingDeidJob.transformed`` both call ``apply_method``,
the one DLP method switch; streaming adds the exactly-once ledger sink, a
dead-letter leg and a checkpoint (streaming/jobs.py).
"""
from __future__ import annotations

import re
import time
from typing import Any, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.deidentify import deidentify, reidentify
from ..operators.inspect import _needs_offsets, inspect, inspect_offsets
from ..operators.skew import salted_repartition
from ..sources import files
from .config import DeidTemplate, InspectConfig


def _maybe_inspect_config(template: "str | dict") -> "InspectConfig | None":
    """Return the compiled InspectConfig when the template is a DLP inspect
    template (has inspectConfig — inspect-template.json:8-32); None for
    deid templates. Envelope/comment handling via the shared loader."""
    from .config import load_template_doc

    doc = load_template_doc(template)
    if "inspectConfig" in doc:
        return InspectConfig.from_dict(doc)
    return None

ERROR_SCHEMA_COLS = ("file_name", "transaction_timestamp", "error_message", "stack_trace")


def split_malformed(df: DataFrame, required: list[str]) -> tuple[DataFrame, DataFrame]:
    """Route rows with null required cells to an error table (the reference
    drops malformed-arity CSV rows with a warning,
    beam/ConvertCSVRecordToDLPRow.java:61-77, and appends API failures to an
    error_log table, common/DLPTransform.java:330-343 / Util.java:175-181).
    In Spark, malformed CSV/JSON rows surface as nulls under PERMISSIVE mode."""
    cond = None
    for c in required:
        this = F.col(c).isNull()
        cond = this if cond is None else (cond | this)
    bad = df.filter(cond)
    good = df.filter(~cond)
    src = (
        F.col(files.SOURCE_KEY_COL)
        if files.SOURCE_KEY_COL in df.columns
        else F.lit("unknown")
    )
    errors = bad.select(
        src.alias("file_name"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss").alias(
            "transaction_timestamp"
        ),
        F.lit("malformed record: required field null").alias("error_message"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("stack_trace"),
    )
    return good, errors


def apply_method(
    df: DataFrame,
    mode: str,
    template: "DeidTemplate | None",
    *,
    text_columns: Sequence[str] = (),
    id_columns: Sequence[str] = (),
    inspect_config: "InspectConfig | None" = None,
    reid_columns: Sequence[str] = (),
    crypto_key: "str | None" = None,
    crypto_mode: str = "siv",
    surrogate_info_type: "str | None" = None,
    strict: bool = True,
    dead_letter: bool = False,
) -> DataFrame:
    """THE DLP method switch (DLPTextToBigQueryStreamingV2.java:94-108),
    shared by ``run_batch`` and ``StreamingDeidJob.transformed``.

    - "deid": ``deidentify`` with ``template``. ``dead_letter`` adds a
      ``__dead`` column flagging rows with a null ``text_columns`` cell,
      like a malformed CSV record in the reference's reader.
    - "inspect": findings over ``text_columns`` keyed by ``id_columns``,
      with ``inspect_config`` (None = the template's detectors). A ruleSet
      that needs finding offsets (``operators.inspect._needs_offsets``:
      hotwordRule, excludeInfoTypes, excludeByHotword) runs on
      ``inspect_offsets`` and keeps its location columns; every other
      config runs on ``inspect``, which picks its own path.
    - "reid": ``reidentify`` each of ``reid_columns`` in ``crypto_mode``,
      stripping ``surrogate_info_type`` or, when None, the envelope the
      template minted for that column (an enveloped token fed raw to the
      cipher never decodes). ``dead_letter`` decodes tolerantly (``strict``
      is then ignored) and flags ``__dead`` rows: a cell that decodes to
      null, or in inline mode an envelope left in the text. Dead rows keep
      their original tokens, so the error table carries the evidence.
    """
    if mode == "deid":
        if dead_letter:
            # isNull is never null, and the lit(False) seed keeps an empty
            # text_columns well-defined: nothing is ever dead
            dead = F.lit(False)
            for c in text_columns:
                dead = dead | F.col(c).isNull()
            df = df.withColumn("__dead", dead)
        return deidentify(df, template)
    if mode == "inspect":
        ic = inspect_config
        if ic is None:
            return inspect(df, template.detectors, list(text_columns), id_columns=list(id_columns))
        return (inspect_offsets if _needs_offsets(ic.rule_sets) else inspect)(
            df,
            ic.detectors,
            list(text_columns),
            id_columns=list(id_columns),
            min_likelihood=ic.min_likelihood,
            include_quote=ic.include_quote,
            max_findings_per_item=ic.max_findings_per_item,
            rule_sets=ic.rule_sets,
        )
    if mode != "reid":
        raise ValueError(f"unknown mode {mode!r}")
    if not crypto_key:
        raise ValueError("mode='reid' requires an explicit crypto_key")
    surrogates = {
        c: surrogate_info_type or (template.surrogates.get(c) if template is not None else None)
        for c in reid_columns
    }
    if not dead_letter:
        for c, sur in surrogates.items():
            df = reidentify(df, [c], crypto_key, sur, strict, crypto_mode)
        return df
    # decode into __dec_<c> copies: the predicate reads each materialized
    # decode (a pandas UDF on the SIV paths) instead of re-running it
    dead = F.lit(False)
    for c, sur in surrogates.items():
        dec = f"__dec_{c}"
        df = reidentify(df.withColumn(dec, F.col(c)), [dec], crypto_key, sur, False, crypto_mode)
        if crypto_mode == "inline":
            residual = F.col(dec).rlike(re.escape(sur) + r"\([0-9]+\):")
            dead = dead | F.coalesce(residual, F.lit(False))
        else:
            dead = dead | (F.col(c).isNotNull() & F.col(dec).isNull())
    df = df.withColumn("__dead", dead)
    for c in surrogates:
        dec = f"__dec_{c}"
        df = df.withColumn(c, F.when(F.col("__dead"), F.col(c)).otherwise(F.col(dec))).drop(dec)
    return df


def run_batch(spark: SparkSession, spec: dict[str, Any], crypto_key: "str | None" = None) -> dict:
    """Execute a batch pipeline spec; returns row-count metrics (the
    reference's numberOfRowsRead / numberOfRowsDeidentified counters).

    ``crypto_key`` has NO default value on purpose: specs whose template
    tokenizes/hashes (or mode="reid") fail loudly without an explicit key."""
    mode = spec.get("mode", "deid")
    crypto_mode = spec.get("crypto_mode", "siv")
    if mode == "deid" and crypto_mode != "siv":
        # a deid template tokenizes with AES-SIV only (ffx and inline are
        # reid ciphers): refuse rather than silently ignore the value
        raise ValueError(f"a deid spec's crypto_mode must be 'siv', got {crypto_mode!r}")
    src = spec["source"]
    df = files.read_files(
        spark,
        src["path"],
        src["format"],
        headers=src.get("headers"),
        delimiter=src.get("delimiter"),
    )
    metrics: dict[str, int] = {}

    required = spec.get("required_columns") or []
    if required:
        df, errors = split_malformed(df, required)
        if spec.get("error_path"):
            # count THIS run's errors via observe() during the write —
            # re-reading the append-mode directory would report cumulative
            # historical rows on reruns
            err_obs = Observation()
            errors = errors.observe(err_obs, F.count(F.lit(1)).alias("n"))
            errors.write.mode("append").parquet(spec["error_path"])
            metrics["rows_error"] = int(err_obs.get["n"])

    icfg = _maybe_inspect_config(spec["template"]) if mode == "inspect" else None
    template = None
    if icfg is None and spec.get("template") is not None:
        # no default key: templates using crypto transforms raise from the
        # compiler unless the caller supplies one (plans/config._require_key)
        template = DeidTemplate.from_dict(spec["template"], crypto_key=crypto_key)
    out = apply_method(
        df,
        mode,
        template,
        text_columns=spec["text_columns"] if mode == "inspect" else (),
        id_columns=[files.SOURCE_KEY_COL] if files.SOURCE_KEY_COL in df.columns else [],
        inspect_config=icfg,
        reid_columns=spec["reid_columns"] if mode == "reid" else (),
        crypto_key=crypto_key,
        crypto_mode=crypto_mode,
        surrogate_info_type=spec.get("surrogate_info_type"),
        strict=spec.get("strict", True),
    )

    if spec.get("num_shards"):
        out = salted_repartition(out, spec.get("shard_key", files.SOURCE_KEY_COL), spec["num_shards"])

    sink = spec["sink"]
    fmt = sink.get("format", "parquet")
    # numberOfRowsDeidentified analogue: observed on the output DataFrame
    # during the write (Beam Counter semantics — this run only, not the
    # cumulative content of an append-mode sink directory)
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("n"))
    if fmt == "text":
        files.write_text_lines(out, sink["path"], delimiter=sink.get("delimiter", ","))
    elif sink.get("partition_by_source") and files.SOURCE_KEY_COL in out.columns:
        files.write_partitioned_by_key(out, sink["path"], fmt)
    else:
        out.write.mode("append").format(fmt).save(sink["path"])
    metrics["rows_written"] = int(obs.get["n"])
    return metrics
