"""DEID / REID record operators.

Spark-first re-expression of the reference's DLPTransform DEID/REID paths
(/root/reference/src/main/java/com/google/swarm/tokenization/common/DLPTransform.java:110-181,
remote call beam/DLPDeidentifyText.java:325-382; REID beam/DLPReidentifyText.java:323-381).
The reference shards rows, buffers them in keyed state, and ships ≤524,000-byte
micro-tables to the DLP service; in-process none of that is needed — each
transform is a native Column expression applied in one narrow projection, so
the whole DEID stage is a single WholeStageCodegen span with no shuffle.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.config import DeidTemplate


def deidentify(df: DataFrame, template: DeidTemplate) -> DataFrame:
    """Apply a compiled DeidTemplate; schema-preserving (transformed columns
    become strings, like the reference's all-STRING BigQuery output —
    DLPTextToBigQueryStreaming.java:845-846).

    Record-level semantics (public DLP RecordTransformations):
    - ``recordSuppressions``: rows matching ANY suppression condition are
      dropped, evaluated on ORIGINAL values (suppressed rows never reach the
      field transformations — same as the service, which discards them
      before transforming). A condition referencing a column absent from
      ``df`` reads NULL → no match (EXISTS is then false).
    - per-transformation ``condition``: the transform applies only where the
      condition holds; other rows keep their current value. Conditions read
      PRE-TRANSFORMATION values — snapshots taken before the first rewrite —
      so a condition on a field an earlier transformation already rewrote
      still sees the original (DLP evaluates conditions against the input
      record). Everything stays one narrow native projection + one filter:
      no shuffle, no Python.
    """
    cols = set(df.columns)
    out = df

    def _absent_null(name: str) -> Column:
        return F.lit(None) if name not in cols else out[name]

    # 1. record suppressions, on original values, before any transform
    for sup in template.suppressions:
        pred = F.coalesce(sup.build(_absent_null), F.lit(False))
        out = out.filter(~pred)

    # 2. snapshot originals that per-transform conditions read
    cond_fields: set[str] = set()
    for ft in template.transformations:
        if ft.condition is not None:
            cond_fields |= ft.condition.fields
    snap = {n: f"__orig_{n}__" for n in sorted(cond_fields) if n in cols}
    for name, alias in snap.items():
        out = out.withColumn(alias, out[name])

    def _resolve(name: str) -> Column:
        if name in snap:
            return F.col(snap[name])
        if name in cols:
            return F.col(name)
        return F.lit(None)

    # 3. field transformations, in template order; fields=None (top-level
    # infoTypeTransformations — unstructured-ContentItem template shape)
    # targets every string column, like the service applied to a table
    string_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    for ft in template.transformations:
        for name in ft.fields if ft.fields is not None else string_cols:
            if name not in cols:
                continue
            new = ft.builder(out[name])
            if ft.condition is not None:
                pred = F.coalesce(ft.condition.build(_resolve), F.lit(False))
                orig = out[name]
                # a gated column holds transformed AND original values; if
                # their types differ, settle both on string (the reference's
                # all-STRING output) — otherwise ANSI coercion picks the
                # ORIGINAL numeric type and casting the replacement string
                # into it throws at runtime
                new_type = out.select(new.alias("_t")).schema[0].dataType
                if new_type != out.schema[name].dataType:
                    new, orig = new.cast("string"), orig.cast("string")
                new = F.when(pred, new).otherwise(orig)
            out = out.withColumn(name, new)
    if snap:
        out = out.drop(*snap.values())
    return out


def reidentify(
    df: DataFrame,
    columns: list[str],
    key: str,
    surrogate_info_type: str | None = None,
    strict: bool = True,
    mode: str = "siv",
    alphabet: str = "NUMERIC",
    context: str | None = None,
) -> DataFrame:
    """Reverse deterministic tokenization on selected columns (reference REID:
    re-identify-config.config:8-27; output table suffix `_re_id`,
    common/DLPTransform.java:196-197). ``strict=False`` nulls corrupt tokens
    instead of failing (pair with plans.pipeline.split_malformed for the
    error-table side output) — honored on every cipher path. ``mode``
    names the cipher that minted the tokens: "siv" (the default) for the
    AES-SIV column tokens every cryptoDeterministicConfig compiles to,
    "ffx" (with ``alphabet``/``context`` matching the deid template's
    cryptoReplaceFfxFpeConfig) for format-preserving FF1 tokens, and
    "inline" for free text whose per-finding SIV tokens sit in
    ``surrogate_info_type(len):token`` envelopes (functions/findings.py;
    ``strict=False`` leaves a corrupt envelope in the text)."""
    if mode not in ("siv", "ffx", "inline"):
        raise ValueError(f"mode must be 'siv', 'ffx', or 'inline', got {mode!r}")
    if mode == "inline" and not surrogate_info_type:
        raise ValueError(
            "mode='inline' needs a surrogate_info_type — inline envelopes "
            "are unfindable without the name"
        )
    out = df
    for name in columns:
        if mode in ("siv", "inline"):
            from ..functions import crypto, findings
            from ..plans.config import derive_siv_key

            dec = findings.reidentify_text if mode == "inline" else crypto.siv_reidentify
            col = dec(out[name], derive_siv_key(key), surrogate_info_type, strict)
        else:
            from ..functions import fpe

            col = fpe.ff1_reidentify(
                out[name],
                fpe.derive_fpe_key(key),
                alphabet,
                context=out[context] if context else None,
                surrogate_info_type=surrogate_info_type,
                strict=strict,
            )
        out = out.withColumn(name, col)
    return out
