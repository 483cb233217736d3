"""Primitive de-identification transforms as native Spark Column expressions.

Re-implements the DLP primitive transformations the reference invokes remotely
(template: /root/reference/src/main/resources/deid-template.json; call site
/root/reference/src/main/java/com/google/swarm/tokenization/beam/DLPDeidentifyText.java:325-382).

Design rule: every transform that Spark SQL can express is a *native*
expression here (JVM-side, whole-stage codegen, no Python in the hot path).
Arrow UDFs are kept for what it cannot express: the ciphers (AES-SIV in
``crypto.py``, FF1 in ``fpe.py``), per-finding transforms
(``findings.py``), the offset-reporting scanner (``operators/inspect.py``)
and the MinHash stage (``operators/dedup.py``).

Transforms:
  - replace_with_infotype  (deid-template.json:188-211, replaceWithInfoTypeConfig)
  - redact / replace_value (DLP redactConfig / replaceConfig)
  - character_mask         (deid-template.json:34-45, characterMaskConfig)
  - crypto_hash            (deid-template.json:17-27, cryptoHashConfig)
  - bucketing (numeric + string)  (deid-template.json:52-181, bucketingConfig)
  - fixed_size_bucketing   (DLP fixedSizeBucketingConfig)
  - date_shift             (DLP dateShiftConfig, deterministic per context key)
"""
from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .infotypes import InfoType, resolve

# ---------------------------------------------------------------------------
# infoType transformations over free text
# ---------------------------------------------------------------------------


def replace_with_infotype(col: Column, detectors: Iterable["str | InfoType"]) -> Column:
    """Replace every detector match in a free-text cell with ``[INFO_TYPE_NAME]``.

    Engine-defined overlap rule (same rule in the Python + DuckDB oracles):
    detectors apply sequentially in the given order, each as a global
    leftmost-first replacement. JVM-side regexp_replace chain — zero Python.
    """
    out = col
    for d in detectors:
        it = resolve(d)
        out = F.regexp_replace(out, it.pattern, f"[{it.name}]")
    return out


def redact(col: Column, detectors: Iterable["str | InfoType"]) -> Column:
    """Delete every detector match (DLP redactConfig)."""
    out = col
    for d in detectors:
        out = F.regexp_replace(out, resolve(d).pattern, "")
    return out


def replace_value(col: Column, detectors: Iterable["str | InfoType"], new_value: str) -> Column:
    """Replace every detector match with a fixed value (DLP replaceConfig)."""
    out = col
    for d in detectors:
        out = F.regexp_replace(out, resolve(d).pattern, new_value)
    return out


# ---------------------------------------------------------------------------
# characterMaskConfig
# ---------------------------------------------------------------------------


def character_mask(
    col: Column,
    masking_character: str = "*",
    number_to_mask: int = 0,
    reverse_order: bool = False,
    characters_to_skip: str = "",
) -> Column:
    """Mask characters with ``masking_character`` (DLP characterMaskConfig).

    ``number_to_mask`` = how many *maskable* (non-skipped) characters to mask
    from the front (or the back when ``reverse_order``); 0 means mask all
    maskable characters. Skipped characters are preserved and do not count.

    Implementation stays JVM-native: when there are no skip characters a
    single substring/repeat expression suffices; with skip characters the
    cut position is found ARITHMETICALLY — one anchored regex
    ``^(?:[skip]*[^skip]){N}`` matches the shortest prefix containing
    exactly N maskable characters, everything maskable inside that prefix
    is masked with one regexp_replace, and the suffix passes through
    verbatim. All O(len) per cell. (An earlier higher-order aggregate
    folded the output one character at a time — a string concat per
    character, O(len²) bytes copied, quadratic on long free-text cells; an
    even earlier chained-regexp form had to add the mask character itself
    to the skip class to avoid re-masking its own output, which wrongly
    SKIPPED pre-existing mask characters in the input. The prefix regex
    counts maskable characters exactly, including literal mask chars in
    the data.)
    """
    s = col.cast("string")
    m = masking_character
    if number_to_mask <= 0:
        # mask everything maskable
        if not characters_to_skip:
            return _repeat_mask(s, m)
        klass = _char_class(characters_to_skip)
        return F.regexp_replace(s, f"[^{klass}]", _java_repl_escape(m))

    if not characters_to_skip:
        n = number_to_mask
        if reverse_order:
            keep = F.greatest(F.length(s) - F.lit(n), F.lit(0))
            return F.concat(
                F.substring(s, 1, 2147483647).substr(F.lit(1), keep),
                _mask_lit(F.least(F.lit(n), F.length(s)), m),
            )
        return F.concat(
            _mask_lit(F.least(F.lit(n), F.length(s)), m),
            F.substring(s, n + 1, 2147483647),
        )

    # skip characters present: arithmetic cut. The anchored prefix regex
    # consumes (any skips + one maskable) exactly number_to_mask times, so
    # its match length IS the cut position; no match = fewer than N
    # maskable characters in the cell → mask the whole cell.
    klass = _char_class(characters_to_skip)
    work = F.reverse(s) if reverse_order else s
    prefix_pat = f"^(?:[{klass}]*[^{klass}]){{{number_to_mask}}}"
    plen = F.length(F.regexp_extract(work, prefix_pat, 0))
    plen = F.when(plen > 0, plen).otherwise(F.length(work))
    masked = F.concat(
        F.regexp_replace(
            work.substr(F.lit(1), plen), f"[^{klass}]", _java_repl_escape(m)
        ),
        work.substr(plen + F.lit(1), F.length(work)),
    )
    return F.reverse(masked) if reverse_order else masked


def _repeat_mask(s: Column, m: str) -> Column:
    return F.rpad(F.lit(""), F.length(s), m)


def _mask_lit(n: Column, m: str) -> Column:
    return F.rpad(F.lit(""), n, m)


def _char_class(chars: str) -> str:
    # escape for inside a regex character class
    return "".join("\\" + c if c in r"\^]-[" else c for c in sorted(set(chars)))


def _java_repl_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("$", "\\$")


# ---------------------------------------------------------------------------
# cryptoHashConfig — irreversible keyed surrogate
# ---------------------------------------------------------------------------


def crypto_hash(col: Column, key: str) -> Column:
    """Irreversible keyed deterministic surrogate of the whole cell.

    The reference wraps an HMAC-SHA-256 under a KMS key
    (deid-template.json:17-27). In-process we use the keyed-prefix SHA-256
    construction ``sha256(key || value)`` (hex) — same contract (deterministic,
    irreversible, keyed), expressible natively in Spark AND in the DuckDB
    oracle. For strict HMAC parity use crypto.crypto_hash_hmac instead.
    """
    s = col.cast("string")
    return F.when(s.isNull(), F.lit(None).cast("string")).otherwise(
        F.sha2(F.concat(F.lit(key), s), 256)
    )


# ---------------------------------------------------------------------------
# bucketingConfig
# ---------------------------------------------------------------------------


def bucketing(
    col: Column,
    buckets: Sequence[tuple[object, object, str]],
    numeric: bool = True,
) -> Column:
    """Range-bucket a value (DLP bucketingConfig, deid-template.json:52-181).

    ``buckets`` = [(min, max, replacement)] with min inclusive / max exclusive
    (DLP semantics); ``min``/``max`` may each be None for the proto's
    open-ended first/last buckets. Numeric buckets compare as double; string
    buckets compare lexicographically. Values outside every bucket pass
    through stringified. Pure when/otherwise chain → CASE WHEN in the plan,
    codegen'd.
    """
    v = col.cast("double") if numeric else col.cast("string")
    expr: Column | None = None
    for lo, hi, repl in buckets:
        parts = []
        if lo is not None:
            parts.append(v >= F.lit(lo))
        if hi is not None:
            parts.append(v < F.lit(hi))
        cond = parts[0] if len(parts) == 1 else (parts[0] & parts[1])
        expr = F.when(cond, F.lit(repl)) if expr is None else expr.when(cond, F.lit(repl))
    if expr is None:
        return col.cast("string")
    return expr.otherwise(col.cast("string"))


def fixed_size_bucketing(col: Column, lower: float, upper: float, size: float) -> Column:
    """DLP fixedSizeBucketingConfig: clamp + fixed-width buckets labeled 'lo-hi'."""
    v = col.cast("double")
    lo, hi, w = F.lit(float(lower)), F.lit(float(upper)), float(size)
    start = F.lit(float(lower)) + F.floor((v - lo) / F.lit(w)) * F.lit(w)
    label = F.concat(start.cast("string"), F.lit("-"), (start + F.lit(w)).cast("string"))
    return (
        F.when(v < lo, F.concat(F.lit("<"), lo.cast("string")))
        .when(v >= hi, F.concat(F.lit(">="), hi.cast("string")))
        .otherwise(label)
    )


# ---------------------------------------------------------------------------
# dateShiftConfig — deterministic per-context-key shift
# ---------------------------------------------------------------------------


def time_part(col: Column, part: str = "YEAR") -> Column:
    """DLP timePartConfig: reduce a date/timestamp to one part (YEAR, MONTH,
    DAY_OF_MONTH, DAY_OF_WEEK, WEEK_OF_YEAR, HOUR_OF_DAY) — generalization
    that discards the rest of the timestamp."""
    t = col.cast("timestamp")
    parts = {
        "YEAR": F.year,
        "MONTH": F.month,
        "DAY_OF_MONTH": F.dayofmonth,
        "DAY_OF_WEEK": F.dayofweek,
        "WEEK_OF_YEAR": F.weekofyear,
        "HOUR_OF_DAY": F.hour,
    }
    try:
        fn = parts[part]
    except KeyError:
        raise ValueError(f"unsupported timePart {part!r}; one of {sorted(parts)}") from None
    return fn(t).cast("string")


def date_shift(
    col: Column,
    context: Column,
    key: str,
    max_days: int = 100,
    min_days: "int | None" = None,
    hash_basis: str = "xxhash64",
) -> Column:
    """Shift a date/timestamp by a deterministic per-context number of days
    uniformly in [min_days, max_days] (DLP dateShiftConfig with cryptoKey
    context; lowerBoundDays/upperBoundDays are both honored — e.g.
    min_days=0 gives DLP's valid forward-only shift). ``min_days`` defaults
    to -max_days (the symmetric legacy behavior).

    ``hash_basis`` picks the keyed PRF that derives the shift:
      - ``"xxhash64"`` (default): Spark's codegen'd 64-bit hash — fastest.
      - ``"md5"``: top-60-bits-of-md5, portable across engines (DuckDB:
        ``CAST(CAST('0x'||substr(md5(k||ctx),1,15) AS UBIGINT) AS BIGINT)``)
        so the full shifted value is oracle-checkable outside Spark.
    Both are uniform over the span; neither changes the DLP semantics
    (deterministic per (key, context), bounded shift)."""
    lower = -max_days if min_days is None else min_days
    if lower > max_days:
        raise ValueError(f"min_days ({lower}) must be <= max_days ({max_days})")
    span = max_days - lower + 1
    keyed = F.concat(F.lit(key), context.cast("string"))
    if hash_basis == "xxhash64":
        h = F.xxhash64(keyed)
    elif hash_basis == "md5":
        # 60-bit value: always non-negative, so pmod == % on both engines
        h = F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', got {hash_basis!r}")
    days = F.pmod(h, F.lit(span)) + F.lit(lower)
    return F.timestamp_add("DAY", days.cast("int"), col.cast("timestamp"))


def replace_dictionary(
    col: Column,
    words: "list[str]",
    key: str = "",
    hash_basis: str = "xxhash64",
) -> Column:
    """DLP ``replaceDictionaryConfig``: replace the value with an item from
    the template's word list (the public DeidentifyConfig primitive; absent
    from the reference's sample templates but part of the surface its users
    configure). DLP itself picks a word uniformly at RANDOM per cell; this
    engine picks DETERMINISTICALLY — keyed hash of the value, mod word
    count — a documented deviation (same stance as date_shift's
    deterministic shift) so output is stable across the exactly-once sink's
    replays and oracle-checkable.

    ``hash_basis`` as in date_shift: "xxhash64" (codegen'd, default) or
    "md5" (60-bit, portable to DuckDB:
    ``words[1 + CAST(CAST('0x'||substr(md5(k||v),1,15) AS UBIGINT) AS
    BIGINT) % n]``). NULL stays NULL. Native expression — one
    WholeStageCodegen span, no Python."""
    if not words:
        raise ValueError("replace_dictionary needs a non-empty word list")
    keyed = F.concat(F.lit(key), col.cast("string"))
    if hash_basis == "xxhash64":
        h = F.xxhash64(keyed)
    elif hash_basis == "md5":
        h = F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', got {hash_basis!r}")
    idx = F.pmod(h, F.lit(len(words))) + F.lit(1)
    # word list is a small template literal: a driver-side array literal is
    # fine (broadcast with the plan, not a py4j-per-row cost)
    picked = F.element_at(F.array(*[F.lit(w) for w in words]), idx.cast("int"))
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(picked)
