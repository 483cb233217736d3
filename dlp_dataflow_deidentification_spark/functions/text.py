"""Text-analysis functions for training-data pipelines.

All native Spark Column expressions (JVM, codegen): token counting, quality
scoring, n-gram-heuristic language ID, document fingerprinting. Each has a
DuckDB-expressible definition so the driver's oracle can verify values.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small per-language stopword dictionaries for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "para", "que"],
}


def token_count(col: Column) -> Column:
    """Whitespace token count (empty string → 0)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword count: word pieces + digits + punctuation as separate
    tokens (regex segmentation, a cheap stand-in for a real tokenizer)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), F.lit(0)))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = n - F.length(F.regexp_replace(col, r"[^A-Za-z0-9\s]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_count(col: Column, words: list[str]) -> Column:
    pat = r"\b(?:" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pat), F.lit(0)))


def _lang_best(col: Column) -> Column:
    """Per-language stopword hits as an argmax struct: array_max on structs
    compares fields in order, so max hits wins and the larger lang code
    breaks ties."""
    scores = [
        F.struct(
            stopword_count(col, ws).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in sorted(LANG_STOPWORDS.items())
    ]
    return F.array_max(F.array(*scores))


def metric_components(col: Column) -> Column:
    """The shared metric building blocks as ONE struct expression, so a
    caller can materialize each regex/split pass exactly once. The naive
    composition (quality + lang + token_count as sibling columns)
    recomputes token_count three times and punct_ratio twice per row:
    every repeat sits inside a CASE WHEN / least / greatest branch, and
    Spark's codegen subexpression elimination skips conditionally-evaluated
    subtrees (measured: the single-projection form burned 60+ CPU-seconds
    on 50k docs; the materialized form ~8). Fields: toks (int), sw (en
    stopword hits), punct (unrounded ratio), best (lang argmax struct).
    Compose the metrics from it with ``quality_from`` and ``lang_from``."""
    return F.struct(
        token_count(col).alias("toks"),
        stopword_count(col, LANG_STOPWORDS["en"]).alias("sw"),
        punct_ratio(col).alias("punct"),
        _lang_best(col).alias("best"),
    )


def quality_from(m: Column) -> Column:
    """Deterministic [0,1] quality heuristic over materialized components:
    length band + stopword presence - punctuation excess (common
    corpus-filter features: length, punct ratio, stopword ratio)."""
    toks = m["toks"].cast("double")
    sw = m["sw"].cast("double")
    length_term = F.least(toks / F.lit(64.0), F.lit(1.0)) * F.lit(0.4)
    stop_term = (
        F.least(sw / F.greatest(toks, F.lit(1.0)) * F.lit(4.0), F.lit(1.0)) * F.lit(0.3)
    )
    punct_term = (
        F.lit(1.0) - F.least(m["punct"] * F.lit(5.0), F.lit(1.0))
    ) * F.lit(0.3)
    return F.round(length_term + stop_term + punct_term, 6)


def lang_from(m: Column) -> Column:
    """Stopword-dictionary language ID over materialized components: the
    argmax language of per-language stopword hits, 'und' when no hits."""
    best = m["best"]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def with_metric_struct(df, text_col: str = "text", name: str = "__m"):
    """Materialize ``metric_components`` BEHIND a Generate (explode of a
    1-element array): downstream filters on quality/lang/token thresholds
    cannot be pushed through a Generate, so predicate pushdown cannot
    re-inline the regex passes into a Filter below the projection (which
    would compute every component twice — the known pushdown re-inline
    trap). Row set is unchanged (the array is always 1 element)."""
    m = metric_components(F.col(text_col))
    return df.select("*", F.explode(F.array(m)).alias(name))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased text —
    the exact-dedup key. (Fuzzy fingerprinting = operators.dedup.simhash_df.)"""
    return F.md5(F.trim(F.lower(F.regexp_replace(col, r"\s+", " "))))
