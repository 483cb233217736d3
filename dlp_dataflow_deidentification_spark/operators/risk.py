"""Re-identification risk analysis — DLP's RiskAnalysisJobConfig metrics
computed natively (k-anonymity, l-diversity, numerical stats).

The reference pipeline stops at inspect/deid (its DLPTransform switch,
common/DLPTransform.java:110-181); its users run exactly these DLP risk
metrics on the de-identified table to DECIDE the generalization level —
"is bucketingConfig coarse enough that every quasi-identifier class has
k ≥ threshold?" — before release. In-engine they are plain hash
aggregations: one shuffle on the quasi-identifier key, partial
(map-side) aggregation free from Catalyst, no Python anywhere.

Scale notes: k-anonymity/l-diversity shuffle ONLY the quasi-identifier
columns + per-class counters, never row payloads (project early); the
histogram form reduces further to O(distinct class sizes). A skewed giant
equivalence class is exactly the SAFE case (huge k), so skew hurts
neither correctness nor—meaningfully—the single count aggregation.
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def k_anonymity(df: DataFrame, quasi_ids: Sequence[str]) -> DataFrame:
    """Equivalence classes over the quasi-identifier tuple with their sizes
    (DLP KAnonymityResult.KAnonymityEquivalenceClass: quasiIdsValues +
    equivalenceClassSize). A record's k IS its class size."""
    if not quasi_ids:
        raise ValueError("k_anonymity needs at least one quasi-identifier column")
    return df.groupBy(*quasi_ids).agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )


def k_anonymity_histogram(df: DataFrame, quasi_ids: Sequence[str]) -> DataFrame:
    """DLP's reported shape: per class SIZE, how many classes and records
    have it (KAnonymityHistogramBucket). Two aggregations; output is
    O(distinct sizes) — tiny at any scale."""
    classes = k_anonymity(df, quasi_ids)
    return classes.groupBy("class_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_records"),
    )


def l_diversity(
    df: DataFrame, quasi_ids: Sequence[str], sensitive: "str | Column"
) -> DataFrame:
    """Per equivalence class: size + number of DISTINCT sensitive values
    (LDiversityResult.LDiversityEquivalenceClass; a class with l=1 lets an
    attacker who locates a target in it learn the sensitive value exactly,
    whatever k is). countDistinct is exact — the class count at risk is a
    compliance number, not an estimate."""
    if not quasi_ids:
        raise ValueError("l_diversity needs at least one quasi-identifier column")
    s = F.col(sensitive) if isinstance(sensitive, str) else sensitive
    return df.groupBy(*quasi_ids).agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.countDistinct(s).cast("long").alias("l_distinct_sensitive"),
    )


def numerical_stats(
    df: DataFrame,
    column: str,
    by: Sequence[str] = (),
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """NumericalStatsConfig: min / max / exact interpolated quantiles
    (DLP reports min, max, and 99 quantile boundaries; this takes the
    requested subset), optionally per group. ``F.percentile`` is the EXACT
    sort-based aggregate (not approx) so results are reproducible and
    oracle-checkable."""
    c = F.col(column)
    aggs = [
        F.min(c).alias("min_value"),
        F.max(c).alias("max_value"),
        F.count(F.lit(1)).cast("long").alias("n_records"),
    ]
    for q in quantiles:
        aggs.append(F.percentile(c, F.lit(q)).alias(f"p{int(round(q * 100)):02d}"))
    if by:
        return df.groupBy(*by).agg(*aggs)
    return df.agg(*aggs)
