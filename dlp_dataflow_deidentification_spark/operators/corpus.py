"""Composed corpus-curation pipeline for training data.

Chains the text-analysis functions and dedup operators into the standard
pretraining-corpus pass: quality/language filter → exact dedup → (optional)
near-dup removal → PII de-identification. Each stage is a narrow native
projection or a single hash-aggregate; the whole filter+dedup+deid pass is
two shuffles (dedup groupBy + optional LSH join) regardless of corpus size.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..plans.config import DeidTemplate
from .dedup import dedup_clusters, exact_dedup, minhash_dedup_pairs
from .deidentify import deidentify


def curate(
    df: DataFrame,
    template: DeidTemplate | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    min_tokens: int = 8,
    languages: tuple = ("en",),
    near_dup_threshold: float | None = None,
    near_dup_mode: str = "pairwise",
) -> DataFrame:
    """Filter + dedup (+ deid) a document corpus.

    Returns surviving rows with quality metadata columns attached:
    ``quality``, ``lang_pred``, ``n_tokens``. Winners of duplicate groups are
    deterministic (smallest id), so the result is replay-stable.
    """
    # metric components materialized once per row behind a Generate barrier:
    # the previous sibling withColumns recomputed token_count/punct inside
    # CASE branches (exempt from subexpression elimination), and predicate
    # pushdown re-inlined the full quality/lang expressions into the filter
    # BELOW the projection — every regex pass ran twice more. Values are
    # bit-identical (same expressions over the same inputs).
    m = F.col("__m")
    scored = (
        T.with_metric_struct(df, text_col)
        .select(
            "*",
            T.quality_from(m).alias("quality"),
            T.lang_from(m).alias("lang_pred"),
            m["toks"].cast("long").alias("n_tokens"),
        )
        .drop("__m")
    )

    kept = scored.filter(
        (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("lang_pred").isin(*languages))
    )
    # the survivor set feeds BOTH the dedup winner aggregation and the join
    # back; cache it once (persist keeps lineage: fault-tolerant at scale,
    # and lazy — no job triggered at operator-construction time) so the
    # quality/lang regex scoring does not run per consumer
    kept = kept.persist()

    # exact dedup: keep the smallest id per normalized text
    winners = exact_dedup(kept, text_col, id_col).select(id_col)
    kept = kept.join(winners, id_col, "left_semi")

    if near_dup_threshold is not None:
        # production dedup shape (LSH candidates + EXACT Jaccard verify):
        # near_dup_threshold is a true Jaccard floor, not a
        # signature-agreement estimate
        pairs = minhash_dedup_pairs(
            kept, text_col, id_col, threshold=near_dup_threshold
        )
        if near_dup_mode == "cluster":
            # principled keep-one-per-COMPONENT: transitive chains collapse
            # to the smallest id of the whole cluster (a node that is the
            # smaller side of every one of its pairs still loses if its
            # component contains a smaller doc elsewhere)
            losers = (
                dedup_clusters(pairs)
                .filter(F.col("doc_id") != F.col("cluster_rep"))
                .select(F.col("doc_id").alias(id_col))
            )
        elif near_dup_mode == "pairwise":
            # drop the larger id of each near-dup pair (cheaper: no
            # component iteration; exact only when dup sets are pairwise)
            losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        else:
            raise ValueError(
                f"near_dup_mode must be 'pairwise' or 'cluster', got {near_dup_mode!r}"
            )
        kept = kept.join(losers, id_col, "left_anti")

    if template is not None:
        kept = deidentify(kept, template)
    return kept
