"""Re-identification risk analysis (operators/risk.py): k-anonymity,
l-diversity, numerical stats against hand-computed oracles,
plus the deid-decision loop (generalize until k >= threshold)."""
import pytest
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.functions import transforms
from dlp_dataflow_deidentification_spark.operators import risk


@pytest.fixture(scope="module")
def people(spark):
    rows = [
        # (zip, age_band, disease)
        ("94110", "20-29", "flu"),
        ("94110", "20-29", "flu"),
        ("94110", "20-29", "cold"),
        ("94110", "30-39", "flu"),
        ("02139", "20-29", "measles"),
        ("02139", "20-29", "measles"),
    ]
    return spark.createDataFrame(rows, "zip string, age string, disease string")


def test_k_anonymity_class_sizes(people):
    got = {(r.zip, r.age): r.class_size for r in risk.k_anonymity(people, ["zip", "age"]).collect()}
    assert got == {
        ("94110", "20-29"): 3,
        ("94110", "30-39"): 1,
        ("02139", "20-29"): 2,
    }


def test_k_anonymity_histogram(people):
    got = {r.class_size: (r.n_classes, r.n_records)
           for r in risk.k_anonymity_histogram(people, ["zip", "age"]).collect()}
    assert got == {1: (1, 1), 2: (1, 2), 3: (1, 3)}


def test_l_diversity(people):
    got = {(r.zip, r.age): (r.class_size, r.l_distinct_sensitive)
           for r in risk.l_diversity(people, ["zip", "age"], "disease").collect()}
    # the measles class has k=2 but l=1: k alone hides the disclosure
    assert got[("02139", "20-29")] == (2, 1)
    assert got[("94110", "20-29")] == (3, 2)


def test_numerical_stats_exact_quantiles(spark):
    df = spark.createDataFrame([(v,) for v in [1, 2, 3, 4, 100]], "x bigint")
    r = risk.numerical_stats(df, "x").first()
    assert (r.min_value, r.max_value, r.n_records) == (1, 100, 5)
    assert (r.p25, r.p50, r.p75) == (2.0, 3.0, 4.0)  # exact, not approx


def test_generalization_until_k(spark, people):
    """The deid-decision loop the metrics exist for: full zip gives
    min-k=1; bucketing (generalizing) the zip to its prefix lifts min-k —
    risk drives the bucketingConfig choice."""
    raw_min_k = risk.k_anonymity(people, ["zip", "age"]).agg(
        F.min("class_size")
    ).first()[0]
    assert raw_min_k == 1
    # coarsen BOTH quasi-identifiers — generalizing one leaves the other's
    # singleton classes intact (the 30-39 record keeps k=1 on zip alone)
    generalized = people.withColumn("zip", F.substring("zip", 1, 1)).withColumn(
        "age", F.lit("adult")
    )
    gen_min_k = risk.k_anonymity(generalized, ["zip", "age"]).agg(
        F.min("class_size")
    ).first()[0]
    assert gen_min_k == 2


def test_risk_plans_shuffle_only_quasi_ids(spark, people, tmp_path):
    # project-early: the sensitive payload column must be pruned out of the
    # SCAN for k-anonymity (a LocalRelation embeds its full schema, so the
    # assertion needs a real file scan's ReadSchema)
    p = str(tmp_path / "people")
    people.write.parquet(p)
    plan = (
        risk.k_anonymity(spark.read.parquet(p), ["zip", "age"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "disease" not in plan and "ReadSchema" in plan
