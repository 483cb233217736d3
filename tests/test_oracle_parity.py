"""Emulates the driver's correctness gate: every queries() entry must match
its oracle_sql() on DuckDB — row count, column names, and order-insensitive
values — over the same parquet tables."""
import glob
import hashlib
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: v.decode() if isinstance(v, (bytes, bytearray)) else v)
        try:
            pdf[c] = pd.to_numeric(pdf[c])
        except (ValueError, TypeError):
            pass
        if pdf[c].dtype == "float64":
            pdf[c] = pdf[c].round(6)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, sf_dir, name):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    got = canon(q(spark, sf_dir).toPandas())
    if name not in oracles:
        assert len(got) >= 0  # rows-only check, mirrors the driver's weak path
        return
    with duck_con(sf_dir) as con:
        want = canon(con.execute(oracles[name]).df())
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column mismatch {got.columns} vs {want.columns}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=1e-6)
    # the DRIVER's actual gate is stringified equality post-canon — dtype
    # drift between dialects (DuckDB DECIMAL literals / HUGEINT sums vs
    # Spark double/long) renders '100.0' vs '100' and fails there even when
    # numerically equal; it must fail HERE first (caught live: pii_density)
    assert got.astype(str).equals(want.astype(str)), (
        f"{name}: stringified mismatch — dialect dtype drift; CAST the "
        "oracle's literals/aggregates to the Spark-side type"
    )


# sha256 of every oracle_sql() string. The oracle text changes only as a
# declared semantics change: update the pin in that change and record it in
# CHANGES.md. Refactors of the entry must leave every hash as it is.
ORACLE_SHA256 = {
    "agent_tool_join": "63155d29bc8007be40187e333b458f3215745cf66c1f75ab37c1e8a0d8daf134",
    "ann_lsh_topk": "b755f1a2a3a47e95a0e76154f0605e481e17d9e0c5a25f6dffc773bd0164ffb2",
    "chatlog_roundtrip": "ed4d07b19b8ae462916b0143662f0fac703e0a5eec5f868a984b1ae2318fbe77",
    "conv_sessions": "e97d9fc2a7af49ae3375680ebc747db23b9ad6cc8793071eaa06787dc66c85d0",
    "corpus_curate": "a09b2cbef74a971db9f09452ffd8f429e60dd69f9fcad72683c9f014bb38db85",
    "cosine_topk": "3c35570ee7478d3b93422aa908442be52e0d782381f254cdcc22a04f0ea861ab",
    "cosine_topk_arrow": "3c35570ee7478d3b93422aa908442be52e0d782381f254cdcc22a04f0ea861ab",
    "crypto_roundtrip": "cd16f2b98422e40b0c09e403e96bfa87e5e6815edf2c7ab378eb78b89b99519a",
    "crypto_roundtrip_siv": "cd16f2b98422e40b0c09e403e96bfa87e5e6815edf2c7ab378eb78b89b99519a",
    "dedup_clusters": "7d9f4667afa4a0e18fb675c2595e1791f98964aa04598149461561b2e12a3423",
    "deid_cards": "488660bba06316065d9a57e5debbaeab0e983f5bb368e7cf3f19be766bc96879",
    "deid_conditional": "877fcae09f6e13ccd7fd5aa95c5a37fa0f49f5b09078a6776f6e17f236cdc610",
    "deid_dates": "44d0f4695f7ddd94e95c12b01a35d8b66c677fc1eff7e7a900f66a7a03901520",
    "deid_text_inline": "c6a19437840e6cb8fbb52c397091d884c7f124b2f6ae747e78ffc9f0c46f83e4",
    "deid_transcripts": "163e8aa2023c7deabd23e421998b997264f9a05bae5efbe7ea5debcf49cf64a1",
    "dlp_batches": "fa37bb4e7cc709571f779942605d44d3f65fd4d09dffb41788d1b2c118268919",
    "embedding_dedup": "f0676ae4a25e5178c271f6bc8dd8dcefac4d4fd683ca94448de965fc33cb60fd",
    "exact_dedup": "3bda410c3b1058b31a852c4aa0b3483f1e5dad1c9480b726f6aaec20d893bb56",
    "fpe_roundtrip": "3a63b85546c62ba2f0774391744b915bd8e1a3640b89a36fe01aa590cc0ced75",
    "inspect_dictionary": "801de180200014474a24474e2699c71b4dc2ba08a8dc95b328fb1097737666ab",
    "inspect_findings": "178078c08ac8fea76808f60b4dd69e2bb2f3e3eb17f83998203e17424924fa58",
    "inspect_limits": "b2a0fae341e83484c7bc76342496703c8752d0cd04ab375722cf2e41b976a93c",
    "inspect_offsets": "dd836191cb4cd5fc66bb01a41605df21eefef9b4e48142c95c9375293c06017a",
    "inspect_rules": "6a0a99516f91383aeb0a3a4305de4716d5502394b43321ec5531545332c63796",
    "ivf_topk": "b755f1a2a3a47e95a0e76154f0605e481e17d9e0c5a25f6dffc773bd0164ffb2",
    "ivf_topk_indexed": "b755f1a2a3a47e95a0e76154f0605e481e17d9e0c5a25f6dffc773bd0164ffb2",
    "k_anonymity": "afbc9a8c32d8d7a367baaf3b9a8d07e9cec8a68a86e51258594bc8038d0f6150",
    "l_diversity": "ae08184da6982ec20c162d6072bd760807f463c61399c0db27f4f17a8aadc734",
    "minhash_dedup": "c746bbe807bfc95779071042e2b2c7c22c34616a05161e3540574528ee52b4c8",
    "ngram_jaccard": "219a0db791ec5125eaaa0b3e4a5fa94d7b0354642ffa088e20a091711678f8a4",
    "numerical_stats": "0601758b7431027a53cfed4abe04488be131f805ac1f4046524488e2c17f1ac3",
    "pii_density": "0e6c02b71015d315e0e6a415f20c1be81b3bdc829af86d3ec471a26758bfb482",
    "session_windows": "478df38701dc3c5acf5e46b39ffebb9f5bf868a8dd93a660aaf93a7374f4c6db",
    "sessionize": "27297673efab7c1e3dc4bf130985132a35d3c55a38171d93f4842fad44573b20",
    "simhash_dedup": "c337468b9b0db75a05ad6f896982657f26ac5250e1409d9ec75bcfe6de0e12f4",
    "sliding_infotype_hits": "215a6816753cbb6fde5f7fe5d380183eefb895c1a1488dc219c9accdb1a8b197",
    "text_metrics": "0d99d35ba1aac4d16dfe95788d385f61cdb170f05f05896083b6811a776a69ef",
    "text_tokenize_roundtrip": "bfb42ce339b442c7e20545eaecb5f8e91bf10848ee27168b0d6d965f06ab2531",
    "tool_call_hourly": "bef8b4c1b5bb346457fd542ce40f1f974ef529c92163cbd20a4fa113da43e4ba",
    "windowed_infotype_hits": "52d26a8b4d5707d38ee24b908d90b67cd2d70653983474012b3ab11eb6d13526",
}


def test_oracle_sql_text_is_pinned():
    oracles = entrymod.oracle_sql()
    assert sorted(oracles) == sorted(entrymod.queries())
    got = {k: hashlib.sha256(v.encode()).hexdigest() for k, v in oracles.items()}
    assert got == ORACLE_SHA256


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(["conv_id", "turn_idx", "text"]).issubset(df.columns)


def test_no_unbroadcast_cartesian_in_any_query_plan(spark, sf_dir):
    """100-TB guard: no driver query may plan a non-broadcast cartesian
    product (a small-side broadcast nested-loop — cosine_topk's deliberate
    query-side broadcast — is fine; a CartesianProduct of two large sides
    is never fine)."""
    for name, fn in entrymod.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan[:1500]}"


def test_scans_prune_columns(spark, sf_dir):
    """Column pruning must reach the parquet scan: a query that touches only
    (doc_id, text) may not read the documents table's other columns."""
    plan = (
        entrymod.queries()["text_metrics"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan[:800]
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, cols
