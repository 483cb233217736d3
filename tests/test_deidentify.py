"""DEID/REID/INSPECT operator tests against a pure-Python oracle.

Mirrors the reference's CI assertions (count thresholds,
/root/reference/.github/workflows/dlp-pipelines.yml:215-227) but stronger:
row-for-row text equality under stable (conv_id, turn_idx) ordering."""
import os
import re

import pytest
from pyspark.sql import functions as F

import dlp_dataflow_deidentification_spark as dds
from dlp_dataflow_deidentification_spark.functions import crypto
from dlp_dataflow_deidentification_spark.plans.config import derive_siv_key
from dlp_dataflow_deidentification_spark.sources.transcripts import load_transcripts

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "0123456789abcdef"


@pytest.fixture(scope="module")
def template():
    return dds.DeidTemplate.from_file(os.path.join(HERE, "configs/deid_transcripts.json"), crypto_key=KEY)


def python_oracle_deid(text: str, detectors) -> str:
    out = text
    for it in detectors:
        out = re.sub(it.pattern, f"[{it.name}]", out)
    return out


def test_template_parses_reference_shaped_json(template):
    assert len(template.transformations) == 1
    assert template.transformations[0].kind == "replaceWithInfoType"
    assert [d.name for d in template.detectors] == [
        "EMAIL_ADDRESS",
        "IBAN_CODE",
        "CREDIT_CARD_NUMBER",
        "US_SOCIAL_SECURITY_NUMBER",
        "PHONE_NUMBER",
        "ONLINE_USER_ID",
    ]


def test_parses_actual_reference_template():
    # config-shape compatibility with the reference's own template file
    ref = "/root/reference/src/main/resources/deid-template.json"
    if not os.path.exists(ref):
        pytest.skip("reference not mounted")
    t = dds.DeidTemplate.from_file(ref, crypto_key=KEY)
    kinds = sorted(ft.kind for ft in t.transformations)
    assert kinds == [
        "bucketingConfig",
        "bucketingConfig",
        "characterMaskConfig",
        "cryptoDeterministicConfig",
        "cryptoHashConfig",
        "replaceWithInfoType",
    ]


def test_deidentify_rowwise_equals_python_oracle(spark, sf_dir, template):
    tdf = load_transcripts(spark, sf_dir)
    got = (
        dds.deidentify(tdf, template)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    src = tdf.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert len(got) == len(src) > 500
    for g, s in zip(got, src):
        assert (g.conv_id, g.turn_idx) == (s.conv_id, s.turn_idx)
        assert g.text == python_oracle_deid(s.text, template.detectors)
    # schema preserved
    assert dds.deidentify(tdf, template).columns == tdf.columns


def test_inspect_native_matches_python_oracle(spark, sf_dir, template):
    tdf = load_transcripts(spark, sf_dir)
    dets = template.detectors
    got = (
        dds.inspect(tdf, dets, ["text"], id_columns=["conv_id", "turn_idx"])
        .groupBy("info_type_name")
        .count()
        .collect()
    )
    got = {r.info_type_name: r["count"] for r in got}
    want: dict[str, int] = {}
    for r in tdf.select("text").collect():
        for it in dets:
            want[it.name] = want.get(it.name, 0) + len(re.findall(it.pattern, r.text))
    assert {k: v for k, v in want.items() if v} == got
    assert got.get("EMAIL_ADDRESS", 0) > 50  # CI-threshold analogue


def test_inspect_offsets_schema_and_values(spark, sf_dir, template):
    tdf = load_transcripts(spark, sf_dir).limit(200)
    f = dds.inspect_offsets(tdf, template.detectors, ["text"], id_columns=["conv_id", "turn_idx"])
    rows = f.collect()
    assert rows, "expected findings"
    by_key = {}
    for r in tdf.collect():
        by_key[(r.conv_id, r.turn_idx)] = r.text
    for r in rows:
        text = by_key[(r.conv_id, r.turn_idx)]
        assert text[r.location_start : r.location_end] == r.quote
        assert r.likelihood == "LIKELY"
        assert r.field_id == "text"


def test_reidentify_roundtrip_on_column(spark):
    df = spark.createDataFrame(
        [("c1", "Alice Smith"), ("c2", "Bob Jones"), ("c3", "Alice Smith")],
        "id string, holder_name string",
    )
    enc = df.withColumn(
        "holder_name", crypto.siv_tokenize(F.col("holder_name"), derive_siv_key(KEY))
    )
    back = dds.reidentify(enc, ["holder_name"], KEY)
    assert sorted((r.id, r.holder_name) for r in back.collect()) == sorted(
        (r.id, r.holder_name) for r in df.collect()
    )


def test_cards_template_reid_roundtrip(spark, sf_dir):
    """Reference-free twin of test_reference_template_reid_roundtrip: the
    template-compiled cryptoDeterministicConfig columns of
    configs/deid_cards.json re-identify through reidentify's default mode."""
    import __spark_entry__ as entry

    cards = entry._cards(spark, sf_dir)
    t = dds.DeidTemplate.from_file(os.path.join(HERE, "configs/deid_cards.json"), crypto_key=KEY)
    cols = ["holder_name", "card_number"]
    enc = dds.deidentify(cards, t)
    back = dds.reidentify(enc, cols, KEY)
    src = {r.id: (r.holder_name, r.card_number) for r in cards.select("id", *cols).collect()}
    tok = {r.id: (r.holder_name, r.card_number) for r in enc.select("id", *cols).collect()}
    got = {r.id: (r.holder_name, r.card_number) for r in back.select("id", *cols).collect()}
    assert src and all(tok[i][0] != v[0] and tok[i][1] != v[1] for i, v in src.items())
    assert got == src


def test_inspect_plan_scans_source_once(spark, sf_dir, template):
    """Scale guard: N detectors × M columns must not become N·M source scans
    (single-pass flatten/explode projection)."""
    tdf = load_transcripts(spark, sf_dir)
    plan = (
        dds.inspect(tdf, template.detectors, ["text"], id_columns=["conv_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1
    assert "Python" not in plan


def test_reidentify_tolerant_mode_siv_nulls_corrupt_tokens(spark):
    """strict=False is honored on the SIV path too (one corrupt token must
    not fail the whole job with InvalidTag)."""
    df = spark.createDataFrame(
        [("c1", "Alice"), ("c2", "Bob")], "id string, name string"
    )
    enc = df.withColumn(
        "name", crypto.siv_tokenize(F.col("name"), derive_siv_key(KEY))
    )
    corrupt = enc.unionByName(
        spark.createDataFrame(
            [("c3", "not-b64!!"), ("c4", "bm90LWEtdG9rZW4=")], "id string, name string"
        )
    )
    out = {r.id: r.name for r in dds.reidentify(corrupt, ["name"], KEY, strict=False).collect()}
    assert out == {"c1": "Alice", "c2": "Bob", "c3": None, "c4": None}
    with pytest.raises(Exception):
        dds.reidentify(corrupt, ["name"], KEY, strict=True).collect()


def test_inspection_report_schema(spark, sf_dir, template):
    tdf = load_transcripts(spark, sf_dir).limit(50)
    findings = dds.inspect_offsets(
        tdf, template.detectors, ["text"], id_columns=["conv_id"]
    )
    rep = dds.inspection_report(findings, job_name="job1", source_col="conv_id")
    rows = rep.collect()
    assert rows
    # Util.java:162-173 schema mirror
    assert rep.columns == [
        "job_name",
        "source_file",
        "transaction_time",
        "quote",
        "info_type_name",
        "likelihood",
        "location_start_byte_range",
        "location_end_byte_range",
        "record_loc_field_id",
    ]
    assert all(r.job_name == "job1" and r.record_loc_field_id == "text" for r in rows)


def test_deid_plan_is_single_codegen_projection(spark, sf_dir, template):
    """Scale guard: the whole DEID stage must be one narrow projection —
    no shuffle, no Python, filter/scan pushdown intact."""
    tdf = spark.read.parquet(f"{sf_dir}/events.parquet")
    tdf.createOrReplaceTempView("events")
    out = dds.deidentify(load_transcripts(spark, sf_dir), template)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # exactly the one shuffle from row_number() sessionization
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    deid_only = dds.deidentify(
        spark.createDataFrame([("a", "t")], "conv_id string, text string"), template
    )
    plan2 = deid_only._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2


def test_inspect_null_column_does_not_drop_row_findings(spark, template):
    """Regression: with multiple text_columns, a NULL cell must contribute an
    empty findings array — not NULL the whole row's flatten() (which silently
    dropped matches from the non-null columns)."""
    df = spark.createDataFrame(
        [(1, "mail me at a@b.com", None), (2, None, "iban NO36 7396 1123 641 x")],
        "id int, c1 string, c2 string",
    )
    out = dds.inspect(df, ["EMAIL_ADDRESS", "IBAN_CODE"], ["c1", "c2"], id_columns=["id"])
    rows = {(r.id, r.info_type_name) for r in out.collect()}
    assert (1, "EMAIL_ADDRESS") in rows
    assert (2, "IBAN_CODE") in rows


def test_date_shift_template_branch(spark):
    """dateShiftConfig compiles (deterministic per-context shift within
    ±upperBoundDays); same context key ⇒ same shift across rows."""
    t = dds.DeidTemplate.from_dict(
        {
            "deidentifyConfig": {
                "recordTransformations": {
                    "fieldTransformations": [
                        {
                            "fields": [{"name": "visit_ts"}],
                            "primitiveTransformation": {
                                "dateShiftConfig": {
                                    "upperBoundDays": 30,
                                    "lowerBoundDays": -30,
                                    "context": {"name": "patient_id"},
                                }
                            },
                        }
                    ]
                }
            }
        },
        crypto_key=KEY,
    )
    df = spark.createDataFrame(
        [
            ("p1", "2024-01-01 00:00:00"),
            ("p1", "2024-06-01 00:00:00"),
            ("p2", "2024-01-01 00:00:00"),
        ],
        "patient_id string, visit_ts string",
    )
    import collections
    import datetime as dt

    srcs = collections.defaultdict(list)
    for p, s in [
        ("p1", "2024-01-01 00:00:00"),
        ("p1", "2024-06-01 00:00:00"),
        ("p2", "2024-01-01 00:00:00"),
    ]:
        srcs[p].append(dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S"))
    gots = collections.defaultdict(list)
    for r in dds.deidentify(df, t).collect():
        gots[r.patient_id].append(r.visit_ts)
    for p in srcs:  # same context key ⇒ one constant shift within ±30 days
        deltas = {(g - s).days for g, s in zip(sorted(gots[p]), sorted(srcs[p]))}
        assert len(deltas) == 1, f"shift not constant per context: {deltas}"
        assert -30 <= deltas.pop() <= 30


def test_crypto_template_requires_explicit_key():
    with pytest.raises(ValueError, match="crypto_key"):
        dds.DeidTemplate.from_dict(
            {
                "deidentifyConfig": {
                    "recordTransformations": {
                        "fieldTransformations": [
                            {
                                "fields": [{"name": "x"}],
                                "primitiveTransformation": {
                                    "cryptoHashConfig": {"cryptoKey": {}}
                                },
                            }
                        ]
                    }
                }
            }
        )


def test_envelope_wrapped_template_is_not_a_silent_noop(spark):
    """{"deidentifyTemplate": {...}} (the DLPTemplateHelper upload shape)
    must compile to the SAME plan as the bare template — the old loader
    fell through to an empty plan and wrote raw PII as a no-op."""
    inner = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "text"}],
                        "primitiveTransformation": {
                            "replaceConfig": {"newValue": {"stringValue": "[GONE]"}}
                        },
                    }
                ]
            }
        }
    }
    t = dds.DeidTemplate.from_dict({"deidentifyTemplate": inner})
    df = spark.createDataFrame([("secret",)], "text string")
    assert dds.deidentify(df, t).collect()[0].text == "[GONE]"
    # and a template that compiles to nothing refuses loudly
    with pytest.raises(ValueError, match="ZERO transformations"):
        dds.DeidTemplate.from_dict({"deidentifyConfig": {"recordTransformations": {}}})


def test_inspect_cap_truncates_in_position_order(spark):
    """DLP's maxFindingsPerItem keeps the first N findings in DOCUMENT
    position order — a later detector whose match appears earlier in the
    text must win over an earlier detector's later match."""
    import dlp_dataflow_deidentification_spark as dds

    # EMAIL appears at offset 21, SSN at offset 0 and 40; detector order
    # lists EMAIL first. Position cap=2 → SSN@0, EMAIL@21; cap=1 → SSN@0,
    # where a detector-config-order cap would keep EMAIL@21.
    df = spark.createDataFrame(
        [(1, "123-45-6789 and then a@b.com and later 987-65-4321")], "id int, t string"
    )
    dets = ["EMAIL_ADDRESS", "US_SOCIAL_SECURITY_NUMBER"]

    pos = dds.inspect(df, dets, ["t"], id_columns=["id"], max_findings_per_item=2)
    assert sorted(r.quote for r in pos.collect()) == ["123-45-6789", "a@b.com"]
    pos1 = dds.inspect(df, dets, ["t"], id_columns=["id"], max_findings_per_item=1)
    assert [r.quote for r in pos1.collect()] == ["123-45-6789"]

    # offsets path agrees with the native path under the position rule
    off1 = dds.inspect_offsets(
        df, dets, ["t"], id_columns=["id"], max_findings_per_item=1
    )
    assert [(r.quote, r.location_start) for r in off1.collect()] == [("123-45-6789", 0)]

    # ties at one offset: longest-first dictionary phrase vs detector order
    df2 = spark.createDataFrame([(1, "123-45-6789 x a@b.com")], "id int, t string")
    both = dds.inspect(df2, dets, ["t"], id_columns=["id"], max_findings_per_item=5)
    assert sorted(r.quote for r in both.collect()) == ["123-45-6789", "a@b.com"]


def test_inspect_position_cap_long_cell_is_not_quadratic_in_structs(spark):
    """A capped ``inspect`` call runs on the ``inspect_offsets`` scanner.
    One cell with 5,000 matches under a cap of 10 must still finish well
    inside the bound: any per-match work that grows with the matches seen
    so far (re-copying the findings collected so far at each step) is
    O(m²) and stalls on long cells."""
    import time

    import dlp_dataflow_deidentification_spark as dds

    n = 5000
    text = " ".join(f"x{i}@b.com" for i in range(n))
    df = spark.createDataFrame([(1, text)], "id int, t string")
    t0 = time.time()
    out = dds.inspect(
        df, ["EMAIL_ADDRESS"], ["t"], id_columns=["id"], max_findings_per_item=10
    ).collect()
    assert [r.quote for r in out] == [f"x{i}@b.com" for i in range(10)]
    assert time.time() - t0 < 60  # generous; quadratic per-match work crawls


def test_inspect_config_fidelity_on_card_notes(spark, sf_dir):
    """minLikelihood / includeQuote / maxFindingsPerItem through a config
    shaped like the reference's inspect template (inspect-template.json:8-32:
    IBAN, email and phone infoTypes plus the ONLINE_USER_ID custom regex),
    on the card table's free-text notes, which hold all four kinds of PII."""
    import re

    import __spark_entry__ as entry
    import dlp_dataflow_deidentification_spark as dds

    icfg = dds.InspectConfig.from_dict({"inspectConfig": {
        "infoTypes": [{"name": "IBAN_CODE"}, {"name": "EMAIL_ADDRESS"}, {"name": "PHONE_NUMBER"}],
        "customInfoTypes": [{
            "infoType": {"name": "ONLINE_USER_ID"},
            "regex": {"pattern": "\\b:\\d{16}"},
            "likelihood": "VERY_LIKELY",
        }],
        "minLikelihood": "LIKELY",
        "limits": {"maxFindingsPerItem": 2},
    }})
    cards = entry._cards(spark, sf_dir).select("id", "notes").cache()

    def run(**kw):
        return dds.inspect(cards, icfg.detectors, ["notes"], id_columns=["id"], **kw)

    base = sorted(run(min_likelihood=icfg.min_likelihood).collect())
    assert {r.info_type_name for r in base} == {
        "IBAN_CODE", "EMAIL_ADDRESS", "PHONE_NUMBER", "ONLINE_USER_ID"}

    # a VERY_LIKELY floor keeps only the VERY_LIKELY-rated detector
    high = sorted(run(min_likelihood="VERY_LIKELY").collect())
    assert high == [r for r in base if r.info_type_name == "ONLINE_USER_ID"]

    # includeQuote=False: the same findings, the matched text withheld
    noq = run(min_likelihood=icfg.min_likelihood, include_quote=False).collect()
    assert sorted((r.id, r.info_type_name) for r in noq) == [
        (r.id, r.info_type_name) for r in base]
    assert all(r.quote is None for r in noq)

    # maxFindingsPerItem: the first two findings per row in document order
    want = []
    for row in cards.collect():
        found = sorted(
            (m.start(), di, it.name, m.group(0))
            for di, it in enumerate(icfg.detectors)
            for m in re.finditer(it.pattern, row.notes)
        )
        want += [(row.id, name, q) for _, _, name, q in found[:2]]
    capped = run(
        min_likelihood=icfg.min_likelihood,
        max_findings_per_item=icfg.max_findings_per_item,
    )
    assert sorted((r.id, r.info_type_name, r.quote) for r in capped.collect()) == sorted(want)
    assert len(want) < len(base)  # rows with three or four findings were cut

    # the offsets path honours the same config
    off = dds.inspect_offsets(
        cards, icfg.detectors, ["notes"], id_columns=["id"],
        max_findings_per_item=2, include_quote=False,
    ).collect()
    assert sorted((r.id, r.info_type_name) for r in off) == sorted(
        (i, name) for i, name, _ in want)
    assert all(r.quote is None and r.location_end > r.location_start for r in off)
    cards.unpersist()


# -- RecordCondition: recordSuppressions + per-transform condition +
#    replaceDictionaryConfig (public DeidentifyConfig surface; the
#    reference's sample templates omit them but its users configure them —
#    same proto family as deid-template.json's recordTransformations) -----

_COND_TEMPLATE = {
    "deidentifyConfig": {
        "recordTransformations": {
            "recordSuppressions": [
                {
                    "condition": {
                        "expressions": {
                            "logicalOperator": "AND",
                            "conditions": {
                                "conditions": [
                                    {
                                        "field": {"name": "status"},
                                        "operator": "EQUAL_TO",
                                        "value": {"stringValue": "drop-me"},
                                    }
                                ]
                            },
                        }
                    }
                }
            ],
            "fieldTransformations": [
                {
                    "fields": [{"name": "clerk"}],
                    "condition": {
                        "expressions": {
                            "conditions": {
                                "conditions": [
                                    {
                                        "field": {"name": "amount"},
                                        "operator": "GREATER_THAN",
                                        "value": {"floatValue": 100.0},
                                    }
                                ]
                            }
                        }
                    },
                    "primitiveTransformation": {
                        "replaceConfig": {"newValue": {"stringValue": "[HIGH]"}}
                    },
                },
                {
                    "fields": [{"name": "priority"}],
                    "primitiveTransformation": {
                        "replaceDictionaryConfig": {
                            "wordList": {"words": ["alpha", "bravo", "charlie"]}
                        }
                    },
                },
            ],
        }
    }
}


def _cond_df(spark):
    return spark.createDataFrame(
        [
            ("keep", 50.0, "Clerk#1", "P1"),
            ("keep", 150.0, "Clerk#2", "P2"),
            ("drop-me", 999.0, "Clerk#3", "P3"),
            ("keep", None, "Clerk#4", None),
        ],
        "status string, amount double, clerk string, priority string",
    )


def test_record_suppression_drops_matching_rows(spark):
    t = dds.DeidTemplate.from_dict(_COND_TEMPLATE, crypto_key=KEY)
    out = dds.deidentify(_cond_df(spark), t)
    rows = {r.clerk for r in out.collect()}
    assert "Clerk#3" not in rows and len(rows) == 3


def test_per_transform_condition_gates_rows(spark):
    t = dds.DeidTemplate.from_dict(_COND_TEMPLATE, crypto_key=KEY)
    got = {r.status + "/" + r.clerk: r for r in dds.deidentify(_cond_df(spark), t).collect()}
    # amount 150 > 100 → replaced; 50 and NULL (un-evaluable → no match) keep
    assert got["keep/[HIGH]"].amount == 150.0
    assert "keep/Clerk#1" in got and "keep/Clerk#4" in got


def test_replace_dictionary_is_deterministic_and_in_wordlist(spark):
    t = dds.DeidTemplate.from_dict(_COND_TEMPLATE, crypto_key=KEY)
    out1 = dds.deidentify(_cond_df(spark), t).orderBy("clerk").collect()
    out2 = dds.deidentify(_cond_df(spark), t).orderBy("clerk").collect()
    assert [r.priority for r in out1] == [r.priority for r in out2]
    for r in out1:
        if r.clerk == "Clerk#4":
            assert r.priority is None  # NULL stays NULL
        else:
            assert r.priority in ("alpha", "bravo", "charlie")


def test_replace_dictionary_md5_basis_matches_python():
    import hashlib as _h

    words = ["alpha", "bravo", "charlie"]
    value, key = "P1", KEY
    h = int(_h.md5((key + value).encode()).hexdigest()[:15], 16)
    expect = words[h % len(words)]
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    from dlp_dataflow_deidentification_spark.functions.transforms import replace_dictionary

    got = (
        spark.range(1)
        .select(replace_dictionary(F.lit(value), words, key=key, hash_basis="md5").alias("w"))
        .first()
        .w
    )
    assert got == expect


def test_condition_on_transformed_field_reads_original_value(spark):
    # the condition reads `clerk`, which transform #1 rewrites BEFORE
    # transform #2 runs — #2's condition must still see the original
    doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "clerk"}],
                        "primitiveTransformation": {
                            "replaceConfig": {"newValue": {"stringValue": "X"}}
                        },
                    },
                    {
                        "fields": [{"name": "priority"}],
                        "condition": {
                            "expressions": {
                                "conditions": {
                                    "conditions": [
                                        {
                                            "field": {"name": "clerk"},
                                            "operator": "EQUAL_TO",
                                            "value": {"stringValue": "Clerk#1"},
                                        }
                                    ]
                                }
                            }
                        },
                        "primitiveTransformation": {
                            "replaceConfig": {"newValue": {"stringValue": "GATED"}}
                        },
                    },
                ]
            }
        }
    }
    t = dds.DeidTemplate.from_dict(doc)
    df = spark.createDataFrame(
        [("Clerk#1", "p"), ("Clerk#2", "p")], "clerk string, priority string"
    )
    rows = sorted(dds.deidentify(df, t).collect())
    assert [(r.clerk, r.priority) for r in rows] == [("X", "GATED"), ("X", "p")]
    assert "__orig_clerk__" not in dds.deidentify(df, t).columns


def test_suppression_only_template_is_valid(spark):
    doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "recordSuppressions": _COND_TEMPLATE["deidentifyConfig"][
                    "recordTransformations"
                ]["recordSuppressions"]
            }
        }
    }
    t = dds.DeidTemplate.from_dict(doc)
    assert t.transformations == [] and len(t.suppressions) == 1
    assert dds.deidentify(_cond_df(spark), t).count() == 3


def test_condition_validation_errors():
    base = _COND_TEMPLATE["deidentifyConfig"]["recordTransformations"]
    import copy

    bad_or = copy.deepcopy({"deidentifyConfig": {"recordTransformations": base}})
    bad_or["deidentifyConfig"]["recordTransformations"]["recordSuppressions"][0][
        "condition"
    ]["expressions"]["logicalOperator"] = "OR"
    with pytest.raises(ValueError, match="logicalOperator"):
        dds.DeidTemplate.from_dict(bad_or, crypto_key=KEY)

    bad_op = copy.deepcopy({"deidentifyConfig": {"recordTransformations": base}})
    bad_op["deidentifyConfig"]["recordTransformations"]["fieldTransformations"][0][
        "condition"
    ]["expressions"]["conditions"]["conditions"][0]["operator"] = "LIKE"
    with pytest.raises(ValueError, match="operator"):
        dds.DeidTemplate.from_dict(bad_op, crypto_key=KEY)


def test_condition_on_absent_column_is_no_match(spark):
    # suppression reads a column the frame lacks → NULL → no row dropped;
    # gated transform likewise never fires
    t = dds.DeidTemplate.from_dict(_COND_TEMPLATE, crypto_key=KEY)
    df = spark.createDataFrame(
        [(1.0, "Clerk#9", "P9")], "amount double, clerk string, priority string"
    )
    out = dds.deidentify(df, t).collect()
    assert len(out) == 1 and out[0].clerk == "Clerk#9"


def test_top_level_infotype_transformations_apply_to_all_string_columns(spark):
    # DeidentifyConfig oneof: top-level infoTypeTransformations (the
    # unstructured-ContentItem template shape) hits EVERY string column;
    # non-string columns are untouched
    doc = {
        "deidentifyConfig": {
            "infoTypeTransformations": {
                "transformations": [
                    {
                        "infoTypes": [{"name": "EMAIL_ADDRESS"}],
                        "primitiveTransformation": {"replaceWithInfoTypeConfig": {}},
                    }
                ]
            }
        }
    }
    t = dds.DeidTemplate.from_dict(doc)
    assert t.transformations[0].fields is None
    df = spark.createDataFrame(
        [(1, "mail a@x.com", "cc b@y.com", 2.5)],
        "id int, body string, extra string, score double",
    )
    row = dds.deidentify(df, t).first()
    assert row.body == "mail [EMAIL_ADDRESS]"
    assert row.extra == "cc [EMAIL_ADDRESS]"
    assert row.id == 1 and row.score == 2.5


def test_top_level_itt_and_record_transformations_are_exclusive():
    doc = {
        "deidentifyConfig": {
            "infoTypeTransformations": {"transformations": []},
            "recordTransformations": {"fieldTransformations": []},
        }
    }
    with pytest.raises(ValueError, match="oneof"):
        dds.DeidTemplate.from_dict(doc)


# -- CryptoKey oneof (transient | unwrapped | kmsWrapped) ----------------

def _hash_template(crypto_key_obj=None):
    prim = {"cryptoHashConfig": {}}
    if crypto_key_obj is not None:
        prim["cryptoHashConfig"]["cryptoKey"] = crypto_key_obj
    return {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {"fields": [{"name": "v"}], "primitiveTransformation": prim}
                ]
            }
        }
    }


def test_crypto_key_unwrapped_compiles_without_param(spark):
    t = dds.DeidTemplate.from_dict(
        _hash_template({"unwrapped": {"key": "c2VjcmV0LWtleS1tYXRlcmlhbA=="}})
    )
    df = spark.createDataFrame([("x",)], "v string")
    tok = dds.deidentify(df, t).first().v
    # same material passed explicitly produces the same token
    t2 = dds.DeidTemplate.from_dict(
        _hash_template(), crypto_key="c2VjcmV0LWtleS1tYXRlcmlhbA=="
    )
    assert tok == dds.deidentify(df, t2).first().v


def test_crypto_key_transient_is_deterministic_per_name(spark):
    df = spark.createDataFrame([("x",)], "v string")
    a1 = dds.deidentify(
        df, dds.DeidTemplate.from_dict(_hash_template({"transient": {"name": "job-a"}}))
    ).first().v
    a2 = dds.deidentify(
        df, dds.DeidTemplate.from_dict(_hash_template({"transient": {"name": "job-a"}}))
    ).first().v
    b = dds.deidentify(
        df, dds.DeidTemplate.from_dict(_hash_template({"transient": {"name": "job-b"}}))
    ).first().v
    assert a1 == a2 != b


def test_crypto_key_kms_wrapped_raises_without_param():
    with pytest.raises(NotImplementedError, match="kmsWrapped"):
        dds.DeidTemplate.from_dict(
            _hash_template({"kmsWrapped": {"wrappedKey": "x", "cryptoKeyName": "y"}})
        )


def test_crypto_key_explicit_param_wins_over_template_key(spark):
    df = spark.createDataFrame([("x",)], "v string")
    with_param = dds.deidentify(
        df,
        dds.DeidTemplate.from_dict(
            _hash_template({"unwrapped": {"key": "template-key"}}), crypto_key=KEY
        ),
    ).first().v
    explicit_only = dds.deidentify(
        df, dds.DeidTemplate.from_dict(_hash_template(), crypto_key=KEY)
    ).first().v
    assert with_param == explicit_only


def test_transformation_error_handling_leave_untransformed_raises():
    doc = _hash_template({"transient": {"name": "j"}})
    doc["deidentifyConfig"]["transformationErrorHandling"] = {"leaveUntransformed": {}}
    with pytest.raises(NotImplementedError, match="leaveUntransformed"):
        dds.DeidTemplate.from_dict(doc)
    # throwError (this engine's actual behavior) is accepted
    doc["deidentifyConfig"]["transformationErrorHandling"] = {"throwError": {}}
    dds.DeidTemplate.from_dict(doc)
