"""End-to-end config-driven pipeline tests (DLPTextToBigQueryStreamingV2
analogue): CSV in → deid/inspect → partitioned sink, with malformed-record
side output. Mirrors the reference CI's count assertions
(.github/workflows/dlp-pipelines.yml) with exact values."""
import os

import pytest
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.plans import pipeline

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def csv_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "accounts_a.csv").write_text(
        "id,ssn,notes\n"
        "1,552-09-6781,mail me at a@b.co\n"
        "2,123-45-6789,call 415-555-0000 now\n"
        "3,999-88-7777,iban DE44 5001 0517 5407 3249 31\n"
    )
    (d / "accounts_b.csv").write_text(
        "id,ssn,notes\n"
        "4,111-22-3333,no pii here\n"
        "5,444-55-6666,uid name:1234567890123456\n"
    )
    return str(d)


TEMPLATE = {
    "deidentifyConfig": {
        "recordTransformations": {
            "fieldTransformations": [
                {
                    "fields": [{"name": "ssn"}],
                    "primitiveTransformation": {
                        "characterMaskConfig": {
                            "maskingCharacter": "*",
                            "numberToMask": 5,
                            "charactersToIgnore": [{"charactersToSkip": "-"}],
                        }
                    },
                },
                {
                    "fields": [{"name": "notes"}],
                    "infoTypeTransformations": {
                        "transformations": [
                            {
                                "infoTypes": [
                                    {"name": "EMAIL_ADDRESS"},
                                    {"name": "IBAN_CODE"},
                                    {"name": "PHONE_NUMBER"},
                                    {"name": "ONLINE_USER_ID"},
                                ],
                                "primitiveTransformation": {"replaceWithInfoTypeConfig": {}},
                            }
                        ]
                    },
                },
            ]
        }
    }
}


def test_batch_deid_pipeline_partitioned_sink(spark, csv_dir, tmp_path):
    out = str(tmp_path / "out")
    metrics = pipeline.run_batch(
        spark,
        {
            "source": {"path": csv_dir, "format": "csv"},
            "mode": "deid",
            "template": TEMPLATE,
            "sink": {"path": out, "format": "parquet", "partition_by_source": True},
        },
    )
    assert metrics["rows_written"] == 5
    got = {r.id: (r.ssn, r.notes) for r in spark.read.parquet(out).collect()}
    assert got["1"] == ("***-**-6781", "mail me at [EMAIL_ADDRESS]")
    assert got["2"][1] == "call [PHONE_NUMBER] now"
    assert got["3"][1] == "iban [IBAN_CODE]"
    assert got["5"][1] == "uid name[ONLINE_USER_ID]"
    dirs = {d for d in os.listdir(out) if d.startswith("source_key=")}
    assert dirs == {"source_key=accounts_a", "source_key=accounts_b"}


def test_batch_inspect_pipeline(spark, csv_dir, tmp_path):
    out = str(tmp_path / "fout")
    pipeline.run_batch(
        spark,
        {
            "source": {"path": csv_dir, "format": "csv"},
            "mode": "inspect",
            "template": TEMPLATE,
            "text_columns": ["notes"],
            "sink": {"path": out, "format": "parquet"},
        },
    )
    found = spark.read.parquet(out)
    counts = {r.info_type_name: r["count"] for r in found.groupBy("info_type_name").count().collect()}
    assert counts == {
        "EMAIL_ADDRESS": 1,
        "PHONE_NUMBER": 1,
        "IBAN_CODE": 1,
        "ONLINE_USER_ID": 1,
    }
    assert set(found.columns) >= {"source_key", "quote", "info_type_name", "likelihood"}


def test_malformed_rows_routed_to_error_table(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "t.csv").write_text("id,ssn,notes\n1,552-09-6781,ok\n2,,\n,,\n")
    out, errs = str(tmp_path / "out"), str(tmp_path / "errs")
    metrics = pipeline.run_batch(
        spark,
        {
            "source": {"path": str(d), "format": "csv"},
            "mode": "deid",
            "template": TEMPLATE,
            "required_columns": ["id", "ssn"],
            "error_path": errs,
            "sink": {"path": out, "format": "parquet"},
        },
    )
    assert metrics["rows_written"] == 1
    err = spark.read.parquet(errs)
    assert err.count() == 2
    assert set(err.columns) == set(pipeline.ERROR_SCHEMA_COLS)
    assert err.filter(F.col("error_message").contains("malformed")).count() == 2


def test_text_sink_lines(spark, csv_dir, tmp_path):
    out = str(tmp_path / "txt_out")
    pipeline.run_batch(
        spark,
        {
            "source": {"path": csv_dir, "format": "csv"},
            "mode": "deid",
            "template": TEMPLATE,
            "sink": {"path": out, "format": "text", "delimiter": "|"},
        },
    )
    lines = [r.value for r in spark.read.text(f"{out}/source_key=accounts_a").collect()]
    assert any(l.startswith("1|***-**-6781|") for l in lines)


def _inspect_template(rules):
    return {
        "inspectTemplate": {
            "inspectConfig": {
                "infoTypes": [{"name": "EMAIL_ADDRESS"}],
                "ruleSet": [{"infoTypes": [{"name": "EMAIL_ADDRESS"}], "rules": rules}],
            }
        }
    }


def test_batch_inspect_honours_rule_set(spark, tmp_path):
    """Batch inspect applies the template's ruleSet like streaming does:
    a quote-only exclusion on the native path, a hotword rule (needs
    finding offsets) on inspect_offsets."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "m.csv").write_text(
        "id,notes\n"
        "1,write user2@example.com\n"
        "2,work email user3@example.com\n"
        "3,write user5@example.com\n"
    )
    exclude = {
        "exclusionRule": {
            "regex": {"pattern": "user[0-9]*[02468]@example\\.com"},
            "matchingType": "MATCHING_TYPE_FULL_MATCH",
        }
    }
    hotword = {
        "hotwordRule": {
            "hotwordRegex": {"pattern": "(?i)work email"},
            "proximity": {"windowBefore": 20},
            "likelihoodAdjustment": {"fixedLikelihood": "VERY_LIKELY"},
        }
    }
    got = {}
    for name, rules in (("native", [exclude]), ("offsets", [exclude, hotword])):
        out = str(tmp_path / name)
        pipeline.run_batch(
            spark,
            {
                "source": {"path": str(d), "format": "csv"},
                "mode": "inspect",
                "template": _inspect_template(rules),
                "text_columns": ["notes"],
                "sink": {"path": out, "format": "parquet"},
            },
        )
        got[name] = {r.quote: r.likelihood for r in spark.read.parquet(out).collect()}
    for findings in got.values():
        assert set(findings) == {"user3@example.com", "user5@example.com"}
    assert got["offsets"]["user3@example.com"] == "VERY_LIKELY"
    assert got["offsets"]["user5@example.com"] == got["native"]["user5@example.com"]
    assert got["native"]["user3@example.com"] != "VERY_LIKELY"


def test_batch_reid_strips_template_surrogate_envelope(spark, csv_dir, tmp_path):
    """A reid spec carrying the deid template strips the 'NAME(len):'
    envelope the template minted (template.surrogates) without a
    surrogate_info_type key — the batch mirror of
    test_streaming_reid_strips_template_surrogate_envelope."""
    key = "0123456789abcdef"
    template = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "notes"}],
                        "primitiveTransformation": {
                            "cryptoDeterministicConfig": {
                                "surrogateInfoType": {"name": "TOKEN"}
                            }
                        },
                    }
                ]
            }
        }
    }
    tok, back = str(tmp_path / "tok"), str(tmp_path / "back")
    pipeline.run_batch(
        spark,
        {
            "source": {"path": csv_dir, "format": "csv"},
            "mode": "deid",
            "template": template,
            "sink": {"path": tok, "format": "parquet"},
        },
        crypto_key=key,
    )
    assert all(r.notes.startswith("TOKEN(") for r in spark.read.parquet(tok).collect())
    pipeline.run_batch(
        spark,
        {
            "source": {"path": tok, "format": "parquet"},
            "mode": "reid",
            "template": template,
            "reid_columns": ["notes"],
            "sink": {"path": back, "format": "parquet"},
        },
        crypto_key=key,
    )
    want = {(r.id, r.notes) for r in spark.read.csv(csv_dir, header=True).collect()}
    assert {(r.id, r.notes) for r in spark.read.parquet(back).collect()} == want


def test_removed_ecb_cipher_is_refused(spark, csv_dir, tmp_path):
    """AES-SIV is the one deterministic cipher: the removed AES-ECB mode is
    refused by ``reidentify``, by a reid spec and by a deid spec, with a
    message that names the ciphers that remain."""
    import dlp_dataflow_deidentification_spark as dds

    removed = "ecb"
    key = "0123456789abcdef"
    df = spark.createDataFrame([("x",)], "c string")
    with pytest.raises(ValueError, match="'siv', 'ffx', or 'inline'"):
        dds.reidentify(df, ["c"], key, mode=removed)
    reid = {
        "source": {"path": csv_dir, "format": "csv"},
        "mode": "reid",
        "template": TEMPLATE,
        "reid_columns": ["notes"],
        "crypto_mode": removed,
        "sink": {"path": str(tmp_path / "reid"), "format": "parquet"},
    }
    with pytest.raises(ValueError, match="'siv', 'ffx', or 'inline'"):
        pipeline.run_batch(spark, reid, crypto_key=key)
    deid = dict(reid, mode="deid", sink={"path": str(tmp_path / "deid"), "format": "parquet"})
    with pytest.raises(ValueError, match="crypto_mode must be 'siv'"):
        pipeline.run_batch(spark, deid, crypto_key=key)
    assert not os.path.exists(tmp_path / "reid") and not os.path.exists(tmp_path / "deid")
