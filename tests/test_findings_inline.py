"""Per-finding inline transforms (functions/findings.py) + text reid.

Free-text form of the DLP primitives: mask/hash/tokenize each finding IN
PLACE inside the text. Replacement semantics are cross-pinned against the
column-level implementations (character_mask, crypto_hash,
crypto_hash_hmac, siv_tokenize) so the two surfaces can never drift.
"""
import base64
import hashlib
import hmac as hmac_mod

import pytest
from pyspark.sql import functions as F

import dlp_dataflow_deidentification_spark as dds
from dlp_dataflow_deidentification_spark.functions import crypto, findings, transforms
from dlp_dataflow_deidentification_spark.plans.config import derive_siv_key

KEY = "0123456789abcdef"


def _one(spark, col_expr, text):
    return (
        spark.createDataFrame([(text,)], "t string")
        .select(col_expr(F.col("t")).alias("out"))
        .first()
        .out
    )


def test_mask_repl_matches_column_character_mask(spark):
    cases = [
        ("4111-1111-1111-1111", dict()),
        ("4111-1111-1111-1111", dict(number_to_mask=6)),
        ("4111-1111-1111-1111", dict(number_to_mask=4, reverse_order=True)),
        ("4111-1111-1111-1111", dict(characters_to_skip="-")),
        ("a*b*c", dict(characters_to_skip="*", number_to_mask=2)),
    ]
    for text, kw in cases:
        py = findings.mask_repl(**kw)(text)
        colkw = {
            "masking_character": kw.get("masking_character", "*"),
            "number_to_mask": kw.get("number_to_mask", 0),
            "reverse_order": kw.get("reverse_order", False),
            "characters_to_skip": kw.get("characters_to_skip", ""),
        }
        native = _one(spark, lambda c, k=colkw: transforms.character_mask(c, **k), text)
        assert py == native, (text, kw)


def test_hash_repl_matches_column_hashes(spark):
    text = "alice@example.com"
    assert findings.hash_repl(KEY, "sha256")(text) == _one(
        spark, lambda c: transforms.crypto_hash(c, KEY), text
    )
    assert findings.hash_repl(KEY, "hmac")(text) == _one(
        spark, lambda c: crypto.crypto_hash_hmac(c, KEY), text
    )
    # and against stdlib hmac directly
    want = base64.b64encode(
        hmac_mod.new(KEY.encode(), text.encode(), hashlib.sha256).digest()
    ).decode()
    assert findings.hash_repl(KEY, "hmac")(text) == want


def test_transform_findings_multi_detector_and_null(spark):
    df = spark.createDataFrame(
        [("mail a@x.com call 415-555-0199",), (None,), ("clean",)], "t string"
    )
    out = df.select(
        findings.transform_findings(
            F.col("t"),
            ["EMAIL_ADDRESS", "PHONE_NUMBER"],
            {
                "EMAIL_ADDRESS": findings.hash_repl(KEY, "sha256"),
                "PHONE_NUMBER": findings.mask_repl(),
            },
        ).alias("out")
    ).collect()
    digest = hashlib.sha256((KEY + "a@x.com").encode()).hexdigest()
    assert out[0].out == f"mail {digest} call ************"
    assert out[1].out is None
    assert out[2].out == "clean"


def test_transform_findings_uncovered_detector_raises():
    with pytest.raises(ValueError, match="uncovered|no replacement"):
        findings.transform_findings(
            F.lit("x"), ["EMAIL_ADDRESS", "PHONE_NUMBER"],
            {"EMAIL_ADDRESS": findings.mask_repl()},
        )


def test_inline_siv_tokenize_then_reidentify_text_roundtrip(spark):
    key = derive_siv_key(KEY)
    df = spark.createDataFrame(
        [("mail a@x.com and b@y.com today",), ("no pii",), (None,)], "t string"
    )
    tok = df.select(
        F.col("t"),
        findings.transform_findings(
            F.col("t"), ["EMAIL_ADDRESS"],
            findings.siv_repl(key, "EMAIL_TOKEN"),
        ).alias("tok"),
    )
    rows = tok.collect()
    assert rows[0].tok.count("EMAIL_TOKEN(") == 2
    assert "a@x.com" not in rows[0].tok
    assert rows[1].tok == "no pii" and rows[2].tok is None
    back = tok.select(
        "t", findings.reidentify_text(F.col("tok"), key, "EMAIL_TOKEN").alias("back")
    ).collect()
    for r in back:
        assert r.back == r.t
    # the operator's inline mode is the same decode
    op = dds.reidentify(tok, ["tok"], KEY, surrogate_info_type="EMAIL_TOKEN", mode="inline")
    assert [(r.t, r.tok) for r in op.collect()] == [(r.t, r.back) for r in back]
    with pytest.raises(ValueError, match="surrogate_info_type"):
        dds.reidentify(tok, ["tok"], KEY, mode="inline")


def test_reidentify_text_strict_vs_tolerant(spark):
    key = derive_siv_key(KEY)
    corrupt = "prefix EMAIL_TOKEN(8):AAAAAAAA suffix"
    df = spark.createDataFrame([(corrupt,)], "t string")
    with pytest.raises(Exception):
        df.select(
            findings.reidentify_text(F.col("t"), key, "EMAIL_TOKEN").alias("b")
        ).collect()
    got = df.select(
        findings.reidentify_text(
            F.col("t"), key, "EMAIL_TOKEN", strict=False
        ).alias("b")
    ).first().b
    assert got == corrupt  # tolerant: envelope left untouched, text intact


def test_ff1_repl_format_preserving_and_passthrough(spark):
    from dlp_dataflow_deidentification_spark.functions import fpe

    repl = findings.ff1_repl(fpe.derive_fpe_key(KEY), "NUMERIC")
    tok = repl("123456")
    assert tok != "123456" and len(tok) == 6 and tok.isdigit()
    assert repl("12-34") == "12-34"  # non-domain char → passthrough
    assert repl("1") == "1"  # below minlen → passthrough


def test_template_inline_primitives_compile_and_apply(spark):
    doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "text"}],
                        "infoTypeTransformations": {
                            "transformations": [
                                {
                                    "infoTypes": [{"name": "CREDIT_CARD_NUMBER"}],
                                    "primitiveTransformation": {
                                        "characterMaskConfig": {
                                            "numberToMask": 12,
                                            "charactersToIgnore": [
                                                {"charactersToSkip": "- "}
                                            ],
                                        }
                                    },
                                },
                                {
                                    "infoTypes": [{"name": "EMAIL_ADDRESS"}],
                                    "primitiveTransformation": {
                                        "cryptoDeterministicConfig": {
                                            "surrogateInfoType": {"name": "EMAIL_TOKEN"}
                                        }
                                    },
                                },
                            ]
                        },
                    }
                ]
            }
        }
    }
    t = dds.DeidTemplate.from_dict(doc, crypto_key=KEY)
    assert sorted(ft.kind for ft in t.transformations) == [
        "characterMask",
        "cryptoDeterministic",
    ]
    df = spark.createDataFrame(
        [("card 4111 1111 1111 1111 mail a@x.com",)], "text string"
    )
    got = dds.deidentify(df, t).first().text
    assert "**** **** **** 1111" in got
    assert "EMAIL_TOKEN(" in got and "a@x.com" not in got
    # and the email round-trips back out of the free text
    back = (
        spark.createDataFrame([(got,)], "text string")
        .select(
            findings.reidentify_text(
                F.col("text"), derive_siv_key(KEY), "EMAIL_TOKEN"
            ).alias("b")
        )
        .first()
        .b
    )
    assert "a@x.com" in back


def test_template_inline_deterministic_requires_surrogate():
    doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "text"}],
                        "infoTypeTransformations": {
                            "transformations": [
                                {
                                    "infoTypes": [{"name": "EMAIL_ADDRESS"}],
                                    "primitiveTransformation": {
                                        "cryptoDeterministicConfig": {}
                                    },
                                }
                            ]
                        },
                    }
                ]
            }
        }
    }
    with pytest.raises(ValueError, match="surrogateInfoType"):
        dds.DeidTemplate.from_dict(doc, crypto_key=KEY)


def test_empty_infotypes_in_transformation_refuses_identity_noop():
    # DLP reads empty infoTypes as "every finding" via the request's
    # inspect detectors; with no ambient registry it would compile to an
    # IDENTITY transform writing raw PII — must refuse at from_dict
    doc = {
        "deidentifyConfig": {
            "infoTypeTransformations": {
                "transformations": [
                    {"primitiveTransformation": {"characterMaskConfig": {}}}
                ]
            }
        }
    }
    with pytest.raises(ValueError, match="empty infoTypes"):
        dds.DeidTemplate.from_dict(doc)
