"""Unit tests for the primitive transforms against hand-computed goldens
(DLP semantics per /root/reference/src/main/resources/deid-template.json;
reference test model: src/test/java/com/google/swarm/tokenization/*Test.java)."""
import pytest
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.functions import transforms, crypto
from dlp_dataflow_deidentification_spark.plans.config import derive_siv_key

KEY16 = "0123456789abcdef"
SIV_KEY = derive_siv_key(KEY16)


def col_of(spark, values, dtype="string"):
    return spark.createDataFrame([(v,) for v in values], f"v {dtype}")


def run1(spark, values, expr_fn, dtype="string"):
    df = col_of(spark, values, dtype)
    return [r[0] for r in df.select(expr_fn(F.col("v")).alias("o")).collect()]


def test_character_mask_skip_chars(spark):
    # deid-template.json:34-45 — SSN, mask 5, skip '-': 552-09-6781 → ***-**-6781
    out = run1(
        spark,
        ["552-09-6781", "123456789", "12", None],
        lambda c: transforms.character_mask(c, "*", 5, False, "-"),
    )
    assert out == ["***-**-6781", "*****6789", "**", None]


def test_character_mask_no_skip_forward_and_reverse(spark):
    out = run1(spark, ["abcdef", "ab"], lambda c: transforms.character_mask(c, "#", 3))
    assert out == ["###def", "##"]
    out = run1(
        spark, ["abcdef", "ab"], lambda c: transforms.character_mask(c, "#", 3, reverse_order=True)
    )
    assert out == ["abc###", "##"]


def test_character_mask_all(spark):
    assert run1(spark, ["abc-def"], lambda c: transforms.character_mask(c, "*")) == ["*******"]
    assert run1(
        spark, ["abc-def"], lambda c: transforms.character_mask(c, "*", 0, False, "-")
    ) == ["***-***"]


def test_crypto_hash_deterministic_keyed(spark):
    import hashlib

    out = run1(spark, ["1234", "1234", "9999", None], lambda c: transforms.crypto_hash(c, KEY16))
    assert out[0] == out[1] != out[2]
    assert out[0] == hashlib.sha256((KEY16 + "1234").encode()).hexdigest()
    assert out[3] is None


def test_siv_tokenize_roundtrip(spark):
    vals = ["Marilyn Monroe", "4111-1111-1111-1111", "", "Marilyn Monroe"]
    df = col_of(spark, vals)
    enc = df.select(crypto.siv_tokenize(F.col("v"), SIV_KEY).alias("t"))
    toks = [r[0] for r in enc.collect()]
    assert toks[0] == toks[3] and toks[0] != toks[1]  # deterministic
    dec = enc.select(crypto.siv_reidentify(F.col("t"), SIV_KEY).alias("v"))
    assert [r[0] for r in dec.collect()] == vals


def test_siv_tokenize_surrogate_envelope(spark):
    df = col_of(spark, ["bob"])
    tok = df.select(crypto.siv_tokenize(F.col("v"), SIV_KEY, "NAME_TOKEN").alias("t"))
    t = tok.collect()[0][0]
    assert t.startswith("NAME_TOKEN(") and "):" in t
    back = tok.select(crypto.siv_reidentify(F.col("t"), SIV_KEY, "NAME_TOKEN").alias("v"))
    assert back.collect()[0][0] == "bob"


def test_aes_siv_roundtrip(spark):
    key = b"k" * 32
    df = col_of(spark, ["alice", "alice", "bob"])
    enc = df.select(crypto.aes_siv_encrypt(F.col("v"), key).alias("t"))
    toks = [r[0] for r in enc.collect()]
    assert toks[0] == toks[1] != toks[2]
    dec = enc.select(crypto.aes_siv_decrypt(F.col("t"), key).alias("v"))
    assert [r[0] for r in dec.collect()] == ["alice", "alice", "bob"]


def test_bucketing_numeric_age(spark):
    # deid-template.json:52-112 — Age buckets [18,30)→20 ... [60,99)→60
    buckets = [(18, 30, "20"), (30, 40, "30"), (40, 50, "40"), (50, 60, "50"), (60, 99, "60")]
    out = run1(
        spark,
        [18, 29, 30, 59, 60, 98, 99, 5],
        lambda c: transforms.bucketing(c, buckets, numeric=True),
        dtype="int",
    )
    assert out == ["20", "20", "30", "50", "60", "60", "99", "5"]


def test_bucketing_string_jobtitle(spark):
    # deid-template.json:120-181 — lexicographic ranges
    buckets = [
        ("CIO", "CIOz", "Executive"),
        ("CEO", "CEOz", "Executive"),
        ("Vice President", "Vice Presidentz", "Executive"),
        ("Software Engineer", "Software Engineerz", "Engineer"),
        ("Product Manager", "Product Managerz", "Manager"),
    ]
    out = run1(
        spark,
        ["CIO", "CEO of X", "Software Engineer II", "Product Manager", "Janitor"],
        lambda c: transforms.bucketing(c, buckets, numeric=False),
    )
    assert out == ["Executive", "Executive", "Engineer", "Manager", "Janitor"]


def test_fixed_size_bucketing(spark):
    out = run1(
        spark,
        [5.0, 10.0, 19.5, 20.0, 35.0, 100.0],
        lambda c: transforms.fixed_size_bucketing(c, 10, 100, 10),
        dtype="double",
    )
    assert out == ["<10.0", "10.0-20.0", "10.0-20.0", "20.0-30.0", "30.0-40.0", ">=100.0"]


def test_redact_and_replace_value(spark):
    out = run1(
        spark,
        ["mail a@b.co now"],
        lambda c: transforms.redact(c, ["EMAIL_ADDRESS"]),
    )
    assert out == ["mail  now"]
    out = run1(
        spark,
        ["mail a@b.co now"],
        lambda c: transforms.replace_value(c, ["EMAIL_ADDRESS"], "<gone>"),
    )
    assert out == ["mail <gone> now"]


def test_time_part(spark):
    out = run1(
        spark,
        ["2024-03-15 13:45:00"],
        lambda c: transforms.time_part(c, "YEAR"),
    )
    assert out == ["2024"]
    out = run1(
        spark,
        ["2024-03-15 13:45:00"],
        lambda c: transforms.time_part(c, "HOUR_OF_DAY"),
    )
    assert out == ["13"]
    with pytest.raises(ValueError):
        transforms.time_part(F.col("x"), "CENTURY")


def test_dictionary_detector(spark):
    from dlp_dataflow_deidentification_spark.functions.infotypes import dictionary

    det = dictionary("PROJECT_CODENAME", ["blue falcon", "redwood", "red"])
    out = run1(
        spark,
        ["met blue falcon and redwood today", "redo red ready"],
        lambda c: transforms.replace_with_infotype(c, [det]),
    )
    # longest-phrase-first alternation; \b guards partial words
    assert out == [
        "met [PROJECT_CODENAME] and [PROJECT_CODENAME] today",
        "redo [PROJECT_CODENAME] ready",
    ]
    # inspect findings of overlapping terms: longest at each position, in
    # text order, non-overlapping
    from dlp_dataflow_deidentification_spark.operators.inspect import inspect

    df = spark.createDataFrame([(1, "error expires soon")], "doc_id long, text string")
    det = dictionary("TT", ["error", "expires soon", "expires"])
    found = inspect(df, [det], ["text"], id_columns=["doc_id"]).collect()
    assert [r["quote"] for r in found] == ["error", "expires soon"]


def test_date_shift_deterministic_bounded(spark):
    df = spark.createDataFrame(
        [("2024-01-15 00:00:00", "u1"), ("2024-01-15 00:00:00", "u1"), ("2024-01-15 00:00:00", "u2")],
        "d string, k string",
    )
    out = df.select(
        transforms.date_shift(F.col("d"), F.col("k"), KEY16, max_days=10).alias("o")
    ).collect()
    import datetime

    base = datetime.datetime(2024, 1, 15)
    days = [(r[0] - base).days for r in out]
    assert days[0] == days[1]  # same context key → same shift
    assert all(-10 <= d <= 10 for d in days)


def test_date_shift_honors_lower_bound(spark):
    """DLP dateShiftConfig with lowerBoundDays=0 is a valid forward-only
    shift — no backward shifts may be produced (template path included)."""
    from dlp_dataflow_deidentification_spark.plans.config import DeidTemplate

    df = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00", f"u{d}") for d in range(1, 29)],
        "d string, k string",
    )
    out = df.select(
        F.col("d").cast("timestamp").alias("base"),
        transforms.date_shift(
            F.col("d"), F.col("k"), KEY16, max_days=10, min_days=0
        ).alias("o"),
    ).collect()
    days = [(r.o - r.base).days for r in out]
    assert all(0 <= x <= 10 for x in days) and max(days) > 0

    t = DeidTemplate.from_dict(
        {
            "deidentifyConfig": {
                "recordTransformations": {
                    "fieldTransformations": [
                        {
                            "fields": [{"name": "d"}],
                            "primitiveTransformation": {
                                "dateShiftConfig": {
                                    "lowerBoundDays": 0,
                                    "upperBoundDays": 10,
                                    "context": {"name": "k"},
                                }
                            },
                        }
                    ]
                }
            }
        },
        crypto_key=KEY16,
    )
    import dlp_dataflow_deidentification_spark as dds

    shifted = dds.deidentify(df.withColumn("d", F.col("d").cast("timestamp")), t)
    rows = shifted.join(
        df.select(F.col("k").alias("k2"), F.col("d").cast("timestamp").alias("base")),
        F.col("k") == F.col("k2"),
    ).select((F.col("d").cast("date") >= F.col("base").cast("date")).alias("fwd")).collect()
    assert all(r.fwd for r in rows)


def test_date_shift_md5_basis(spark):
    """hash_basis='md5' (the oracle-portable PRF): deterministic per context,
    bounded, uniform construction identical to the DuckDB-side recompute —
    and distributionally different from xxhash64 (they are different PRFs,
    so at least one of 28 contexts must shift differently)."""
    df = spark.createDataFrame(
        [(f"2024-01-{d:02d} 00:00:00", f"u{d % 14}") for d in range(1, 29)],
        "d string, k string",
    )
    out = df.select(
        F.col("d").cast("timestamp").alias("base"),
        F.col("k"),
        transforms.date_shift(
            F.col("d"), F.col("k"), KEY16, max_days=10, min_days=0, hash_basis="md5"
        ).alias("md5_o"),
        transforms.date_shift(
            F.col("d"), F.col("k"), KEY16, max_days=10, min_days=0
        ).alias("xx_o"),
    ).collect()
    md5_days = {r.k: (r.md5_o - r.base).days for r in out}
    per_row = [(r.k, (r.md5_o - r.base).days) for r in out]
    assert all(0 <= d <= 10 for d in md5_days.values())
    # deterministic per context key across rows
    assert all(md5_days[k] == d for k, d in per_row)
    xx_days = {r.k: (r.xx_o - r.base).days for r in out}
    assert md5_days != xx_days  # different PRFs
    with pytest.raises(ValueError, match="hash_basis"):
        transforms.date_shift(F.col("d"), F.col("k"), KEY16, hash_basis="sha1")


def test_template_validates_date_shift_basis_eagerly():
    """A typo'd date_shift_basis must fail loudly even on a template with no
    dateShiftConfig primitive (same eager rule as hash_mode)."""
    from dlp_dataflow_deidentification_spark.plans.config import DeidTemplate

    doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "x"}],
                        "primitiveTransformation": {
                            "timePartConfig": {"partToExtract": "YEAR"}
                        },
                    }
                ]
            }
        }
    }
    with pytest.raises(ValueError, match="date_shift_basis"):
        DeidTemplate.from_dict(doc, date_shift_basis="md-5")
    DeidTemplate.from_dict(doc, date_shift_basis="md5")  # valid spelling ok


def test_character_mask_counts_preexisting_mask_chars(spark):
    """The mask character in the INPUT is maskable and counts toward
    number_to_mask (the old chained-regexp form skipped it and masked a 4th
    character beyond the configured count)."""
    df = spark.createDataFrame([("x*yz",)], "t string")
    out = df.select(
        transforms.character_mask(
            F.col("t"), "*", number_to_mask=3, characters_to_skip="-"
        ).alias("v")
    ).collect()[0].v
    assert out == "***z"


def test_character_mask_common_chars_to_ignore_template(spark):
    """commonCharactersToIgnore=PUNCTUATION preserves SSN dashes."""
    from dlp_dataflow_deidentification_spark.plans.config import DeidTemplate

    t = DeidTemplate.from_dict(
        {
            "deidentifyConfig": {
                "recordTransformations": {
                    "fieldTransformations": [
                        {
                            "fields": [{"name": "ssn"}],
                            "primitiveTransformation": {
                                "characterMaskConfig": {
                                    "maskingCharacter": "#",
                                    "charactersToIgnore": [
                                        {"commonCharactersToIgnore": "PUNCTUATION"}
                                    ],
                                }
                            },
                        }
                    ]
                }
            }
        }
    )
    import dlp_dataflow_deidentification_spark as dds

    df = spark.createDataFrame([("552-09-1234",)], "ssn string")
    assert dds.deidentify(df, t).collect()[0].ssn == "###-##-####"


def test_bucketing_open_ended_bounds(spark):
    from dlp_dataflow_deidentification_spark.plans.config import _parse_buckets

    bks, numeric = _parse_buckets(
        [
            {"max": {"integerValue": 10}, "replacementValue": {"stringValue": "low"}},
            {
                "min": {"integerValue": 10},
                "max": {"integerValue": 20},
                "replacementValue": {"stringValue": "mid"},
            },
            {"min": {"integerValue": 20}, "replacementValue": {"stringValue": "high"}},
        ]
    )
    df = spark.createDataFrame([(-5,), (15,), (99,)], "v int")
    out = [r.b for r in df.select(transforms.bucketing(F.col("v"), bks, numeric).alias("b")).collect()]
    assert out == ["low", "mid", "high"]


def test_character_mask_skip_long_input_linear(spark):
    """100 kB cell through the skip-character path: the arithmetic-cut form
    is O(len) per cell (the old per-character string-concat fold copied
    O(len²) bytes — ~10 GB for this input). Asserts correctness on a long
    mixed cell and that the whole call returns promptly."""
    import time

    long_cell = ("ab-" * 33000) + "xyz"  # ~102 kB, skips interleaved
    t0 = time.time()
    out = run1(
        spark,
        [long_cell],
        lambda c: transforms.character_mask(c, "*", 4, False, "-"),
    )
    assert out == ["**-**-" + long_cell[6:]]
    # reverse: mask the LAST 4 maskable chars
    out_r = run1(
        spark,
        [long_cell],
        lambda c: transforms.character_mask(c, "*", 4, True, "-"),
    )
    # last 4 maskable chars are b,x,y,z (the '-' is preserved in place)
    assert out_r == [long_cell[:-6] + "a*-***"]
    # mask char present in the DATA still counts as maskable (regression
    # guard for the old chained-regexp bug)
    out_d = run1(
        spark, ["*a-b"], lambda c: transforms.character_mask(c, "*", 2, False, "-")
    )
    assert out_d == ["**-b"]
    assert time.time() - t0 < 60  # generous; the quadratic form would hang


def test_crypto_hash_hmac_bit_parity_with_python_hmac(spark):
    """hash_mode='hmac' reproduces the reference template's ACTUAL
    construction (deid-template.json:17-27: HMAC-SHA-256 under a key):
    bit-equality against stdlib hmac, base64 like the DLP service emits;
    hex shape optional. The native sha256(key||value) default is a
    different (documented) construction."""
    import base64
    import hashlib
    import hmac

    vals = ["4111 1111 1111 1111", "", "héllo", None]
    out64 = run1(spark, vals, lambda c: crypto.crypto_hash_hmac(c, KEY16))
    outhex = run1(spark, vals, lambda c: crypto.crypto_hash_hmac(c, KEY16, "hex"))
    for v, got64, gothex in zip(vals, out64, outhex):
        if v is None:
            assert got64 is None and gothex is None
            continue
        mac = hmac.new(KEY16.encode(), v.encode(), hashlib.sha256)
        assert got64 == base64.b64encode(mac.digest()).decode()
        assert gothex == mac.hexdigest()
    # differs from the native keyed-prefix construction (same contract,
    # different bits — the documented deviation this mode closes)
    native = run1(spark, ["x"], lambda c: transforms.crypto_hash(c, KEY16))
    assert outhex[0] != native[0]

    with pytest.raises(ValueError, match="encoding"):
        crypto.crypto_hash_hmac(F.col("v"), KEY16, "raw")


def test_template_hash_mode_knob(spark):
    """The template compiler selects the HMAC path via hash_mode='hmac'."""
    import base64
    import hashlib
    import hmac

    from dlp_dataflow_deidentification_spark.plans.config import DeidTemplate

    doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "v"}],
                        "primitiveTransformation": {"cryptoHashConfig": {
                            "cryptoKey": {"kmsWrapped": {}}}},
                    }
                ]
            }
        }
    }
    t = DeidTemplate.from_dict(doc, crypto_key=KEY16, hash_mode="hmac")
    df = col_of(spark, ["552-09-6781"])
    out = [r.v for r in __import__("dlp_dataflow_deidentification_spark").deidentify(df, t).collect()]
    want = base64.b64encode(
        hmac.new(KEY16.encode(), b"552-09-6781", hashlib.sha256).digest()
    ).decode()
    assert out == [want]

    with pytest.raises(ValueError, match="hash_mode"):
        DeidTemplate.from_dict(doc, crypto_key=KEY16, hash_mode="md5")


def test_template_hash_mode_defaults_to_hmac():
    """The compiler's DEFAULT cryptoHashConfig is now strict HMAC-SHA-256
    (the reference template's actual construction, deid-template.json:17-27)
    — an unconfigured migration matches real DLP tokens bit-for-bit;
    sha256(key||value) is the explicit opt-in (the oracle-expressible form).
    Mode knobs are validated eagerly: a typo fails compile even when the
    template has no primitive that would reach the matching branch."""
    import base64
    import hashlib
    import hmac

    from dlp_dataflow_deidentification_spark.plans.config import DeidTemplate

    doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "v"}],
                        "primitiveTransformation": {"cryptoHashConfig": {
                            "cryptoKey": {"kmsWrapped": {}}}},
                    }
                ]
            }
        }
    }
    t = DeidTemplate.from_dict(doc, crypto_key=KEY16)  # no hash_mode
    col = t.transformations[0].builder(F.lit("552-09-6781"))
    # expression-level check: compare against stdlib hmac via a literal fold
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    got = spark.range(1).select(col.alias("v")).collect()[0].v
    want = base64.b64encode(
        hmac.new(KEY16.encode(), b"552-09-6781", hashlib.sha256).digest()
    ).decode()
    assert got == want

    # eager knob validation: no characterMask-only escape hatch for typos
    mask_doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "v"}],
                        "primitiveTransformation": {"characterMaskConfig": {}},
                    }
                ]
            }
        }
    }
    with pytest.raises(ValueError, match="hash_mode"):
        DeidTemplate.from_dict(mask_doc, hash_mode="hmca")


def test_crypto_hash_hmac_long_key_and_nulls(spark):
    """RFC 2104 long-key rule (keys > 64 bytes are hashed down first) and
    null propagation through the native two-sha2 composition."""
    import base64
    import hashlib
    import hmac

    long_key = "k" * 100
    vals = ["x", None]
    out = run1(spark, vals, lambda c: crypto.crypto_hash_hmac(c, long_key))
    want = base64.b64encode(
        hmac.new(long_key.encode(), b"x", hashlib.sha256).digest()
    ).decode()
    assert out == [want, None]


def test_crypto_hash_rendering_of_nonstring_columns(spark):
    """Both hash modes render non-string cells with Spark's cast('string')
    BEFORE hashing — one rendering contract across all engine code paths
    (the earlier pandas-UDF HMAC used Python str(), which renders doubles
    and booleans differently, e.g. '1e+20' vs '1.0E20' and 'True' vs
    'true'; tokens minted by different paths must agree)."""
    import base64
    import hashlib
    import hmac

    df = spark.createDataFrame(
        [(1e20, True, 42)], "d double, b boolean, i long"
    )
    rendered = df.select(
        F.col("d").cast("string").alias("d"),
        F.col("b").cast("string").alias("b"),
        F.col("i").cast("string").alias("i"),
    ).first()
    assert (rendered.d, rendered.b, rendered.i) == ("1.0E20", "true", "42")
    got = df.select(
        crypto.crypto_hash_hmac(F.col("d"), KEY16).alias("hd"),
        crypto.crypto_hash_hmac(F.col("b"), KEY16).alias("hb"),
        transforms.crypto_hash(F.col("d"), KEY16).alias("sd"),
    ).first()
    mac = lambda m: base64.b64encode(
        hmac.new(KEY16.encode(), m.encode(), hashlib.sha256).digest()
    ).decode()
    assert got.hd == mac("1.0E20") and got.hb == mac("true")
    assert got.sd == hashlib.sha256((KEY16 + "1.0E20").encode()).hexdigest()


# --- FF1 format-preserving encryption (cryptoReplaceFfxFpeConfig) ---------

NIST_KEY128 = bytes.fromhex("2B7E151628AED2A6ABF7158809CF4F3C")
NIST_KEY256 = bytes.fromhex(
    "2B7E151628AED2A6ABF7158809CF4F3CEF4359D8D580AA4F7F036D6F04FC6A94"
)
LOWER36 = "0123456789abcdefghijklmnopqrstuvwxyz"


@pytest.mark.parametrize(
    "key,alphabet,tweak_hex,pt,ct",
    [
        # NIST SP 800-38G FF1 sample vectors (public) — samples 1-3 (AES-128)
        (NIST_KEY128, "NUMERIC", "", "0123456789", "2433477484"),
        (NIST_KEY128, "NUMERIC", "39383736353433323130", "0123456789", "6124200773"),
        (
            NIST_KEY128,
            LOWER36,
            "3737373770717273373737",
            "0123456789abcdefghi",
            "a9tv40mll9kdu509eum",
        ),
        # sample 7 (AES-256)
        (NIST_KEY256, "NUMERIC", "", "0123456789", "6657667009"),
    ],
)
def test_ff1_nist_sample_vectors(key, alphabet, tweak_hex, pt, ct):
    from dlp_dataflow_deidentification_spark.functions.fpe import FF1

    f = FF1(key, alphabet)
    tweak = bytes.fromhex(tweak_hex)
    assert f.encrypt(pt, tweak) == ct
    assert f.decrypt(ct, tweak) == pt


def test_ff1_batch_codec_equals_scalar():
    """codec_batch (the vectorized Feistel used by the pandas UDF) is
    bit-identical to the NIST-vector-pinned scalar encrypt/decrypt across
    alphabets, value lengths (incl. past the uint64 fast-path envelope,
    which must fall back) and mixed per-row tweaks."""
    import random

    from dlp_dataflow_deidentification_spark.functions.fpe import FF1

    rnd = random.Random(11)
    for alphabet in ("NUMERIC", "HEXADECIMAL", LOWER36, "ALPHA_NUMERIC"):
        f = FF1(NIST_KEY256, alphabet)
        vals, tweaks = [], []
        for _ in range(200):
            n = rnd.choice([f.minlen, 4, 7, 16, 19, 25, 40])
            vals.append("".join(rnd.choice(f.alphabet) for _ in range(n)))
            tweaks.append(rnd.choice([b"", b"ctx", b"9", b"a-much-longer-tweak"]))
        enc = f.codec_batch(vals, tweaks, True)
        assert enc == [f.encrypt(v, t) for v, t in zip(vals, tweaks)]
        assert f.codec_batch(enc, tweaks, False) == vals


def test_ff1_reidentify_corrupt_envelope_tolerant_and_strict(spark):
    """A truncated/corrupt envelope (no colon, or declared length not
    matching the body) must not crash the task: tolerant mode nulls the
    cell, strict mode raises a ValueError."""
    from dlp_dataflow_deidentification_spark.functions import fpe

    key = fpe.derive_fpe_key(KEY16)
    corrupt = ["PAN_TOKEN(16", "PAN_TOKEN(5):123456", "PAN_TOKEN(x):123456"]
    df = col_of(spark, corrupt + ["plain-pass-through"])
    rows = df.select(
        "v",
        fpe.ff1_reidentify(
            F.col("v"), key, surrogate_info_type="PAN_TOKEN", strict=False
        ).alias("r"),
    ).collect()
    got = {r["v"]: r["r"] for r in rows}
    assert all(got[c] is None for c in corrupt)
    assert got["plain-pass-through"] == "plain-pass-through"
    with pytest.raises(Exception, match="non-conforming FF1 token"):
        col_of(spark, ["PAN_TOKEN(16"]).select(
            fpe.ff1_reidentify(
                F.col("v"), key, surrogate_info_type="PAN_TOKEN", strict=True
            )
        ).collect()


def test_ff1_tokenize_format_preserving_and_roundtrip(spark):
    """Token has the same length/alphabet as the input; non-domain values
    (wrong chars / too short) pass through verbatim; roundtrip is exact."""
    from dlp_dataflow_deidentification_spark.functions import fpe

    key = fpe.derive_fpe_key(KEY16)
    vals = ["4111111111111111", "0000", "12-34", "7", None]
    df = col_of(spark, vals)
    tok = df.select(
        F.col("v"), fpe.ff1_tokenize(F.col("v"), key).alias("t")
    )
    rows = {r["v"]: r["t"] for r in tok.collect()}
    assert rows["4111111111111111"] != "4111111111111111"
    assert len(rows["4111111111111111"]) == 16
    assert rows["4111111111111111"].isdigit()
    assert rows["0000"].isdigit() and len(rows["0000"]) == 4
    assert rows["12-34"] == "12-34"  # '-' outside NUMERIC → passthrough
    assert rows["7"] == "7"  # below minlen → passthrough
    assert rows[None] is None
    back = tok.select(
        "v", fpe.ff1_reidentify(F.col("t"), key).alias("r")
    ).collect()
    assert all(r["r"] == r["v"] for r in back)


def test_ff1_context_tweak_changes_token(spark):
    """DLP context field = per-row tweak: same plaintext under different
    contexts mints different tokens, and reid needs the same context."""
    from dlp_dataflow_deidentification_spark.functions import fpe

    key = fpe.derive_fpe_key(KEY16)
    df = spark.createDataFrame(
        [("123456", "custA"), ("123456", "custB")], "v string, ctx string"
    )
    tok = df.select(
        "v", "ctx", fpe.ff1_tokenize(F.col("v"), key, context=F.col("ctx")).alias("t")
    )
    ts = [r["t"] for r in tok.collect()]
    assert ts[0] != ts[1]
    back = tok.select(
        "v", fpe.ff1_reidentify(F.col("t"), key, context=F.col("ctx")).alias("r")
    ).collect()
    assert all(r["r"] == r["v"] for r in back)


def test_ff1_surrogate_envelope(spark):
    from dlp_dataflow_deidentification_spark.functions import fpe

    key = fpe.derive_fpe_key(KEY16)
    df = col_of(spark, ["987654", "not-numeric"])
    tok = df.select(
        "v",
        fpe.ff1_tokenize(F.col("v"), key, surrogate_info_type="PAN_TOKEN").alias("t"),
    )
    rows = {r["v"]: r["t"] for r in tok.collect()}
    assert rows["987654"].startswith("PAN_TOKEN(6):")
    assert rows["987654"].split(":", 1)[1].isdigit()
    assert rows["not-numeric"] == "not-numeric"  # passthrough keeps no envelope
    back = tok.select(
        "v",
        fpe.ff1_reidentify(
            F.col("t"), key, surrogate_info_type="PAN_TOKEN"
        ).alias("r"),
    ).collect()
    assert all(r["r"] == r["v"] for r in back)


def test_ff1_strict_raises_on_non_domain_value(spark):
    from dlp_dataflow_deidentification_spark.functions import fpe

    key = fpe.derive_fpe_key(KEY16)
    df = col_of(spark, ["12-34"])
    with pytest.raises(Exception, match="FF1 domain"):
        df.select(fpe.ff1_tokenize(F.col("v"), key, strict=True)).collect()


def test_ffx_template_compile_and_reidentify(spark):
    """cryptoReplaceFfxFpeConfig through the template compiler: alphabet
    oneof (commonAlphabet / customAlphabet / radix), context plumbing,
    surrogate registration, reidentify(mode='ffx') inverse."""
    import dlp_dataflow_deidentification_spark as dds
    from dlp_dataflow_deidentification_spark.plans.config import _ffx_alphabet

    doc = {
        "deidentifyConfig": {
            "recordTransformations": {
                "fieldTransformations": [
                    {
                        "fields": [{"name": "pan"}],
                        "primitiveTransformation": {
                            "cryptoReplaceFfxFpeConfig": {
                                "commonAlphabet": "NUMERIC",
                                "surrogateInfoType": {"name": "PAN_TOKEN"},
                                "context": {"name": "cust"},
                            }
                        },
                    }
                ]
            }
        }
    }
    template = dds.DeidTemplate.from_dict(doc, crypto_key=KEY16)
    assert template.surrogates == {"pan": "PAN_TOKEN"}
    df = spark.createDataFrame(
        [("4111111111111111", "a"), ("4111111111111111", "b")],
        "pan string, cust string",
    )
    deid = dds.deidentify(df, template)
    toks = [r["pan"] for r in deid.collect()]
    assert all(t.startswith("PAN_TOKEN(16):") for t in toks)
    assert toks[0] != toks[1]  # context tweak separates identical plaintexts
    back = dds.reidentify(
        deid,
        ["pan"],
        KEY16,
        surrogate_info_type="PAN_TOKEN",
        mode="ffx",
        context="cust",
    )
    assert [r["pan"] for r in back.collect()] == ["4111111111111111"] * 2
    # alphabet oneof resolution
    assert _ffx_alphabet({"radix": 16}) == "0123456789abcdef"
    assert _ffx_alphabet({"customAlphabet": "ACGT"}) == "ACGT"
    with pytest.raises(ValueError, match="radix"):
        _ffx_alphabet({"radix": 96})
    with pytest.raises(ValueError, match="commonAlphabet"):
        _ffx_alphabet({"commonAlphabet": "KLINGON"})
    with pytest.raises(ValueError, match="needs"):
        _ffx_alphabet({})
