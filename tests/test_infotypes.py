"""Detector registry tests: every builtin pattern matches its canonical
examples and stays inside the Java/RE2/Python common regex subset."""
import re

import pytest
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.functions import infotypes

EXAMPLES = {
    "EMAIL_ADDRESS": ("contact jkocher0@163.com now", "jkocher0@163.com"),
    "IBAN_CODE": ("iban NO36 7396 1123 641 ok", "NO36 7396 1123 641"),
    "CREDIT_CARD_NUMBER": ("card 4111 1111 1111 1111 soon", "4111 1111 1111 1111"),
    "US_SOCIAL_SECURITY_NUMBER": ("ssn 552-09-6781.", "552-09-6781"),
    "PHONE_NUMBER": ("call 904-386-0118 today", "904-386-0118"),
    "IP_ADDRESS": ("from 10.0.42.17 port", "10.0.42.17"),
    "IPV6_ADDRESS": ("at 2001:0db8:85a3:0000:0000:8a2e:0370:7334!", "2001:0db8:85a3:0000:0000:8a2e:0370:7334"),
    "MAC_ADDRESS": ("nic 00:1a:2b:3c:4d:5e up", "00:1a:2b:3c:4d:5e"),
    "URL": ("see https://example.com/a/b?x=1 please", "https://example.com/a/b?x=1"),
    "DATE_OF_BIRTH": ("dob: 1990-04-12 noted", "dob: 1990-04-12"),
    "US_PASSPORT": ("passport# X1234567 scanned", "passport# X1234567"),
}


@pytest.mark.parametrize("name", sorted(EXAMPLES))
def test_builtin_detector_python_re(name):
    text, expect = EXAMPLES[name]
    it = infotypes.resolve(name)
    m = re.search(it.pattern, text)
    assert m and m.group(0) == expect


def test_all_builtins_match_identically_in_spark_and_duckdb(spark):
    """The common-subset guarantee, end to end: for every builtin detector,
    Spark's JVM regex and DuckDB's RE2 extract the same quotes."""
    import duckdb

    con = duckdb.connect()
    for name, (text, expect) in EXAMPLES.items():
        it = infotypes.resolve(name)
        got_spark = (
            spark.createDataFrame([(text,)], "t string")
            .select(F.regexp_extract_all("t", F.lit(it.pattern), F.lit(0)).alias("m"))
            .collect()[0][0]
        )
        pat = it.pattern.replace("'", "''")
        got_duck = con.execute(
            f"SELECT regexp_extract_all('{text}', '{pat}')"
        ).fetchone()[0]
        assert got_spark == got_duck == [expect], name


def test_no_lookarounds_or_backrefs_in_registry():
    for it in list(infotypes.BUILTIN_INFOTYPES.values()) + [infotypes.ONLINE_USER_ID]:
        assert "(?=" not in it.pattern and "(?<" not in it.pattern and "(?!" not in it.pattern
        assert not re.search(r"\\[1-9]", it.pattern)


def test_dictionary_words_with_regex_metacharacters_match_literally(spark):
    """Dictionary words are user data, not regex: metacharacters must match
    literally and identically in Spark, Python re, and DuckDB RE2."""
    import duckdb
    from pyspark.sql import functions as F

    words = ["a.b", "c+d", "x(y)z", "price $5", "q*r"]
    det = infotypes.dictionary("META", words)
    text = "saw a.b and aXb plus c+d, x(y)z, price $5, q*r end"
    want = sorted(["a.b", "c+d", "x(y)z", "price $5", "q*r"])

    got_py = sorted(det.compiled().findall(text))
    got_spark = sorted(
        spark.createDataFrame([(text,)], "t string")
        .select(F.regexp_extract_all("t", F.lit(det.pattern), F.lit(0)).alias("m"))
        .collect()[0][0]
    )
    pat = det.pattern.replace("'", "''")
    got_duck = sorted(
        duckdb.connect().execute(f"SELECT regexp_extract_all('{text}', '{pat}')").fetchone()[0]
    )
    assert got_py == got_spark == got_duck == want
    assert "aXb" not in got_py  # '.' is literal, not any-char


def test_empty_matching_detector_patterns_rejected():
    """A pattern matching the empty string 'matches' at every position and
    breaks the DuckDB oracle's offset derivation (split vs
    regexp_extract_all disagree on empty matches) — rejected at
    construction, as is an empty/empty-word dictionary (which renders the
    empty-matching '\\b(?:)\\b')."""
    import pytest as _pytest

    from dlp_dataflow_deidentification_spark.functions.infotypes import (
        custom_regex,
        dictionary,
    )

    with _pytest.raises(ValueError, match="empty"):
        custom_regex("X", r"[0-9]*")
    with _pytest.raises(ValueError, match="non-empty word"):
        dictionary("D", [])
    with _pytest.raises(ValueError, match="non-empty word"):
        dictionary("D", ["ok", ""])
    # anchored-to-content patterns still construct
    assert custom_regex("X", r"[0-9]+").pattern == r"[0-9]+"
    assert dictionary("D", ["alpha"]).name == "D"
