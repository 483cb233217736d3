"""Property-based tests (hypothesis): invariants the reference's CI never
checks but our engine guarantees. One shared Spark round-trip helper batches
each property's examples into a single job to keep runtime sane."""
import re
import string

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.functions import crypto, infotypes, transforms
from dlp_dataflow_deidentification_spark.plans.config import derive_siv_key

KEY = "0123456789abcdef"

# printable-ish text including PII-like fragments
TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + " .-@:()[]+",
    min_size=0,
    max_size=120,
)


def run_col(spark, values, expr_fn):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(expr_fn(F.col("v")).alias("o")).collect()]


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_crypto_roundtrip_property(spark, values):
    key = derive_siv_key(KEY)
    toks = run_col(spark, values, lambda c: crypto.siv_tokenize(c, key))
    back = run_col(spark, toks, lambda c: crypto.siv_reidentify(c, key))
    assert back == values
    # determinism: equal plaintexts ⇒ equal tokens, and vice versa
    for v, t in zip(values, toks):
        for v2, t2 in zip(values, toks):
            assert (v == v2) == (t == t2)


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_replace_with_infotype_matches_python_re(spark, values):
    dets = [infotypes.resolve(n) for n in infotypes.DEFAULT_DETECTOR_ORDER]
    got = run_col(spark, values, lambda c: transforms.replace_with_infotype(c, dets))
    for v, g in zip(values, got):
        expect = v
        for it in dets:
            expect = re.sub(it.pattern, f"[{it.name}]", expect)
        assert g == expect


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.text(alphabet=string.ascii_letters + "-", min_size=0, max_size=30), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=8),
)
def test_character_mask_invariants(spark, values, n):
    got = run_col(
        spark, values, lambda c: transforms.character_mask(c, "*", n, False, "-")
    )
    for v, g in zip(values, got):
        assert len(g) == len(v)  # masking never changes length
        # skip chars preserved in place
        for i, ch in enumerate(v):
            if ch == "-":
                assert g[i] == "-"
        # number of masked positions == min(n, maskable count)
        maskable = sum(1 for ch in v if ch != "-")
        n_masked = sum(1 for b in g if b == "*")
        assert n_masked == min(n, maskable)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.floats(min_value=-1000, max_value=1000, allow_nan=False), min_size=1, max_size=8))
def test_fixed_size_bucketing_total(spark, values):
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = [
        r[0]
        for r in df.select(
            transforms.fixed_size_bucketing(F.col("v"), 0, 100, 10).alias("o")
        ).collect()
    ]
    for v, g in zip(values, got):
        if v < 0:
            assert g == "<0.0"
        elif v >= 100:
            assert g == ">=100.0"
        else:
            lo = (int(v) // 10) * 10
            assert g == f"{float(lo)}-{float(lo+10)}"


# random text with whole PII fragments in random order, so rows hold
# several findings from different detectors
PII_TEXT = st.lists(
    st.one_of(
        TEXT,
        st.sampled_from([
            "a@b.co", "415-555-0199", "123-45-6789", "4111 1111 1111 1111",
            "DE44 5001 0517 5407 3249 31", "name:0000000000000066",
        ]),
    ),
    max_size=6,
).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(PII_TEXT, min_size=1, max_size=6))
def test_inspect_quotes_substring_property(spark, values):
    """Every finding is a real substring. The capped path (the Python-``re``
    scanner) keeps the first two findings of a pure-Python scan in (start,
    detector index) order, and a cap above every row's count gives the
    uncapped JVM path's multiset: Java regex and Python ``re`` agree."""
    from dlp_dataflow_deidentification_spark.operators.inspect import inspect

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "rid int, text string"
    )
    dets = [infotypes.resolve(n) for n in infotypes.DEFAULT_DETECTOR_ORDER]

    def run(cap=None):
        out = inspect(df, dets, ["text"], ["rid"], max_findings_per_item=cap)
        return sorted((r.rid, r.info_type_name, r.quote) for r in out.collect())

    rows = run()
    for rid, _, quote in rows:
        assert quote in values[rid]  # every finding is a real substring
    scan = [
        sorted(
            (m.start(), di, it.name, m.group(0))
            for di, it in enumerate(dets)
            for m in re.finditer(it.pattern, v)
        )
        for v in values
    ]
    assert run(2) == sorted(
        (rid, name, q) for rid, fs in enumerate(scan) for _, _, name, q in fs[:2]
    )
    assert run(max(map(len, scan)) + 1) == rows


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=2000), max_size=60),
    carry_bytes=st.integers(min_value=0, max_value=3000),
    carry_rows=st.integers(min_value=0, max_value=5),
    max_bytes=st.integers(min_value=1, max_value=1500),
)
def test_vectorized_packer_equals_scalar_greedy(sizes, carry_bytes, carry_rows, max_bytes):
    """pack_greedy (cumsum+searchsorted) must reproduce the scalar greedy
    rule exactly for any size sequence and any carried-in buffer state
    (the BatchRequestForDLP bag-packing contract)."""
    from dlp_dataflow_deidentification_spark.streaming.stateful import pack_greedy

    if carry_rows == 0:
        carry_bytes = 0
    elif carry_bytes == 0:
        carry_rows = 0

    def scalar():
        buf_b, buf_r, seq, out = carry_bytes, carry_rows, 7, []
        for n in sizes:
            if buf_r and buf_b + n > max_bytes:
                out.append((seq, buf_r, buf_b))
                seq += 1
                buf_b = buf_r = 0
            buf_b += n
            buf_r += 1
        return out, (buf_b, buf_r, seq)

    got = pack_greedy(sizes, carry_bytes, carry_rows, 7, max_bytes)
    want = scalar()
    assert (got[0], tuple(got[1])) == (want[0], tuple(want[1]))


# ---------------------------------------------------------------------------
# bucketed session fold ≡ per-key scalar fold (pure pandas, no Spark job):
# the super-key mode's two-cumsum merge (including the carried-session
# running-max rule) must reproduce the scalar per-key fold on arbitrary
# timestamps — ties, negative ms, carried sessions overlapping/bridging
# chunk sessions, late rows before the carried start.
# ---------------------------------------------------------------------------


def _scalar_fold(rows_ms_pii, carried, gap_ms):
    """The per-key reference fold (streaming/stateful.py::_sessions semantics):
    rows sorted by ms, split when ms - running_last >= gap, min/max merge."""
    n, npii, first, last = carried
    out = []
    for ms, pii in sorted(rows_ms_pii, key=lambda x: x[0]):
        if n and ms - last >= gap_ms:
            out.append((n, npii, first, last))
            n, npii = 0, 0
        n += 1
        npii += pii
        first = ms if n == 1 else min(first, ms)
        last = ms if n == 1 else max(last, ms)
    return out, (n, npii, first, last)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # conv id (few keys → collisions)
            st.integers(min_value=-50, max_value=50),  # ms (small range → ties/gaps)
            st.booleans(),  # pii flag
        ),
        min_size=1,
        max_size=40,
    ),
    st.dictionaries(  # carried open sessions per conv
        st.integers(min_value=0, max_value=3),
        st.tuples(
            st.integers(min_value=1, max_value=5),  # n
            st.integers(min_value=0, max_value=5),  # npii
            st.integers(min_value=-60, max_value=60),  # first
            st.integers(min_value=-60, max_value=60),  # last
        ),
        max_size=4,
    ),
)
def test_fold_bucket_equals_scalar_fold_property(rows, carried_raw):
    import pandas as pd

    from dlp_dataflow_deidentification_spark.streaming.stateful import _fold_bucket

    GAP = 10
    # normalize carried: first <= last
    carried = {
        str(c): [n, npii, min(f, l), max(f, l)]
        for c, (n, npii, f, l) in carried_raw.items()
    }
    pdf = pd.DataFrame(
        {
            "conv_id": [str(c) for c, _, _ in rows],
            "ts": pd.to_datetime([ms * 1_000_000 for _, ms, _ in rows], unit="ns"),
            "text": ["[PII]" if p else "x" for _, _, p in rows],
        }
    )
    sessions, is_open = _fold_bucket(pdf, dict(carried), GAP)

    convs = sorted(set(pdf["conv_id"]) | set(carried))
    for conv in convs:
        rows_c = [
            (ms, int(p)) for c, ms, p in rows if str(c) == conv
        ]
        want_closed, want_open = _scalar_fold(
            rows_c, tuple(carried.get(conv, (0, 0, 0, 0))), GAP
        )
        got = sessions[sessions["conv_id"] == conv]
        got_closed = [
            (r.n_turns, r.n_pii_turns, r.first_ms, r.last_ms)
            for r, op in zip(got.itertuples(), is_open[got.index.to_numpy()])
            if not op
        ]
        got_open = [
            (r.n_turns, r.n_pii_turns, r.first_ms, r.last_ms)
            for r, op in zip(got.itertuples(), is_open[got.index.to_numpy()])
            if op
        ]
        assert sorted(got_closed) == sorted(want_closed), (conv, rows_c, carried)
        if rows_c or conv in carried:
            assert got_open == [want_open], (conv, rows_c, carried)
