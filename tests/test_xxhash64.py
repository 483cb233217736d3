"""The numpy XXH64 port is pinned bit-identical to Spark's ``xxhash64``."""
import random

import numpy as np
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.functions import xxhash64


def test_hash_ranges_equals_spark_on_random_utf8(spark):
    """≥3k random strings of 0–140 characters mixing 1- to 4-byte UTF-8
    characters, hashed as byte ranges of one buffer: every byte-length tail
    case (length mod 32 below and above one 32-byte stripe, so every mix of
    8-byte words, 4-byte word and trailing bytes) is covered."""
    rng = random.Random(20261017)
    alphabet = "abcXYZ019 \t.é߿€中￿😀\U0010ffff"
    strs = [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 140)))
        for _ in range(3000)
    ]
    enc = [s.encode("utf-8") for s in strs]
    lengths = np.array([len(e) for e in enc], dtype=np.int64)
    assert {n % 32 for n in lengths if n < 32} == set(range(32))
    assert {n % 32 for n in lengths if n >= 32} == set(range(32))
    assert {len(c.encode("utf-8")) for s in strs for c in s} == {1, 2, 3, 4}
    starts = np.cumsum(lengths) - lengths
    got = xxhash64.hash_ranges(b"".join(enc), starts, lengths)

    df = spark.createDataFrame(list(enumerate(strs)), "i int, s string")
    want = {r.i: r.h for r in df.select("i", F.xxhash64("s").alias("h")).collect()}
    assert [int(h) for h in got] == [want[i] for i in range(len(strs))]


def test_int_then_long_chain_equals_spark_band_keys(spark):
    """``hash_int`` → ``hash_long`` chaining equals
    ``xxhash64(lit(b), slice(sig, ...))``, the MinHash band key."""
    rng = random.Random(7)
    bands, rows = 6, 3
    sigs = [
        [rng.choice([0, -1, 2**63 - 1, -(2**63), rng.randint(-(2**63), 2**63 - 1)])
         for _ in range(bands * rows)]
        for _ in range(300)
    ]
    df = spark.createDataFrame(list(enumerate(sigs)), "i int, sig array<long>")
    keys = [F.xxhash64(F.lit(b), F.slice("sig", b * rows + 1, rows)) for b in range(bands)]
    want = {r.i: list(r.k) for r in df.select("i", F.array(*keys).alias("k")).collect()}

    sig = np.array(sigs, dtype=np.int64)
    got = np.repeat(xxhash64.hash_int(np.arange(bands))[None, :], len(sigs), axis=0)
    for r in range(rows):
        got = xxhash64.hash_long(sig[:, r::rows], got)
    assert [list(map(int, g)) for g in got] == [want[i] for i in range(len(sigs))]
