"""Dedup operator tests with planted duplicates (ground truth known)."""
import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dlp_dataflow_deidentification_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    """documents ∪ mutated copies: doc_id+100000 = near-dup of doc_id (one
    appended token); doc_id+200000 = exact dup. Deterministic ground truth."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    near = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing marker token")).alias("text"),
    )
    exact = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return base.unionByName(near).unionByName(exact).cache()


def test_exact_dedup(spark, docs):
    # ground truth from the data itself: larger SFs contain a handful of
    # naturally-duplicated base texts in addition to the planted +200000 dups
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    n_groups = docs.select(norm.alias("n")).distinct().count()
    n_multi = (
        docs.select(norm.alias("n")).groupBy("n").count().filter("count > 1").count()
    )
    out = dedup.exact_dedup(docs)
    assert out.count() == n_groups  # one winner per distinct normalized text
    dup_rows = out.filter("n_copies > 1")
    assert dup_rows.count() == n_multi
    assert dup_rows.filter("doc_id >= 100000").count() == 0  # winner is always a base id
    # every planted exact dup (+200000) collapsed onto its base
    assert out.filter("doc_id >= 200000").count() == 0


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, num_hashes=64, bands=16, shingle_n=5, threshold=0.5
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    planted = {
        (r.doc_id, r.doc_id + 100000)
        for r in docs.filter("doc_id < 100000").filter(F.col("doc_id") % 5 == 0).collect()
    }
    exact_planted = {
        (r.doc_id, r.doc_id + 200000)
        for r in docs.filter("doc_id < 100000").filter(F.col("doc_id") % 7 == 0).collect()
    }
    # exact dups: jaccard 1.0 → recall must be 100%
    assert exact_planted <= got
    # near dups (one token appended, high jaccard): ≥95% recall via 16 bands
    recall = len(planted & got) / len(planted)
    assert recall >= 0.95, f"minhash recall {recall}"
    # exact verification on exact pairs
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert all(jac[p] == 1.0 for p in exact_planted)


def test_ngram_jaccard_exact_pairs(spark, docs):
    sample = docs.filter("doc_id % 25 = 0 or doc_id >= 100000")  # keep the join small
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(sample, threshold=0.5).collect()
    }
    planted_exact = {
        (r.doc_id, r.doc_id + 200000)
        for r in sample.filter("doc_id < 100000").filter(F.col("doc_id") % 7 == 0).collect()
        if (r.doc_id + 200000) in [x.doc_id for x in sample.filter("doc_id >= 200000").collect()]
    }
    for p in planted_exact:
        assert pairs.get(p) == 1.0
    # jaccard is symmetric-bounded
    assert all(0.5 <= v <= 1.0 for v in pairs.values())


def test_simhash_pairs_find_exact_dups(spark, docs):
    sample = docs.filter("(doc_id < 100000 AND doc_id % 7 = 0) OR doc_id >= 200000")
    pairs = dedup.simhash_pairs(sample, max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    planted = {
        (r.doc_id, r.doc_id + 200000)
        for r in sample.filter("doc_id < 100000").collect()
        if r.doc_id % 7 == 0
    }
    found = {p for p in planted if p in got}
    assert len(found) == len(planted)  # identical text → hamming 0
    assert all(got[p] == 0 for p in found)


def test_simhash_is_deterministic(spark, docs):
    a = dedup.simhash_df(docs.limit(50)).collect()
    b = dedup.simhash_df(docs.limit(50)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _ref_signatures(sh, num_hashes):
    """Expression-form MinHash reference over ``shingle_df``'s hashed
    shingles: explode + num_hashes min-aggregates, each shingle's hash
    permuted num_hashes times with the operator's ``_perm``/``_PRIME``."""
    ex = sh.select("id", F.explode("sh").alias("g")).select(
        "id", F.pmod(F.col("g"), F.lit(dedup._PRIME)).alias("h")
    )
    aggs = []
    for i in range(num_hashes):
        a, b = dedup._perm(i)
        aggs.append(
            F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(dedup._PRIME))).alias(f"m{i}")
        )
    per = ex.groupBy("id").agg(*aggs)
    return per.select("id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"))


def _ref_band_keys(sigs, num_hashes, bands):
    """Expression-form LSH band keys: xxhash64(b, slice(sig, b·rows+1, rows))."""
    rows = num_hashes // bands
    keys = [
        F.xxhash64(F.lit(b), F.slice("sig", b * rows + 1, rows)) for b in range(bands)
    ]
    return sigs.select("id", F.array(*keys).alias("bands"))


def _assert_stage_equals_reference(df, num_hashes, bands, shingle_n=5):
    """The Arrow stage's (ordered) shingle arrays equal the JVM
    ``shingle_df``'s, and its band keys equal the expression reference's."""
    sh = dedup.shingle_df(df, shingle_n=shingle_n).persist()
    try:
        want_sh = {r["id"]: list(r["sh"]) for r in sh.collect()}
        want_bands = {
            r["id"]: list(r["bands"])
            for r in _ref_band_keys(_ref_signatures(sh, num_hashes), num_hashes, bands).collect()
        }
    finally:
        sh.unpersist()
    out = dedup._minhash_stage(df, "text", "doc_id", shingle_n, num_hashes, bands)
    assert out.schema["id"].dataType == df.schema["doc_id"].dataType
    rows = out.collect()
    assert {r["id"]: list(r["sh"]) for r in rows} == want_sh
    assert {r["id"]: list(r["bands"]) for r in rows} == want_bands
    return want_sh


def test_vectorized_signatures_equal_expression_form(spark, docs):
    """The Arrow shingle→signature→band stage must be bit-identical to the
    JVM shingler plus the pure-expression explode+aggregate signatures and
    ``xxhash64`` band keys (same modular arithmetic, same hashes)."""
    _assert_stage_equals_reference(docs.limit(40), num_hashes=16, bands=8)
    _assert_stage_equals_reference(docs.limit(40), num_hashes=96, bands=48)


def test_minhash_stage_tokenizes_like_the_jvm(spark):
    """Case folding and whitespace splitting in the Arrow stage equal the
    JVM ``lower``/``split('\\s+')``: full Unicode lowercase (final sigma,
    dotted capital I, capital sharp s), Java ``\\s`` only (tab, newline,
    \\x0b, \\f split; U+00A0 and U+2003 do not), edge whitespace, null
    text and short docs dropping out, and a string-typed id column."""
    texts = {
        "sigma": "ΟΔΟΣ ΚΑΙ ΛΟΓΟΣ ΣΟΦΟΣ ΚΟΣΜΟΣ Σ ΑΣ",
        "turkish": "İSTANBUL İzmir KIRIKKALE ẞTRASSE GROẞ STRAẞE Ǆ ǅ",
        "cjk": "中文 文本 去重 测试 😀 emoji 🎉 party 👍🏽 ok ﬁ ﬂ",
        "ws": "\talpha\nbeta\x0bgamma\fdelta\repsilon  zeta\t\n eta theta ",
        "nbsp": "one two\u00a0three four\u2003five six seven eight",
        "mixed": "Ünïcödé WÖRDS wïth ÄCCENTS and ASCII Words Mixed İn",
        "null": None,
        "short": "two words",
        "empty": "",
        "spaces": " \t\n ",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id string, text string")
    got = _assert_stage_equals_reference(df, num_hashes=16, bands=4, shingle_n=3)
    assert set(got) == set(texts) - {"null", "short", "empty", "spaces"}
    # U+00A0 and U+2003 are not in Java's \s: doc "n" is 3 tokens, so no
    # 5-gram, while tab and form feed split doc "t" into 5 tokens
    nbsp = spark.createDataFrame(
        [("n", "one two\u00a0three four\u2003five"), ("t", "one two\tthree four\ffive")],
        "doc_id string, text string",
    )
    ids = {r["id"] for r in dedup._minhash_stage(nbsp, "text", "doc_id", 5, 4, 2).collect()}
    assert ids == {"t"}


def test_dedup_plans_have_no_python(spark, docs):
    for df in [
        dedup.exact_dedup(docs),
        dedup.simhash_pairs(docs.limit(10)),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan, plan[:2000]


def _old_pairs_from_buckets(member_df, bucket_col, max_bucket):
    """The count → broadcast semi-join → ``collect_list``/``array_sort`` →
    posexplode/slice explode chain the Arrow bucket kernel replaced, kept
    as the Spark-side reference of its semantics."""
    n = F.col("count")
    keep = n >= 2
    if max_bucket is not None:
        keep = keep & (n <= max_bucket)
    hot = member_df.groupBy(bucket_col).count().filter(keep).select(bucket_col)
    buckets = (
        member_df.join(F.broadcast(hot), bucket_col)
        .groupBy(bucket_col)
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
    )
    anchored = buckets.select("ids", F.posexplode("ids").alias("i", "id"))
    return anchored.select(
        "id", F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("rid")
    ).dropDuplicates(["id", "rid"])


def _ref_bucket_pairs(rows, max_bucket):
    """Plain-Python bucket semantics: per non-null bucket of 2..max_bucket
    rows (null-id rows counted), every j > i pair of its non-null ids in
    ascending (string: UTF-8 byte) order."""
    buckets = {}
    for b, i in rows:
        if b is not None:
            buckets.setdefault(b, []).append(i)
    key = lambda i: i.encode() if isinstance(i, str) else i  # noqa: E731
    out = set()
    for members in buckets.values():
        if len(members) < 2 or (max_bucket is not None and len(members) > max_bucket):
            continue
        ids = sorted((i for i in members if i is not None), key=key)
        out |= {(lo, hi) for x, lo in enumerate(ids) for hi in ids[x + 1:]}
    return out


def _random_membership(rng, pool):
    """(bucket, id) rows with repeated rows, null ids and null buckets."""
    n_buckets = rng.randrange(1, 20)
    return [
        (
            rng.choice([None] + list(range(-3, n_buckets))),
            rng.choice(pool + [None]),
        )
        for _ in range(rng.randrange(0, 200))
    ]


def _kernel_pairs(rows, id_type, max_bucket, chunk):
    t = pa.table(
        {
            "bucket": pa.array([b for b, _ in rows], pa.int64()),
            "id": pa.array([i for _, i in rows], id_type),
        }
    )
    got = []
    for b in dedup._bucket_pairs(t.to_batches(max_chunksize=chunk), max_bucket):
        assert b.num_rows <= dedup._PAIR_SLICE
        got += zip(b["id"].to_pylist(), b["rid"].to_pylist())
    return got


@pytest.mark.parametrize(
    "id_type,pool",
    [
        (pa.int64(), [-(2**40), -3, 0, 5, 9, 17, 2**40]),
        (pa.string(), ["", "Z", "a", "ab", "z", "é", "😀", "\u00a0"]),
    ],
)
def test_bucket_kernel_matches_reference_semantics(id_type, pool):
    """The Arrow bucket kernel's distinct pair set equals the plain-Python
    reference on random memberships: the cap counts null-id rows, null ids
    never pair, a null bucket is no bucket, a repeated id pairs with
    itself, ids order as ``array_sort`` does, and a partition may arrive
    in several batches."""
    rng = random.Random(18)
    for _ in range(40):
        rows = _random_membership(rng, pool)
        for max_bucket in (None, 2, 1000):
            got = _kernel_pairs(rows, id_type, max_bucket, rng.randrange(1, 64))
            assert set(got) == _ref_bucket_pairs(rows, max_bucket), (rows, max_bucket)


def test_pairs_from_buckets_equals_old_chain(spark):
    """Through Spark, ``_pairs_from_buckets`` returns the old expression
    chain's rows, and leaves no persisted RDD behind."""
    rng = random.Random(5)
    pool = ["Z", "a", "z", "é", "😀", "ab", None]
    rows = [(g, rng.choice(pool)) for g in range(40) for _ in range(g % 7)]
    rows += rows[:12] + [(None, "a"), (None, "z")]  # repeated rows, null bucket
    rows += [(99, f"h{i:02d}") for i in range(30)]  # one bucket over the cap
    mem = spark.createDataFrame(rows, "g long, id string").repartition(3)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for max_bucket in (None, 4):
        got = dedup._pairs_from_buckets(mem, "g", max_bucket).collect()
        want = _old_pairs_from_buckets(mem, "g", max_bucket).collect()
        assert len(got) == len(set(got))
        assert set(map(tuple, got)) == set(map(tuple, want)) and want
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_bucket_kernel_streams_a_hot_bucket_in_bounded_slices():
    """An uncapped 3,000-member bucket yields exactly C(n, 2) distinct
    ordered pairs, in batches of at most ``_PAIR_SLICE`` rows — the pair
    list of a hot SimHash bucket is never one O(n²) array."""
    n = 3000
    ids = np.random.default_rng(0).permutation(n)
    t = pa.table({"bucket": pa.array(np.full(n, 7)), "id": pa.array(ids)})
    batches = list(dedup._bucket_pairs(t.to_batches(max_chunksize=500), None))
    assert len(batches) > 1
    assert max(b.num_rows for b in batches) <= dedup._PAIR_SLICE
    lo = np.concatenate([b["id"].to_numpy() for b in batches])
    hi = np.concatenate([b["rid"].to_numpy() for b in batches])
    assert lo.size == n * (n - 1) // 2
    assert (lo < hi).all() and np.unique(lo * n + hi).size == lo.size


def test_exact_dedup_shuffles_digest_not_text(spark, docs):
    """The hash-aggregate's shuffle key must be the fixed-width md5 digest
    (computed map-side), never the normalized full text — at 100 TB a text
    grouping key makes shuffle volume ~= corpus size."""
    plan = dedup.exact_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "md5" in plan
    assert "__digest" in plan
    assert "__norm" not in plan  # full-text key eliminated (round-1 finding)


def test_simhash_block_combination_recall_edge():
    """Pigeonhole edge for the combination scheme: a pair at EXACTLY
    max_hamming with its differing bits in distinct blocks agrees on
    exactly (n_blocks - d) blocks — one combination key — and must still be
    found; a pair beyond the radius must not. Runs the candidate machinery
    on synthetic fingerprints via the public pair API with doc texts chosen
    to produce controlled fingerprints is brittle, so this drives the
    layout math directly instead."""
    from dlp_dataflow_deidentification_spark.operators.dedup import _block_layout

    # layouts cover n_bits exactly, widths within 1 of each other
    for n_bits, n_blocks in [(60, 6), (64, 6), (64, 4), (60, 4), (64, 7)]:
        layout = _block_layout(n_bits, n_blocks)
        assert sum(w for _, w in layout) == n_bits
        assert layout[0][0] == 0
        widths = [w for _, w in layout]
        assert max(widths) - min(widths) <= 1
        for (s1, w1), (s2, _w2) in zip(layout, layout[1:]):
            assert s2 == s1 + w1  # contiguous, no overlap


def test_simhash_pairs_match_brute_force_hamming_truth(spark):
    """Ground-truth recall: the candidate machinery (whatever the key
    scheme) must reproduce the BRUTE-FORCE all-pairs hamming<=d set computed
    driver-side from the collected fingerprints — catches common-mode
    layout/key bugs that scheme-vs-scheme equality cannot."""
    from dlp_dataflow_deidentification_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} alpha beta gamma delta tok{i % 9} fill{i % 4} zeta")
         for i in range(150)],
        "doc_id long, text string",
    )
    fps = {r.id: r.sh for r in dedup.simhash_df(docs).collect()}
    ids = sorted(fps)
    truth = {
        (a, b, bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert got == truth and len(truth) > 0


def test_simhash_pairs_full_fingerprint_block(spark):
    """max_hamming=0 keys each doc on ONE combination of all its blocks —
    the FULL 64-bit fingerprint (the exact-dup-by-fingerprint config):
    output = pairs with identical simhash."""
    from dlp_dataflow_deidentification_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "other text here")],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b) for r in dedup.simhash_pairs(
        docs, max_hamming=0).collect()}
    assert got == {(1, 2)}


def test_lsh_bands_must_divide_num_hashes(spark, docs):
    """bands > num_hashes would make rows-per-band 0: every band key becomes
    the hash of an empty slice, the hub-bucket cap drops everything, and
    zero duplicates are silently reported — validated loudly instead."""
    with pytest.raises(ValueError, match="bands=100"):
        dedup.minhash_dedup_pairs(docs, num_hashes=64, bands=100)
    with pytest.raises(ValueError, match="bands=48"):
        dedup.minhash_dedup_pairs(docs, num_hashes=64, bands=48)


def test_shingle_df_on_padded_text(spark):
    """shingle_df on texts with leading/trailing whitespace equals the
    xxhash64 of word n-grams built in Python from the non-empty tokens:
    phantom empty split tokens previously corrupted gram text and defeated
    the short-doc gate."""
    texts = {1: "  alpha beta gamma delta ", 2: " single ", 3: "a b"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    grams = [
        (i, " ".join(ws[j:j + 2]))
        for i, t in texts.items()
        for ws in [t.split()]
        for j in range(len(ws) - 1)
    ]
    want = {}
    for r in spark.createDataFrame(grams, "id long, g string").select(
        "id", F.xxhash64("g").alias("h")
    ).collect():
        want.setdefault(r.id, set()).add(r.h)
    got = {r.id: sorted(r.sh) for r in dedup.shingle_df(df, shingle_n=2).collect()}
    assert got == {i: sorted(hs) for i, hs in want.items()}
    assert len(got[1]) == 3 and len(got[3]) == 1
    # 1-word doc: no 2-grams, so the row drops out
    assert 2 not in got


def test_dedup_operators_leave_input_partitioning_alone(spark, docs):
    """Input fan-out is the caller's decision: on a 1-partition input the
    shingle-based operators must not plan their own round-robin exchange."""
    one = docs.limit(40).coalesce(1)
    for df in [dedup.minhash_dedup_pairs(one), dedup.ngram_jaccard_pairs(one)]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan, plan[:2000]


def test_exact_dedup_ignores_edge_whitespace(spark):
    """Texts differing only by leading/trailing whitespace (e.g. a trailing
    newline) dedup together, like interior-whitespace variants always did."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world\n"), (3, "  hello   world")],
        "doc_id long, text string",
    )
    got = dedup.exact_dedup(df).collect()
    assert len(got) == 1 and got[0].doc_id == 1 and got[0].n_copies == 3


def test_connected_components_labels_and_sizes(spark):
    # components: {1,2,3} (1-3, 2-3: node 2 is smaller in NO pair — pairwise
    # loser-dropping would wrongly keep it), path {10..13}, pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (10, 11), (11, 12), (12, 13), (20, 21)],
        "id_a long, id_b long",
    )
    out = {
        r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
        for r in dedup.dedup_clusters(pairs).collect()
    }
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        10: (10, 4), 11: (10, 4), 12: (10, 4), 13: (10, 4),
        20: (20, 2), 21: (20, 2),
    }


def test_connected_components_long_path_converges(spark):
    # a 201-node path needs multiple large/small-star rounds (worst-case
    # diameter shape for label propagation); must land in one component
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    comp = dedup.connected_components(pairs)
    reps = comp.select("cluster_rep").distinct().collect()
    assert [r["cluster_rep"] for r in reps] == [0]
    assert comp.count() == 201


def test_connected_components_empty_and_duplicate_edges(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = dedup.dedup_clusters(empty)
    assert out.count() == 0
    assert out.columns == ["doc_id", "cluster_rep", "cluster_size"]
    # duplicate + reversed edges collapse to the same component
    pairs = spark.createDataFrame(
        [(5, 6), (6, 5), (5, 6)], "id_a long, id_b long"
    )
    rows = sorted(
        tuple(r) for r in dedup.dedup_clusters(pairs).collect()
    )
    assert rows == [(5, 5, 2), (6, 5, 2)]


def test_dedup_clusters_on_planted_corpus(spark, docs):
    """Planted structure: base b (b%5==0 and b%7==0) + near-dup b+100000 +
    exact dup b+200000 must form ONE cluster with rep b."""
    pairs = dedup.minhash_dedup_pairs(docs, num_hashes=96, bands=48, threshold=0.5)
    clusters = dedup.dedup_clusters(pairs)
    both = (
        docs.filter((F.col("doc_id") % 35 == 0) & (F.col("doc_id") < 100000))
        .select("doc_id")
        .collect()
    )
    lookup = {
        r["doc_id"]: r["cluster_rep"] for r in clusters.collect()
    }
    for row in both:
        b = row["doc_id"]
        # all three planted variants present and share the base rep
        assert lookup.get(b) == b
        assert lookup.get(b + 100000) == b
        assert lookup.get(b + 200000) == b
    # survivor selection: exactly one doc per cluster has doc_id == rep
    per = (
        clusters.groupBy("cluster_rep")
        .agg(
            F.sum(F.when(F.col("doc_id") == F.col("cluster_rep"), 1).otherwise(0)).alias("n_reps"),
            F.first("cluster_size").alias("sz"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in per:
        assert r["n_reps"] == 1 and r["sz"] == r["n"]
