"""Similarity search over embedding columns (array<float>).

Exact brute-force cosine top-k (``cosine_topk_arrow``: one numpy matmul per
Arrow batch) as the exactness baseline; random-hyperplane-LSH and IVF
bucketed search as the 100 TB path (scan only same/nearby buckets instead
of the full corpus). The bucketed paths and embedding dedup score pairs
with JVM higher-order functions (zip_with + aggregate) — no Python per row.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _check_dim(df: DataFrame, vec_col: str, dim: int, what: str) -> None:
    """One-row peek guarding against a ``dim`` mismatch. ``zip_with`` pads
    the shorter array with nulls, so a wrong dim null-poisons every dot
    product and the pipeline silently DEGENERATES (all vectors in bucket 0,
    empty cell joins, zero candidate pairs) instead of erroring — fail
    loudly here instead. One row is scanned; ragged corpora are still the
    caller's responsibility."""
    row = df.select(F.size(F.col(vec_col)).alias("n")).first()
    if row is not None and row.n is not None and row.n != dim:
        raise ValueError(
            f"{what}: dim={dim} but column {vec_col!r} holds {row.n}-wide "
            "vectors — pass the real embedding width"
        )


def _check_same_width(
    corpus: DataFrame, queries: DataFrame, vec_col: str, what: str
) -> None:
    """Corpus/query width consistency peek for the brute-force path: a
    width mismatch would otherwise drop every corpus row from scoring and
    return an empty top-k instead of an error."""
    c = corpus.select(F.size(F.col(vec_col)).alias("n")).first()
    q = queries.select(F.size(F.col(vec_col)).alias("n")).first()
    if c is not None and q is not None and c.n is not None and q.n is not None and c.n != q.n:
        raise ValueError(
            f"{what}: corpus vectors are {c.n}-wide but query vectors are "
            f"{q.n}-wide"
        )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, vec_id, sim) rows, sim desc then vec_id
    asc. Output: query_id, vec_id, rank, sim."""
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force cosine top-k, Arrow/BLAS form: the (small) query
    matrix rides to executors in the UDF closure; each Arrow batch of the
    corpus is scored with ONE numpy matmul (|batch| x |Q|) and reduced to
    its per-batch top-k inside ``mapInPandas``, so only k·|Q| candidate
    rows per batch reach the final global top-k window. Ranking is sim
    desc, ties broken by vec_id asc — the oracle's order.

    Edge-case contract: zero-norm corpus vectors AND zero-norm query
    vectors score sim=0.0 (a defined value, where the cosine formula is
    0/0). Ties are broken by vec_id among rows with EQUAL computed sims —
    but BLAS blocking gives remainder rows position-dependent last-ulp
    results, so EXACT-duplicate corpus vectors can rank among themselves
    by position rather than by vec_id; dedup exact copies first if that
    distinction matters. Null or wrong-width corpus vectors are dropped
    from scoring.
    """
    import numpy as np
    import pandas as pd

    _check_same_width(corpus, queries, vec_col, "cosine_topk_arrow")

    # id columns keep their INPUT types (string ids etc.) — the
    # mapInPandas schema is derived, not hardcoded long
    q_id_type = queries.schema[query_id_col].dataType.simpleString()
    c_id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {q_id_type}, vec_id {c_id_type}, sim double"

    qrows = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).collect()
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id {q_id_type}, vec_id {c_id_type}, rank int, sim double"
        )
    q_ids = np.array([r.query_id for r in qrows])
    Q = np.stack([np.asarray(r.qv, dtype=np.float64) for r in qrows])
    # same zero-norm guard as the corpus side: an unguarded 0/0 makes every
    # sim for that query NaN, and Spark's desc sort ranks NaN first — a
    # zero-norm QUERY scores 0.0 against everything
    qnorms = np.linalg.norm(Q, axis=1, keepdims=True)
    qnorms[qnorms == 0] = 1.0
    Qn = Q / qnorms

    width = Q.shape[1]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # null / wrong-width corpus vectors cannot enter np.stack (it
            # raises on None and on ragged input, failing the whole job);
            # drop them from scoring
            ok = np.fromiter(
                (v is not None and len(v) == width for v in pdf[vec_col]),
                dtype=bool,
                count=len(pdf),
            )
            if not ok.all():
                pdf = pdf[ok]
                if not len(pdf):
                    continue
            ids = pdf[id_col].to_numpy()
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            S = (C / norms) @ Qn.T  # |batch| x |Q|, one BLAS call
            kk = min(k, len(ids))
            out_q, out_id, out_sim = [], [], []
            for j in range(len(q_ids)):
                col = S[:, j]
                # top-k with the oracle's tie rule (sim desc, vec_id asc).
                # argpartition alone keeps an ARBITRARY subset of values
                # tied at the k-boundary, so include every row >= the k-th
                # value before the exact lexsort — otherwise a duplicate-sim
                # low-id vector can be dropped in favor of a higher id,
                # diverging from the oracle.
                if kk < len(ids):
                    part = np.argpartition(-col, kk - 1)[:kk]
                    cand = np.flatnonzero(col >= col[part].min())
                else:
                    cand = np.arange(len(ids))
                order = cand[np.lexsort((ids[cand], -col[cand]))][:kk]
                out_q.extend([q_ids[j]] * len(order))
                out_id.extend(ids[order])
                out_sim.extend(col[order])
            yield pd.DataFrame({"query_id": out_q, "vec_id": out_id, "sim": out_sim})

    return _topk(corpus.select(id_col, vec_col).mapInPandas(score, out_schema), k)


def _plane_components(seed: int, plane: int, dim: int) -> list[float]:
    """Deterministic zero-mean pseudo-random hyperplane, computed ONCE at
    plan-build time (driver) and embedded as a literal array — the previous
    per-row xxhash derivation recomputed dim hashes per plane per row."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.sha256(f"{seed}:{plane}:{d}".encode()).digest()
        out.append((int.from_bytes(h[:4], "big") % 2001) - 1000.0)
    return out


def _matrix_lit(rows: "list[list[float]]"):
    """array<array<double>> literal rendered as ONE SQL expression string.
    Building it as nested F.lit/F.array Columns costs one py4j round-trip
    per element (~1.2s per 16x64 matrix, measured — the whole plan-build
    budget); parsing one SQL literal is ~3ms. repr() round-trips doubles
    exactly, and the 'D' suffix pins the literal type to DOUBLE."""
    body = ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in r) + ")" for r in rows
    )
    return F.expr(f"array({body})")


def hyperplane_bucket(v, n_planes: int = 12, dim: int = 64, seed: int = 11):
    """Random-hyperplane LSH bucket id: sign pattern of <v, h_i> for n_planes
    deterministic hyperplanes (one array<array<double>> literal). Pure JVM
    expression; per row: n_planes · dim multiply-adds executed by a looped
    higher-order aggregate — NOT unrolled into n_planes·dim codegen nodes
    (the unrolled form produced multi-second janino compiles per table).

    ``v`` must be an ALREADY-double array column: a cast inside the
    expression would be CAPTURED by the per-plane lambda and re-evaluated
    once per plane (no CSE across higher-order functions — measured ~1.3x on
    the bucketing stage at 16 planes x 4 tables), so callers materialize the
    cast behind a Generate barrier first (``_pre_double``)."""
    planes = _matrix_lit([_plane_components(seed, p, dim) for p in range(n_planes)])
    return F.aggregate(
        planes,
        F.struct(F.lit(0).alias("b"), F.lit(0).alias("p")),
        lambda acc, plane: F.struct(
            F.when(_dot(v, plane) >= 0, acc["b"].bitwiseOR(F.call_function("shiftleft", F.lit(1), acc["p"])))
            .otherwise(acc["b"])
            .alias("b"),
            (acc["p"] + F.lit(1)).alias("p"),
        ),
        lambda acc: acc["b"],
    )


def _pre_double(df: DataFrame, vec_col: str, *keep) -> DataFrame:
    """Materialize the double-cast vector as a real column BEHIND a Generate
    (explode of a 1-element array): projection collapse cannot cross a
    Generate, so downstream higher-order lambdas reference a cheap attribute
    instead of re-evaluating the cast per plane/probe. Null vectors survive
    (array(v) is a 1-element array CONTAINING null — explode keeps the
    row)."""
    return df.select(
        *keep, F.explode(F.array(_as_double(F.col(vec_col)))).alias("__v")
    )


def _table_buckets(n_planes: int, n_tables: int, dim: int) -> list:
    """Per-table hyperplane buckets of the ``_pre_double`` column ``__v``."""
    return [
        hyperplane_bucket(F.col("__v"), n_planes, dim, seed=11 + 101 * t)
        for t in range(n_tables)
    ]


def _probe_membership(
    df: DataFrame, id_col: str, table_buckets: list, n_planes: int
) -> DataFrame:
    """(id_col, bucket) membership rows with Hamming-1 probing — the ONE
    construction behind both ``lsh_topk`` (query side) and
    ``embedding_dedup_pairs`` (every vector). ``df`` is ``_pre_double``-
    prepared (id column already aliased, ``__v`` double vector) and
    ``table_buckets`` come from ``_table_buckets``. Each row's base
    bucket per table is computed ONCE (n_tables hyperplane aggregates
    materialized through the Generate, which projection collapse cannot
    cross); the
    1 + n_planes probe buckets derive from the materialized base by XOR —
    the flat per-probe formulation would re-evaluate the full hyperplane
    dot products n_tables·(1+n_planes) times per row. Bucket ids are
    offset by table index (t << 32) so one join column serves all tables."""
    tb = F.explode(
        F.array(
            *[
                F.struct(F.lit(t).alias("t"), b.alias("b"))
                for t, b in enumerate(table_buckets)
            ]
        )
    ).alias("tb")
    probe_arr = F.concat(
        F.array(F.col("tb.b")),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda p: F.col("tb.b").bitwiseXOR(F.call_function("shiftleft", F.lit(1), p)),
        ),
    )
    return (
        df.select(id_col, tb)
        .select(id_col, F.col("tb.t").alias("t"), F.explode(probe_arr).alias("pb"))
        .select(
            id_col,
            (F.col("pb").cast("long") + F.col("t").cast("long") * F.lit(1 << 32)).alias(
                "bucket"
            ),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: ``n_tables``
    independent hash tables; a candidate is scanned if it shares the query's
    bucket (or a Hamming-1 neighbor bucket) in ANY table. At 100 TB the corpus
    is bucketed/partitioned once per table (write-time clustering); each query
    touches ~ n_tables·(1+n_planes)/2^n_planes of the data instead of all of
    it, with recall tunable by (n_planes, n_tables)."""
    _check_dim(corpus, vec_col, dim, "lsh_topk(corpus)")
    _check_dim(queries, vec_col, dim, "lsh_topk(queries)")
    # double-cast materialized once per row behind a Generate (_pre_double);
    # the per-plane lambdas then reference a cheap attribute
    table_buckets = _table_buckets(n_planes, n_tables, dim)
    # bucket ids offset per table so one join column serves all tables.
    # IDS-ONLY through the bucket join and the dedup: a corpus vector hit in
    # several tables/probes must not drag its double-array through the
    # shuffle once per hit — candidates dedup on (query_id, vec_id) first,
    # vectors are re-attached exactly once per surviving candidate.
    c = _pre_double(corpus, vec_col, F.col(id_col).alias("vec_id")).select(
        "vec_id",
        F.explode(
            F.array(*[b + F.lit(t << 32) for t, b in enumerate(table_buckets)])
        ).alias("bucket"),
    )
    q = _probe_membership(
        _pre_double(queries, vec_col, F.col(query_id_col).alias("query_id")),
        "query_id",
        table_buckets,
        n_planes,
    )
    cands = (
        c.join(F.broadcast(q), "bucket")
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    cvecs = corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv"))
    qvecs = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        cands.join(cvecs, "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select("query_id", "vec_id", cosine(F.col("qv"), F.col("cv")).alias("sim"))
    )
    return _topk(scored, k)


def _cell_of(vec_col, cents: "list[list[float]]"):
    """1-based index of the max-cosine centroid (first index on ties)."""
    sims = F.transform(_matrix_lit(cents), lambda ct: cosine(vec_col, ct))
    return F.array_position(sims, F.array_max(sims)).cast("int")


def _assign_cells(
    corpus: DataFrame, cents: "list[list[float]]", id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, cv, cell): each corpus vector as doubles + its IVF cell."""
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        _cell_of(_as_double(F.col(vec_col)), cents).alias("cell"),
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    train_fraction: "float | None" = None,
) -> "list[list[float]]":
    """Deterministic spherical k-means coarse quantizer: seeds = the k
    lowest-id corpus vectors, then ``iters`` Lloyd rounds of
    (assign-by-max-cosine → per-dimension mean). Each round is one Spark
    job (narrow assign + one groupBy with dim avg aggregates); the k·dim
    centroid matrix is collected to the driver between rounds — the
    standard Spark k-means shape (centroids are broadcast-small, the data
    never leaves the cluster). Cosine is scale-invariant so centroid
    renormalization is unnecessary.

    ``train_fraction``: train on a deterministic hash-sample of the corpus
    instead of every vector — the standard IVF practice (quantizer quality
    needs ~256·k training vectors, not 10^9): at 100 TB each Lloyd round
    then scans train_fraction of the data; only the final cell ASSIGNMENT
    (done by the caller) touches the full corpus. Hash-derived (not
    df.sample) so the training set is stable across partitionings/replays."""
    _check_dim(corpus, vec_col, dim, "kmeans_centroids")
    c = corpus.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    if train_fraction is not None:
        if not (0.0 < train_fraction <= 1.0):
            raise ValueError(f"train_fraction must be in (0, 1], got {train_fraction}")
        c = c.filter(
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(1_000_000))
            < F.lit(int(train_fraction * 1_000_000))
        )
    # the training set is read 1 + iters times (seed collect + each Lloyd
    # round); persist it so an UNcached corpus (e.g. a union+perturbation
    # plan) is not re-derived per pass — the sample is train_fraction of
    # the data, the standard materialize-the-training-set step. Lineage is
    # kept (lazy persist), and the cache is dropped before returning.
    c = c.persist()
    try:
        cents = [r.v for r in c.orderBy("id").limit(k).collect()]
        if len(cents) < k:
            raise ValueError(
                f"training set has {len(cents)} vectors < k={k}; raise train_fraction"
            )
        for _ in range(iters):
            assigned = c.select(_cell_of(F.col("v"), cents).alias("cell"), "v")
            rows = (
                assigned.groupBy("cell")
                .agg(*[F.avg(F.col("v")[i]).alias(f"c{i}") for i in range(dim)])
                .collect()
            )
            by_cell = {r["cell"]: [r[f"c{i}"] for i in range(dim)] for r in rows}
            # empty cells keep their previous centroid
            cents = [by_cell.get(i + 1, cents[i]) for i in range(k)]
    finally:
        c.unpersist()
    # callers render centroids as SQL double literals (_matrix_lit), where a
    # NaN/inf/None component would fail as an obscure parse error
    for cell, cent in enumerate(cents, start=1):
        for d, x in enumerate(cent):
            if x is None or not math.isfinite(x):
                raise ValueError(
                    f"kmeans_centroids: cell {cell} has non-finite component "
                    f"{x!r} at dimension {d}; check the corpus for NaN/inf/null "
                    "embedding values"
                )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 8,
    nprobe: int = 3,
    iters: int = 2,
    dim: int = 64,
    train_fraction: "float | None" = None,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer (kmeans_centroids) +
    inverted cell lists; each query scans only its ``nprobe`` nearest cells
    with exact cosine. At 100 TB the corpus is written partitioned/clustered
    by cell id once, so a query touches ~nprobe/n_cells of the data — the
    classic IVF trade (FAISS IVF-Flat shape) with the quantizer trained
    in-engine on a bounded hash-sample (``train_fraction``; only the final
    cell assignment scans the full corpus). Output: query_id, vec_id, rank,
    sim."""
    cents = kmeans_centroids(
        corpus, n_cells, iters, id_col, vec_col, dim, train_fraction
    )
    cells = _assign_cells(corpus, cents, id_col, vec_col)
    q = _probed_queries(queries, cents, nprobe, query_id_col, vec_col)
    scored = cells.join(F.broadcast(q), "cell").select(
        "query_id", "vec_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
    )
    return _topk(scored, k)


def _probed_queries(
    queries: DataFrame, cents: "list[list[float]]", nprobe: int,
    query_id_col: str, vec_col: str,
) -> DataFrame:
    """(query_id, qv, cell): one row per (query, probed cell) — the
    top-nprobe cells by centroid cosine (argsort desc, index asc ties)."""
    _check_dim(queries, vec_col, len(cents[0]), "ivf probe (queries vs quantizer)")
    sims = F.transform(_matrix_lit(cents), lambda ct: cosine(F.col("qv"), ct))
    ranked = F.array_sort(
        F.transform(
            sims, lambda s, i: F.struct((-s).alias("negs"), (i + 1).cast("int").alias("cell"))
        )
    )
    probes = F.transform(F.slice(ranked, 1, nprobe), lambda x: x["cell"])
    return queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).select("query_id", "qv", F.explode(probes).alias("cell"))


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    train_fraction: "float | None" = None,
) -> "list[list[float]]":
    """Materialize the IVF index ONCE: the corpus written partitioned by
    cell id (``path/cell=<i>/`` — the inverted lists as physical parquet
    partitions), centroids saved alongside under ``path/_centroids`` (the
    index header; k·dim doubles — tiny). The header is written/read THROUGH
    Spark, so the index works on any Hadoop-compatible filesystem (HDFS,
    s3a, …), not just driver-local paths; parquet keeps the doubles
    bit-exact, and the ``_``-prefixed directory is invisible to the data
    scan. This is the 100 TB shape the docstring of ``ivf_topk`` promises:
    after this one write, every probe query scans ~nprobe/n_cells of the
    data via PARTITION PRUNING — the skipped cells' files are never opened
    (asserted on the plan by
    ``tests/test_similarity.py::test_ivf_indexed_partition_pruning``)."""
    cents = kmeans_centroids(corpus, n_cells, iters, id_col, vec_col, dim, train_fraction)
    cells = _assign_cells(corpus, cents, id_col, vec_col)
    # one writer task per cell: without this, every upstream partition
    # writes a sliver into every cell directory (partitions x n_cells tiny
    # files — 256 at the bench shape), slowing both the write and every
    # later probe scan (guide §6: small-files). Row content is unchanged.
    cells.repartition(n_cells, F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)
    spark = corpus.sparkSession
    # header as a JVM-literal plan, NOT createDataFrame(local rows): a
    # parquet write from a Python-local-rows plan runs a Python-runner
    # stage that costs ~3.7 s regardless of size (measured, 8 rows —
    # createDataFrame itself and .collect() are fast; only .write pays),
    # while posexplode over the one-SQL-literal matrix (_matrix_lit, the
    # established bit-exact render: repr() round-trips doubles) writes the
    # identical parquet in ~0.15 s. Verified byte-identical values.
    hdr = spark.range(1).select(
        F.posexplode(_matrix_lit(cents)).alias("pos", "centroid")
    ).select((F.col("pos") + 1).cast("int").alias("cell"), "centroid")
    hdr.coalesce(1).write.mode("overwrite").parquet(_header_path(path))
    return cents


def _header_path(path: str) -> str:
    return path.rstrip("/") + "/_centroids"


def _read_centroids(spark, path: str) -> "list[list[float]]":
    rows = spark.read.parquet(_header_path(path)).collect()
    return [list(r.centroid) for r in sorted(rows, key=lambda r: r.cell)]


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a materialized index (``ivf_index_write``): the probe
    set (union of every query's top-nprobe cells — at most n_cells integers,
    collected driver-side from the tiny query set) becomes a LITERAL
    partition filter, so the parquet scan opens only the probed cells'
    partitions (``PartitionFilters`` in the plan; files of skipped cells are
    never listed into tasks). The per-query cell join then restricts each
    query to ITS OWN probes within that superset. Results are identical to
    ``ivf_topk`` on the same corpus/quantizer."""
    cents = _read_centroids(spark, path)
    q = _probed_queries(queries, cents, nprobe, query_id_col, vec_col)
    # ≤ n_cells ints: the partition-pruning predicate, not row data
    probe_cells = sorted(r.cell for r in q.select("cell").distinct().collect())
    cells = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    scored = cells.join(F.broadcast(q), "cell").select(
        "query_id", "vec_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
    )
    return _topk(scored, k)


def embedding_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    n_tables: int = 4,
    dim: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table, Hamming-1-probed
    hyperplane LSH, verified with exact cosine ≥ threshold.
    Output: id_a < id_b, sim.

    Candidate generation mirrors ``lsh_topk``: every vector joins its base
    bucket AND its n_planes Hamming-1 probe buckets in each of ``n_tables``
    independent tables, so two vectors become candidates when their bucket
    codes differ by ≤2 bits in ANY table. Recall for a true pair at cosine s
    with per-plane agreement p = 1 - acos(s)/π is
    1 - (1 - P[Binom(n_planes, 1-p) ≤ 2])^n_tables — at the defaults
    (16 planes, 4 tables) a 0.99-cosine pair is missed with probability
    ~1e-6 (vs ~0.11 for the old single-table, probe-less form). Lower
    thresholds want more tables: at 0.95 the defaults miss ~2e-3; raise
    n_tables (8 → ~5e-6) rather than dropping planes — the plane count is
    the candidate-PRECISION knob (12 planes produced ~30x more random
    Hamming-≤2 candidate pairs than 16 on a 2k-vector corpus, and every
    false candidate pays an exact-cosine verification).
    Scale shape: membership rows are ids-only (id, 8-byte bucket
    key), paired by the dedup family's one-pass bucket kernel
    (``dedup._pairs_from_buckets``); candidate pairs dedup on (id, rid)
    BEFORE the double-vectors are re-attached — one vector-carrying join
    per side, never through the bucket enumeration. Buckets larger than ``max_bucket`` are dropped (a
    degenerate hub bucket would create an O(k²) pair set; raise the cap or
    add planes if the corpus is dense)."""
    from .dedup import _pairs_from_buckets, _with_pair_values

    _check_dim(df, vec_col, dim, "embedding_dedup_pairs")
    mem = _probe_membership(
        _pre_double(df, vec_col, F.col(id_col).alias("id")),
        "id",
        _table_buckets(n_planes, n_tables, dim),
        n_planes,
    )
    cands = _pairs_from_buckets(mem, "bucket", max_bucket)
    vecs = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    return (
        _with_pair_values(cands, vecs, "v", "va", "vb")
        .select(
            F.col("id").alias("id_a"),
            F.col("rid").alias("id_b"),
            cosine(F.col("va"), F.col("vb")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
