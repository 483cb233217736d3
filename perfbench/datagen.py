"""Seeded input generation for the benchmark (numpy + pyarrow, no Spark).

Two kinds of input:

* transcript files for the streaming workloads (``write_transcript_files``):
  the turn CONTENT is a fixed function of the turn index, so every seed does
  the same de-identification work; the seed only picks the row→file cut
  points and which rows carry a null ``text`` (the dead-letter leg's input).
  Event time rises strictly with the turn index and files are cut from
  contiguous index ranges, so per-conversation event order is preserved
  across files and the streaming session machine sees the batch order.
* query tables for the query workload (``write_tables``): the ten parquet
  tables ``__spark_entry__.queries()`` read, with the column distributions
  of the repository's test tables at scale factor ``sf``, one row group per
  table like those files.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)

# 2026-01-01T00:00:00Z in microseconds; one turn per second of event time
_T0_US = 1_767_225_600 * 1_000_000
FLUSH_CONV = "__flush__"


def _turn_text(i: int) -> str:
    """PII mix of ``sources.transcripts.synthesize_transcripts``: e-mail,
    phone, IBAN, SSN, user id and card number at fixed index strides."""
    parts = [f"turn {i}"]
    if i % 3 == 0:
        parts.append(f"email user{i % 100000}@example.com")
    if i % 4 == 0:
        parts.append(f"call 415-555-{i % 10000:04d}")
    if i % 5 == 0:
        parts.append("iban DE44 5001 0517 5407 3249 31 on file")
    if i % 7 == 0:
        parts.append(f"ssn 552-09-{i % 10000:04d}")
    if i % 11 == 0:
        parts.append(f"user name:{i:016d}")
    if i % 6 == 0:
        parts.append("card 4111 1111 1111 1111 expires soon")
    return " ".join(parts)


def transcript_table(start: int, n: int, n_conversations: int, nulls: np.ndarray) -> pa.Table:
    """Turns ``start .. start+n-1``. ``nulls`` is a boolean mask of length n
    marking rows whose text is null. Conversation and turn index are fixed
    functions of the global turn index: turns come in bursts of four per
    conversation, each conversation returns every ``n_conversations``
    bursts, and one hot conversation takes ≈ 1/13 of the bursts."""
    idx = np.arange(start, start + n, dtype=np.int64)
    conv_num = (idx // 4 * 2654435761) % n_conversations
    conv = np.where(
        conv_num % 13 == 0, "conv-hot", np.char.add("conv-", np.char.zfill(conv_num.astype(str), 6))
    )
    role = np.where(idx % 9 == 0, "tool", np.where(idx % 2 == 0, "agent", "customer"))
    texts = [None if dead else _turn_text(int(i)) for i, dead in zip(idx, nulls)]
    return pa.table(
        {
            "conv_id": pa.array(conv.tolist(), pa.string()),
            # turn_idx is the global index: unique per conversation and
            # monotone in event time, with no cross-file bookkeeping
            "turn_idx": pa.array((idx % 2**31).astype(np.int32)),
            "role": pa.array(role.tolist(), pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(np.where(role == "tool", "web_search", "N/A").tolist(), pa.string()),
            "ts": pa.array(_T0_US + idx * 1_000_000, pa.timestamp("us")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def cut_points(rng: np.random.Generator, n_rows: int, n_files: int, jitter: float = 0.5) -> list[int]:
    """Seeded file boundaries: ``n_files`` contiguous ranges covering
    ``n_rows``, each within ±jitter/2 of the mean size (never empty)."""
    mean = n_rows / n_files
    sizes = mean * (1 + jitter * (rng.random(n_files) - 0.5))
    bounds = np.round(np.cumsum(sizes) * n_rows / sizes.sum()).astype(np.int64)
    bounds = np.maximum(bounds, np.arange(1, n_files + 1))
    return [0, *bounds.tolist()]


def write_transcript_files(
    out_dir: str,
    rng: np.random.Generator,
    start: int,
    n_rows: int,
    n_files: int,
    n_conversations: int,
    null_rate: float,
    mtime0: float | None = None,
) -> tuple[list[str], int]:
    """Write ``n_files`` parquet files covering turns ``start..start+n_rows``;
    returns (paths in order, planted null count). With ``mtime0`` the files
    get strictly increasing modification times so the file source takes them
    in index order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = cut_points(rng, n_rows, n_files)
    nulls = rng.random(n_rows) < null_rate
    paths = []
    for k in range(n_files):
        lo, hi = bounds[k], bounds[k + 1]
        path = os.path.join(out_dir, f"part-{start + lo:012d}.parquet")
        pq.write_table(transcript_table(start + lo, hi - lo, n_conversations, nulls[lo:hi]), path)
        if mtime0 is not None:
            os.utime(path, (mtime0 + k, mtime0 + k))
        paths.append(path)
    return paths, int(nulls.sum())


def write_flush_file(out_dir: str, mtime: float | None = None) -> str:
    """One turn of a sentinel conversation far in the future: it advances
    the watermark past every real conversation, so the session machine
    emits all of them before the stream ends."""
    tbl = pa.table(
        {
            "conv_id": [FLUSH_CONV],
            "turn_idx": pa.array([0], pa.int32()),
            "role": ["agent"],
            "text": ["x"],
            "tool": ["N/A"],
            "ts": pa.array([_T0_US + 10 * 365 * 86400 * 1_000_000], pa.timestamp("us")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )
    path = os.path.join(out_dir, "part-zzzz-flush.parquet")
    pq.write_table(tbl, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return path


# ---- query tables -------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _write(out_dir: str, name: str, cols: dict) -> None:
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, len(tbl)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, first: str, n_days: int, n: int):
    base = np.datetime64(first, "us")
    return pa.array(base + rng.integers(0, n_days, n) * np.timedelta64(86400_000_000, "us"), pa.timestamp("us"))


def write_tables(out_dir: str, sf: float, seed: int = 20260101) -> dict[str, int]:
    """The ten tables at scale factor ``sf`` (sf0.1 = 100k events, 600k
    lineitems, 5k documents, 2k embeddings). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
    }
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c).tolist(),
    })
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    pk = np.arange(p)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p).tolist(),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _dates(rng, "1995-01-01", 2404, o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o).tolist(),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], li).tolist(),
        "l_shipdate": _dates(rng, "1995-01-02", 2498, li),
    })
    e = n["events"]
    gaps = rng.exponential(30 * 86400e6 / e, e).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, int(15_000 * sf)), e), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e).tolist(),
        "value": np.round(rng.exponential(50, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 101, d)]
    # planted near-duplicate families: ~5% of documents are an earlier
    # document plus a " dup" suffix, as in the test tables
    for j in np.flatnonzero(rng.random(d) < 0.05):
        if j:
            texts[j] = texts[int(rng.integers(0, j))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], d, p=[0.14, 0.42, 0.148, 0.146, 0.146]).tolist(),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return {"region": 5, "nation": 25, **n}
