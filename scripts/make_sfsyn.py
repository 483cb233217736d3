"""Synthetic sf1.0-shaped dataset for scale verification (NOT the driver's
generator — engine-vs-DuckDB equality on this data is still a valid
equivalence check because both engines read the identical parquet files).

Construction, mirroring observed sf0.1 statistics:
- events: 10 copies, event_id' = k*EV + event_id, other cols unchanged
  (user_id kept -> same 997+hot conversation structure, 10x longer convs,
  conv-hot stays ~7.7% of rows; ts kept — ordering ties broken by event_id
  deterministically in both engines).
- documents: original 5000 + 45000 new docs from the empirical vocab/length
  distribution, with planted near-dup families reproduced (rate and the
  " dup"-suffix mechanism measured from sf0.1: 233 families/5000 docs,
  sizes {2:223,3:9,4:1}, variant = base + ' dup'*g, g~{1:0.984,2:0.012,3:0.004}).
- embeddings: original 2000 + 18000 new unit-normalized N(0,1) float32
  vectors, label uniform 0..9.
- customer/orders/lineitem/part/supplier: 10 copies with consistent key
  shifts (custkey +CK*k, orderkey +OK*k, partkey +PK*k, suppkey +SK*k);
  content columns unchanged.
Every key shift is max(key)+1 of the source table, so the copies cannot
collide whatever the source cardinalities are; new document and embedding
ids likewise start at max(id)+1. Each generated table is checked for a
unique key before the dataset is declared valid (lineitem, whose source
key repeats, for 10x the source's distinct keys).
- nation/region: copied as-is (fixed-size dims).
Row-group size forced to 1M rows to mirror the driver's file layout
(events = ONE row group; lineitem = 6).
"""
import os
import shutil
import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DST = "/dev/shm/sfsyn1.0"
os.makedirs(DST, exist_ok=True)
con = duckdb.connect()
RG = 1_000_000

def copy_scaled(table, sql):
    con.execute(f"""
        COPY ({sql}) TO '{DST}/{table}.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE {RG})
    """)
    n = con.execute(f"select count(*) from read_parquet('{DST}/{table}.parquet')").fetchone()[0]
    print(table, n, flush=True)

K = "(SELECT unnest(range(10)) AS k)"


def key_shift(table, key):
    """max(key)+1 of the source table: copy k occupies [k*shift, (k+1)*shift)."""
    return con.execute(
        f"select max({key}) + 1 from read_parquet('{SRC}/{table}.parquet')"
    ).fetchone()[0]


def distinct_keys(path, key):
    return con.execute(
        f"select count(*) from (select distinct {key} from read_parquet('{path}'))"
    ).fetchone()[0]


def assert_unique(table, key, want=None):
    """count(distinct key) == count(*), or == ``want`` where the source key
    itself repeats (lineitem's generated (l_orderkey, l_linenumber) pairs
    are not unique): there the copies must be disjoint, i.e. hold 10x the
    source's distinct keys."""
    n = con.execute(
        f"select count(*) from read_parquet('{DST}/{table}.parquet')"
    ).fetchone()[0]
    want = n if want is None else want
    d = distinct_keys(f"{DST}/{table}.parquet", key)
    assert d == want, f"{table}: {d} distinct ({key}) keys, want {want}"


EV = key_shift("events", "event_id")
CK = key_shift("customer", "c_custkey")
OK = key_shift("orders", "o_orderkey")
PK = key_shift("part", "p_partkey")
SK = key_shift("supplier", "s_suppkey")

copy_scaled("events", f"""
  SELECT k*{EV} + event_id AS event_id, ts, user_id, event_type, value, props
  FROM read_parquet('{SRC}/events.parquet'), {K}
  ORDER BY event_id""")

copy_scaled("customer", f"""
  SELECT k*{CK} + c_custkey AS c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM read_parquet('{SRC}/customer.parquet'), {K} ORDER BY c_custkey""")

copy_scaled("orders", f"""
  SELECT k*{OK} + o_orderkey AS o_orderkey, k*{CK} + o_custkey AS o_custkey,
         o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM read_parquet('{SRC}/orders.parquet'), {K} ORDER BY o_orderkey""")

copy_scaled("lineitem", f"""
  SELECT k*{OK} + l_orderkey AS l_orderkey, k*{PK} + l_partkey AS l_partkey,
         k*{SK} + l_suppkey AS l_suppkey, l_linenumber, l_quantity, l_extendedprice,
         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
  FROM read_parquet('{SRC}/lineitem.parquet'), {K} ORDER BY l_orderkey""")

copy_scaled("part", f"""
  SELECT k*{PK} + p_partkey AS p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
  FROM read_parquet('{SRC}/part.parquet'), {K} ORDER BY p_partkey""")

copy_scaled("supplier", f"""
  SELECT k*{SK} + s_suppkey AS s_suppkey, s_name, s_nationkey, s_acctbal
  FROM read_parquet('{SRC}/supplier.parquet'), {K} ORDER BY s_suppkey""")

for t in ["nation", "region"]:
    shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    print(t, "copied", flush=True)

# ---- documents -----------------------------------------------------------
rng = np.random.default_rng(20260822)
rows = con.execute(f"select doc_id, text from read_parquet('{SRC}/documents.parquet') order by doc_id").fetchall()
texts = [t for _, t in rows]
# empirical vocab/freq and length distribution, measured over base content
# (strip the planted 'dup' suffixes so they are not re-sampled organically)
from collections import Counter
wc = Counter()
lengths = []
for t in texts:
    ws = [w for w in t.split() if w != "dup"]
    wc.update(ws)
    lengths.append(len(ws))
vocab = sorted(wc)
freqs = np.array([wc[w] for w in vocab], dtype=np.float64)
freqs /= freqs.sum()
lengths = np.array(lengths)

N_NEW = 45000
n_fam = round(233 * N_NEW / 5000)          # families per 5000 docs, scaled
fam_extra = rng.choice([1, 2, 3], size=n_fam, p=[223/233, 9/233, 1/233])
n_variants = int(fam_extra.sum())
n_base = N_NEW - n_variants

def gen_doc():
    n = int(rng.choice(lengths))
    return " ".join(rng.choice(vocab, size=n, p=freqs))

new_texts = [gen_doc() for _ in range(n_base)]
variants = []
base_idx = rng.choice(n_base, size=n_fam, replace=False)
for bi, extra in zip(base_idx, fam_extra):
    for _ in range(int(extra)):
        g = rng.choice([1, 2, 3], p=[246/250, 3/250, 1/250])
        variants.append(new_texts[bi] + " dup" * int(g))
all_new = new_texts + variants
rng.shuffle(all_new)
first_new_doc = max(i for i, _ in rows) + 1
doc_ids = list(range(first_new_doc, first_new_doc + N_NEW))
tbl = pa.table({
    "doc_id": pa.array([i for i, _ in rows] + doc_ids, pa.int64()),
    "text": pa.array(texts + all_new, pa.string()),
})
pq.write_table(tbl, f"{DST}/documents.parquet", row_group_size=RG)
print("documents", len(tbl), flush=True)

# ---- embeddings ----------------------------------------------------------
erows = con.execute(f"select vec_id, embedding, label from read_parquet('{SRC}/embeddings.parquet') order by vec_id").fetchall()
E = np.array([r[1] for r in erows], dtype=np.float32)
norms = np.linalg.norm(E.astype(np.float64), axis=1)
print("orig emb norm min/max:", norms.min(), norms.max(), flush=True)
N_EMB = 18000
V = rng.standard_normal((N_EMB, E.shape[1]))
V /= np.linalg.norm(V, axis=1, keepdims=True)
V = V.astype(np.float32)
new_labels = rng.integers(0, 10, size=N_EMB)
emb_tbl = pa.table({
    "vec_id": pa.array(
        [r[0] for r in erows] + list(range(erows[-1][0] + 1, erows[-1][0] + 1 + N_EMB)),
        pa.int64(),
    ),
    "embedding": pa.array([r[1] for r in erows] + [v.tolist() for v in V],
                          pa.list_(pa.float32())),
    "label": pa.array([r[2] for r in erows] + new_labels.tolist(), pa.int32()),
})
pq.write_table(emb_tbl, f"{DST}/embeddings.parquet", row_group_size=RG)
print("embeddings", len(emb_tbl), flush=True)

LI_KEY = "l_orderkey, l_linenumber"
assert_unique("lineitem", LI_KEY, 10 * distinct_keys(f"{SRC}/lineitem.parquet", LI_KEY))
for table, key in [
    ("events", "event_id"),
    ("customer", "c_custkey"),
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
    ("nation", "n_nationkey"),
    ("region", "r_regionkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]:
    assert_unique(table, key)
print("keys unique", flush=True)
print("DONE", flush=True)
