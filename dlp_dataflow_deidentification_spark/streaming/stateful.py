"""Custom stateful operators over the RocksDB/HDFS state store.

``batched_requests`` is the direct re-expression of the reference's
BagState + event-time-timer batcher
(beam/BatchRequestForDLP.java:44-106: buffer rows per sharded key, fire at
the window end, greedily pack ≤ batchSizeBytes bags; V1 equivalent
DLPTextToBigQueryStreaming.java:604-668; unit-test contract
BatchRequestForDLPTest.java:59-121 asserts the multiset of emitted batch
sizes per key). In Spark the operator is ``applyInPandasWithState``:

* per-key state = (buffered byte size, buffered row count, next batch
  sequence, max event time)
* new rows append to the buffer; every time the byte budget fills, a batch
  row (key, batch_seq, n_rows, n_bytes) is emitted — greedy packing
* an event-time timeout (watermark-driven — the Beam timer analogue)
  flushes the remainder

``conversation_assembler`` applies the same machinery to the transcript
payload: per-conv_id turn accumulation emitted when the conversation goes
idle past the gap (the stateful upgrade of session_window when per-session
custom logic is needed).

Both operators have ONE state machine. Rows are grouped by a state group —
``pmod(xxhash64(key), n_buckets)``, or the key itself when ``n_buckets`` is
None — and each group's state row is a JSON map ``{key: entry}`` of the
keys it holds, folded by one vectorized pandas pass per group. This is the
reference's ShardRows→BatchRequestForDLP shape (beam/ShardRows.java:66-81:
shard precisely so per-key dispatch amortizes); ``n_buckets=None`` keeps one
state row per key. Batch input runs the same fold through a stateless
``applyInPandas`` (``applyInPandasWithState`` is streaming-only) and
flushes every open entry at the end.
"""
from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, GroupedData
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BATCH_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("batch_seq", IntegerType()),
        StructField("n_rows", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

CONV_OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("n_pii_turns", IntegerType()),
        StructField("first_ms", LongType()),
        StructField("last_ms", LongType()),
    ]
)

# ONE state row per state group: the JSON map of its keys' open entries.
# Every entry is a 4-list whose [3] is the key's last event time (ms), the
# base of its flush deadline.
_STATE_SCHEMA = StructType([StructField("packed", StringType())])

_PII_RE = r"\[[A-Z_]+\]"
_SESS_COLS = ["conv_id", "n_turns", "n_pii_turns", "first_ms", "last_ms"]
_BATCH_COLS = ["key", "batch_seq", "n_rows", "n_bytes"]

# The folds run in pandas, where groupby drops null keys and the packed-state
# JSON map cannot hold a null key — but Spark's groupBy KEEPS a null-key
# group. Null keys are therefore encoded as this reserved sentinel inside
# the fold/state and decoded back to null at every emit point. Control
# chars cannot appear in any realistically sourced key (file names, table
# keys, conversation ids); NUL itself is avoided — numpy's fixed-width
# unicode storage strips trailing NUL bytes, so a bare "\\x00" silently
# becomes "" through pandas fillna/groupby.
_NULL_KEY = "\x01__null_key__\x01"


def _key_out(key):
    return None if key == _NULL_KEY else key


def _decode_null_key(df: pd.DataFrame, col: str) -> pd.DataFrame:
    mask = df[col] == _NULL_KEY
    if mask.any():
        df = df.copy()
        df.loc[mask, col] = None
    return df


def _by_group(df: DataFrame, key_col: str, n_buckets: "int | None") -> GroupedData:
    """Group rows by their state group: the key itself when ``n_buckets`` is
    None, else ``pmod(xxhash64(key), n_buckets)``."""
    if n_buckets is None:
        return df.groupBy(key_col)
    return df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    ).groupBy("__bucket")


def _load(state: GroupState) -> dict:
    return json.loads(state.get[0]) if state.exists else {}


def _save(state: GroupState, carried: dict, gap_ms: int) -> None:
    """Store the group's open entries and arm its event-time timeout at the
    EARLIEST entry deadline (``entry[3] + gap_ms``). The Beam analogue is an
    event-time timer at the window max. Clamped to just past the CURRENT
    watermark: during multi-batch catch-up the watermark can already be
    beyond an old key's event times, and Spark rejects a timeout earlier
    than the watermark (INVALID_TIMEOUT_TIMESTAMP) — a past-due entry
    should simply flush at the next tick."""
    if not carried:
        state.remove()
        return
    state.update((json.dumps(carried),))
    state.setTimeoutTimestamp(
        max(
            min(v[3] for v in carried.values()) + gap_ms,
            state.getCurrentWatermarkMs() + 1,
        )
    )


def _expire(state: GroupState, gap_ms: int) -> dict:
    """Timeout branch: remove and return exactly the entries whose deadline
    the watermark passed, re-arming the group for the rest."""
    carried = _load(state)
    wm = state.getCurrentWatermarkMs()
    due = {k: v for k, v in carried.items() if v[3] + gap_ms <= wm}
    _save(state, {k: v for k, v in carried.items() if k not in due}, gap_ms)
    return due


def pack_greedy(
    sizes, buf_bytes: int, buf_rows: int, next_seq: int, max_batch_bytes: int
):
    """Vectorized greedy byte-packing (cumsum + one searchsorted per emitted
    batch). Semantics identical to the scalar rule the reference's
    BatchRequestForDLP implements per bag: flush when adding the next row
    would exceed the budget and the buffer is non-empty; a single oversized
    row forms its own batch. Returns (emitted [(seq, n_rows, n_bytes)...],
    (buf_bytes, buf_rows, next_seq))."""
    out: list[tuple] = []
    sizes = np.asarray(sizes, dtype=np.int64)
    if not len(sizes):
        return out, (buf_bytes, buf_rows, next_seq)
    cs = np.cumsum(sizes)
    start, n_in = 0, len(sizes)
    while start < n_in:
        base = int(cs[start - 1]) if start else 0
        budget = max_batch_bytes - buf_bytes if buf_rows else max_batch_bytes
        j = int(np.searchsorted(cs, base + budget, side="right")) - 1
        if j < start:
            if buf_rows:  # next row overflows the carry → flush it
                out.append((next_seq, buf_rows, buf_bytes))
                next_seq += 1
                buf_bytes, buf_rows = 0, 0
                continue
            j = start  # oversized single row: its own buffer
        buf_bytes += int(cs[j]) - base
        buf_rows += j - start + 1
        start = j + 1
        if start < n_in:  # row j+1 overflowed → emit now
            out.append((next_seq, buf_rows, buf_bytes))
            next_seq += 1
            buf_bytes, buf_rows = 0, 0
    return out, (buf_bytes, buf_rows, next_seq)


def _payload_sizes(
    pdf: pd.DataFrame, payload_col: str, order_col: "str | None"
) -> "np.ndarray":
    """Per-row payload size in packing order. fillna BEFORE astype(str):
    astype would turn None into the literal 4-char string "None", charging
    null payloads 4 bytes. Size = UTF-8 BYTES, not codepoints: the reference
    budgets Table.Row.getSerializedSize()
    (beam/BatchRequestForDLP.java:62-66), which is proto-serialized UTF-8 —
    a codepoint count would under-charge non-ASCII payloads up to 4x and
    overshoot max_batch_bytes."""
    if order_col is not None:
        pdf = pdf.sort_values(order_col, kind="mergesort")
    return (
        pdf[payload_col]
        .fillna("")
        .astype(str)
        .str.encode("utf-8")
        .str.len()
        .astype("int64")
        .to_numpy()
    )


def batched_requests(
    df: DataFrame,
    key_col: str = "conv_id",
    payload_col: str = "text",
    ts_col: str = "ts",
    max_batch_bytes: int = 500_000,
    flush_gap_ms: int = 10_000,
    watermark: str = "10 seconds",
    order_col: "str | None" = None,
    n_buckets: "int | None" = None,
) -> DataFrame:
    """Greedy byte-budget batching per key with event-time flush.

    Streaming input: ``applyInPandasWithState`` (state store + watermark
    timeout flushes the remainder). Batch input: the same fold through a
    stateless ``applyInPandas``, each key's remainder flushed as its final
    batch; this is the oracle-testable form. ``order_col``: pack a key's
    rows in this deterministic order instead of arrival/partition order
    (required for the batch oracle; in streaming it orders a key's rows
    within each delivered micro-batch — arrival order across micro-batches
    is the semantic, as in the reference's BagState).
    Output: key, batch_seq, n_rows, n_bytes.

    ``n_buckets``: ONE state row (JSON map ``{key: [buf_bytes, buf_rows,
    next_seq, max_event_ms]}``) and ONE pandas dispatch per
    ``pmod(xxhash64(key), n_buckets)`` bucket; ``pack_greedy`` still runs
    per key inside it. None = one state row per key. At millions of live
    keys per-key Arrow dispatch dominates the stateless work, which
    bucketing amortizes; the output does not depend on ``n_buckets``
    (pinned by tests). A bucket's timeout fires at the EARLIEST key
    deadline (``max_event_ms + flush_gap_ms``) and flushes exactly the due
    keys' remainders.
    """

    def _fold(pdf: pd.DataFrame, carried: dict):
        """Per-key pack_greedy over one group's delivered rows, seeded with
        the carried buffers. Returns (emitted rows, new carried).
        ``dropna=False`` + sentinel: pandas groupby would silently drop
        null-key rows, and the carried JSON map needs a string key."""
        out: list[tuple] = []
        ms_all = (
            (pdf[ts_col].astype("int64") // 1_000_000)
            if ts_col in pdf.columns and len(pdf)
            else None
        )
        for key, kdf in pdf.groupby(key_col, sort=False, dropna=False):
            k_enc = _NULL_KEY if pd.isna(key) else key
            buf_bytes, buf_rows, next_seq, max_ms = carried.get(k_enc, [0, 0, 0, 0])
            if ms_all is not None:
                max_ms = max(max_ms, int(ms_all.loc[kdf.index].max()))
            emitted, (buf_bytes, buf_rows, next_seq) = pack_greedy(
                _payload_sizes(kdf, payload_col, order_col),
                buf_bytes,
                buf_rows,
                next_seq,
                max_batch_bytes,
            )
            out.extend((_key_out(k_enc), seq, n, b) for seq, n, b in emitted)
            carried[k_enc] = [int(buf_bytes), int(buf_rows), int(next_seq), int(max_ms)]
        return out, carried

    def _remainders(carried: dict) -> list:
        return [(_key_out(k), seq, br, bb) for k, (bb, br, seq, _) in carried.items() if br]

    wdf = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))

    if not wdf.isStreaming:

        def bfn(pdf: pd.DataFrame) -> pd.DataFrame:
            out, carried = _fold(pdf, {})
            # full flush: each remainder is its key's final batch
            return pd.DataFrame(out + _remainders(carried), columns=_BATCH_COLS)

        return _by_group(wdf, key_col, n_buckets).applyInPandas(bfn, BATCH_OUTPUT_SCHEMA)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            out = _remainders(_expire(state, flush_gap_ms))
        else:
            out, carried = _fold(pd.concat(list(pdfs), ignore_index=True), _load(state))
            _save(state, carried, flush_gap_ms)
        if out:
            yield pd.DataFrame(out, columns=_BATCH_COLS)

    return _by_group(
        wdf.withWatermark(ts_col, watermark), key_col, n_buckets
    ).applyInPandasWithState(
        fn,
        BATCH_OUTPUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def _fold_bucket(pdf: pd.DataFrame, carried: dict, gap_ms: int):
    """Vectorized gap-session fold over ALL conversations in one state group.

    Semantically identical to the scalar per-conversation fold (split rule
    ``ts - running_max_last >= gap_ms``, min/max first/last merge against
    carried state; the scalar reference lives in tests/test_properties.py),
    but one pandas pass per group instead of one Python dispatch per
    conversation — the ShardRows-style batching that amortizes per-key
    overhead (beam/ShardRows.java:66-81).

    Two cumsum passes:
      1. rows sorted by (conv, ts): session breaks where the gap to the
         previous row (== running max, rows ascending) >= gap_ms → chunk
         sessions aggregated in one groupby;
      2. chunk sessions ∪ carried open sessions sorted by (conv, first):
         re-merge with the same rule against a per-conv running-max
         ``last`` (cummax) — a carried session can overlap/bridge chunk
         sessions arbitrarily, which running-max handles exactly like the
         scalar fold does.

    Returns ``(sessions, is_open)``: per-conv time-ordered session records
    (columns ``_SESS_COLS``) and a bool mask marking each conversation's
    trailing (still-open) session.
    """
    ms = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
    pii = (
        pdf["text"].str.contains(_PII_RE, regex=True, na=False).to_numpy().astype("int64")
    )
    conv_in = pdf["conv_id"]
    if conv_in.isna().any():
        # null-key group: encoded as the sentinel for the whole fold (and in
        # the carried state map); decoded back to null by the callers
        conv_in = conv_in.fillna(_NULL_KEY)
    rf = pd.DataFrame({"conv": conv_in.to_numpy(), "ms": ms, "pii": pii})
    rf = rf.sort_values(["conv", "ms"], kind="mergesort", ignore_index=True)
    new_conv = rf["conv"].ne(rf["conv"].shift())
    brk = new_conv | (rf["ms"] - rf["ms"].shift() >= gap_ms)
    rf["sid"] = brk.cumsum()
    sess = rf.groupby("sid", sort=False).agg(
        conv=("conv", "first"),
        n=("pii", "size"),
        npii=("pii", "sum"),
        first=("ms", "min"),
        last=("ms", "max"),
    )
    # the carried open session SEEDS the fold (rank 0, BEFORE every chunk
    # session regardless of its own timestamps): the scalar rule splits only
    # on a FORWARD gap (ms - running_last >= gap), so a late chunk session
    # entirely EARLIER than the carried one still merges into it — sorting
    # carried into timestamp position would wrongly close it (found by
    # test_fold_bucket_equals_scalar_fold_property)
    sess["_rank"] = 1
    if carried:
        cf = pd.DataFrame(
            [(c, v[0], v[1], v[2], v[3], 0) for c, v in carried.items()],
            columns=["conv", "n", "npii", "first", "last", "_rank"],
        )
        sess = pd.concat([sess, cf], ignore_index=True)
    sess = sess.sort_values(
        ["conv", "_rank", "first"], kind="mergesort", ignore_index=True
    )
    new_conv2 = sess["conv"].ne(sess["conv"].shift())
    # running max of `last` within the conv: a carried session can span
    # several chunk sessions; shift() crossing a conv boundary is masked
    # off by new_conv2
    cm = sess.groupby("conv", sort=False)["last"].cummax()
    brk2 = new_conv2 | (sess["first"] - cm.shift() >= gap_ms)
    sess["sid2"] = brk2.cumsum()
    merged = (
        sess.groupby("sid2", sort=False)
        .agg(
            conv=("conv", "first"),
            n=("n", "sum"),
            npii=("npii", "sum"),
            first=("first", "min"),
            last=("last", "max"),
        )
        .reset_index(drop=True)
    )
    merged.columns = pd.Index(_SESS_COLS)
    is_open = merged["conv_id"].ne(merged["conv_id"].shift(-1)).to_numpy()
    return merged, is_open


def conversation_assembler(
    df: DataFrame,
    gap_ms: int = 1_800_000,
    watermark: str = "30 minutes",
    n_buckets: "int | None" = None,
) -> DataFrame:
    """Per-conv_id stateful assembly: accumulate turn stats in state, emit one
    conversation record when the conversation idles past ``gap_ms`` (event-time
    timeout) — the custom-logic upgrade of ``session_window``. Batch input
    runs the same fold through a stateless ``applyInPandas``: every
    gap-closed session is emitted, including each conversation's final one.

    ``n_buckets``: group by ``pmod(xxhash64(conv_id), n_buckets)``, with ONE
    state row per bucket carrying every open conversation in it (JSON map
    ``{conv_id: [n, npii, first_ms, last_ms]}``) and ONE vectorized pandas
    fold per bucket (``_fold_bucket``). None = one state row per
    conversation. At millions of small conversations the per-group
    Arrow/pandas dispatch dominates, and bucketing turns ~|keys| dispatches
    per micro-batch into ~n_buckets; the output does not depend on
    ``n_buckets`` (pinned by tests). A bucket's timeout fires at the
    EARLIEST open conversation's deadline (``last_ms + gap_ms``) and flushes
    exactly the conversations whose deadline the watermark passed. Sizing:
    open conversations per bucket ≈ live_keys / n_buckets; keep the packed
    state row well under the state store's value-size comfort zone (a few
    MB) — e.g. 1e8 live conversations → n_buckets ≈ 1e5–1e6 spread over
    executors."""
    wdf = df.withColumn("ts", F.col("ts").cast("timestamp"))

    if not wdf.isStreaming:

        def bfn(pdf: pd.DataFrame) -> pd.DataFrame:
            # full flush: open sessions are final records too
            sessions, _ = _fold_bucket(pdf, {}, gap_ms)
            return _decode_null_key(sessions, "conv_id")

        return _by_group(wdf, "conv_id", n_buckets).applyInPandas(bfn, CONV_OUTPUT_SCHEMA)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            due = _expire(state, gap_ms)
            if due:
                yield pd.DataFrame(
                    [(_key_out(c), *v) for c, v in due.items()], columns=_SESS_COLS
                )
            return

        batch = pd.concat(list(pdfs), ignore_index=True)
        sessions, is_open = _fold_bucket(batch, _load(state), gap_ms)
        _save(
            state,
            {
                r.conv_id: [int(r.n_turns), int(r.n_pii_turns), int(r.first_ms), int(r.last_ms)]
                for r in sessions[is_open].itertuples()
            },
            gap_ms,
        )
        closed = _decode_null_key(sessions[~is_open], "conv_id")
        if len(closed):
            yield closed

    return _by_group(
        wdf.withWatermark("ts", watermark), "conv_id", n_buckets
    ).applyInPandasWithState(
        fn,
        CONV_OUTPUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
