"""Vectorized numpy port of Spark's ``xxhash64`` (catalyst ``XXH64``).

Bit-identical to ``F.xxhash64`` for the three shapes the MinHash stage
needs: a UTF-8 string (the hash of its bytes), an int (``hashInt``) and a
long (``hashLong``). A multi-argument or array ``xxhash64`` threads each
value's hash in as the next value's seed, starting from ``SEED``; nulls
are skipped. Every array argument is hashed element-wise, so one call
hashes a whole Arrow batch. Arithmetic is uint64 with wrap-around, as in
the JVM's signed longs; results come back as int64, Spark's ``bigint``.
"""
from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

SEED = 42

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _seeds(seed, n: int) -> np.ndarray:
    # an int64 seed array (previous hashes) reinterprets as uint64, the
    # int SEED converts; either way one uint64 per value
    s = np.asarray(seed)
    s = s.view(np.uint64) if s.dtype == np.int64 else s.astype(np.uint64)
    return np.broadcast_to(s, (n,)).copy()


def hash_int(values) -> np.ndarray:
    """``XXH64.hashInt``: Spark's hash of each 32-bit int in ``values``."""
    v = np.asarray(values, dtype=np.int64).astype(np.uint32).astype(np.uint64)
    h = _seeds(SEED, v.size) + _P5 + np.uint64(4)
    h ^= v.ravel() * _P1
    h = _rotl(h, 23) * _P2 + _P3
    return _fmix(h).view(np.int64).reshape(v.shape)


def hash_long(values, seed) -> np.ndarray:
    """``XXH64.hashLong``: Spark's hash of each 64-bit long in ``values``,
    ``seed`` one int64 per value — the previous hash of an
    ``xxhash64(a, b, ...)`` chain."""
    v = np.asarray(values, dtype=np.int64)
    h = _seeds(np.asarray(seed, dtype=np.int64).ravel(), v.size) + _P5 + np.uint64(8)
    h ^= _rotl(v.ravel().view(np.uint64) * _P2, 31) * _P1
    h = _rotl(h, 27) * _P1 + _P4
    return _fmix(h).view(np.int64).reshape(v.shape)


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def hash_ranges(buf: bytes, starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """``XXH64.hashUnsafeBytes`` of every byte range ``buf[s:s+n]`` — for
    a UTF-8 buffer, Spark's hash of each substring. Each step of the
    algorithm (32-byte stripes, then up to three 8-byte words, one 4-byte
    word and three bytes) runs once over all ranges that still have that
    step, so the Python loop count depends on the longest range only."""
    # 8 zero bytes of padding: an 8-byte read may start at any byte
    data = np.frombuffer(bytes(buf) + bytes(8), dtype=np.uint8)
    words = sliding_window_view(data, 8)  # words[i] = data[i:i+8], no copy

    def read64(off):
        return words[off].view("<u8").ravel()

    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    n = starts.size
    h = _seeds(SEED, n) + _P5
    stripes = lengths // 32
    big = np.flatnonzero(stripes)
    if big.size:
        s = _seeds(SEED, big.size)
        v = [s + _P1 + _P2, s + _P2, s.copy(), s - _P1]
        for k in range(int(stripes.max())):
            act = np.flatnonzero(stripes[big] > k)
            off = starts[big[act]] + 32 * k
            for j in range(4):
                v[j][act] = _round(v[j][act], read64(off + 8 * j))
        acc = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for lane in v:
            acc = (acc ^ _round(np.zeros_like(lane), lane)) * _P1 + _P4
        h[big] = acc
    h += lengths.astype(np.uint64)
    pos = starts + 32 * stripes
    rem = lengths - 32 * stripes
    for k in range(3):
        act = np.flatnonzero(rem >= 8 * (k + 1))
        h[act] ^= _round(np.zeros(act.size, np.uint64), read64(pos[act] + 8 * k))
        h[act] = _rotl(h[act], 27) * _P1 + _P4
    pos += rem & ~7
    rem &= 7
    act = np.flatnonzero(rem >= 4)
    h[act] ^= (read64(pos[act]) & np.uint64(0xFFFFFFFF)) * _P1
    h[act] = _rotl(h[act], 23) * _P2 + _P3
    pos[act] += 4
    rem[act] -= 4
    for k in range(3):
        act = np.flatnonzero(rem > k)
        h[act] ^= data[pos[act] + k].astype(np.uint64) * _P5
        h[act] = _rotl(h[act], 11) * _P1
    return _fmix(h).view(np.int64)
