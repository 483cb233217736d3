"""NIST SP 800-38G FF1 format-preserving encryption — DLP's
``cryptoReplaceFfxFpeConfig`` (the "format-preserving tokenization" leg of
the tokenization solution; the reference's sample templates use
cryptoDeterministicConfig/cryptoHashConfig, but the DLP template surface the
pipeline ships to the service — snippets/dlp-demo-part-2-dlp-template.yaml
and the DeidentifyConfig proto — carries FFX FPE as the flagship
tokenization primitive, so a template user switching engines needs it).

Spark shape: an Arrow-batched pandas UDF (one cipher object per batch, all
AES through the C-backed ``cryptography`` library — ~10 AES invocations per
cell, never per-byte Python). FPE is irreducibly per-value Feistel work, so
unlike the SHA/HMAC paths there is no whole-stage-codegen form; at 100 TB
this parallelizes embarrassingly (narrow projection, no shuffle) exactly
like the SIV path.

Implements the FF1 mode (10-round Feistel, CBC-MAC PRF) from the public
spec, pinned bit-for-bit to the NIST ACVP/SP 800-38G sample vectors in
tests/test_transforms.py.
"""
from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# DLP FfxCommonNativeAlphabet enum → concrete alphabets (radix = len)
COMMON_ALPHABETS = {
    "NUMERIC": "0123456789",
    "HEXADECIMAL": "0123456789abcdef",
    "UPPER_CASE_ALPHA_NUMERIC": "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ",
    "ALPHA_NUMERIC": (
        "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    ),
}

_ZERO_IV = b"\x00" * 16


def resolve_alphabet(alphabet: str) -> str:
    """A COMMON_ALPHABETS enum name or a literal custom alphabet string
    (DLP's custom_alphabet oneof: 2..95 distinct characters)."""
    alpha = COMMON_ALPHABETS.get(alphabet, alphabet)
    if len(alpha) < 2 or len(alpha) > 256:
        raise ValueError("alphabet must have 2..256 characters")
    if len(set(alpha)) != len(alpha):
        raise ValueError("alphabet characters must be distinct")
    return alpha


class FF1:
    """FF1 over one alphabet/key. ``encrypt``/``decrypt`` take numeral
    strings of the alphabet (SP 800-38G §5.2 algorithms 7/8) plus an
    arbitrary-length byte tweak."""

    def __init__(self, key: bytes, alphabet: str):
        if len(key) not in (16, 24, 32):
            raise ValueError("FF1 key must be 16/24/32 bytes (AES)")
        self.alphabet = resolve_alphabet(alphabet)
        self.radix = len(self.alphabet)
        self._idx = {ch: i for i, ch in enumerate(self.alphabet)}
        # minlen per spec: radix^minlen >= 100 and minlen >= 2
        self.minlen = max(2, math.ceil(math.log(100, self.radix)))
        self._key = key
        self._ecb = Cipher(algorithms.AES(key), modes.ECB()).encryptor()
        self._setup_cache: dict = {}
        # int(s, radix)/format fast path when the alphabet is a prefix of the
        # standard base-36 digit set (either case); None → per-char loops
        std = "0123456789abcdefghijklmnopqrstuvwxyz"[: self.radix]
        if self.radix <= 36 and self.alphabet == std:
            self._fast_case = "lower"
        elif self.radix <= 36 and self.alphabet == std.upper():
            self._fast_case = "upper"
        else:
            self._fast_case = None

    # -- numeral-string helpers (NUM_radix / STR_m_radix) -----------------
    def _num(self, s: str) -> int:
        x = 0
        for ch in s:
            x = x * self.radix + self._idx[ch]
        return x

    def _str(self, x: int, m: int) -> str:
        out = []
        for _ in range(m):
            x, r = divmod(x, self.radix)
            out.append(self.alphabet[r])
        return "".join(reversed(out))

    def _prf(self, data: bytes) -> bytes:
        """CBC-MAC under K (zero IV), via the one long-lived ECB encryptor:
        x = E(x ⊕ block) per 16-byte block. Identical output to a CBC pass
        (CBC with zero IV IS this chain) without constructing a fresh
        ``Cipher`` object per call — the ctor dominated the old per-call
        cost (10 PRF calls per encrypted value)."""
        x = b"\x00" * 16
        for off in range(0, len(data), 16):
            blk = data[off : off + 16]
            x = self._ecb.update(bytes(a ^ b for a, b in zip(x, blk)))
        return x

    def conforms(self, s: str) -> bool:
        return (
            self.minlen <= len(s) < 2**32
            and all(ch in self._idx for ch in s)
        )

    def _setup(self, n: int, v: int, t: int):
        key = (n, v, t)
        hit = self._setup_cache.get(key)
        if hit is not None:
            return hit
        b = (math.ceil(v * math.log2(self.radix)) + 7) // 8
        d = 4 * ((b + 3) // 4) + 4
        p = bytes(
            [1, 2, 1]
            + [(self.radix >> 16) & 0xFF, (self.radix >> 8) & 0xFF, self.radix & 0xFF]
            + [10, n // 2 % 256]
        ) + n.to_bytes(4, "big") + t.to_bytes(4, "big")
        pad = (-t - b - 1) % 16
        self._setup_cache[key] = (b, d, p, pad)
        return b, d, p, pad

    def _s_block(self, r: bytes, d: int) -> int:
        """y = NUM(S): S = R ‖ CIPH(R ⊕ [1]) ‖ CIPH(R ⊕ [2]) ‖ … truncated
        to d bytes."""
        s = r
        j = 1
        ri = int.from_bytes(r, "big")
        while len(s) < d:
            s += self._ecb.update((ri ^ j).to_bytes(16, "big"))
            j += 1
        return int.from_bytes(s[:d], "big")

    def encrypt(self, x: str, tweak: bytes = b"") -> str:
        n = len(x)
        u = n // 2
        v = n - u
        a, bstr = x[:u], x[u:]
        t = len(tweak)
        b, d, p, pad = self._setup(n, v, t)
        for i in range(10):
            q = tweak + b"\x00" * pad + bytes([i]) + self._num(bstr).to_bytes(b, "big")
            y = self._s_block(self._prf(p + q), d)
            m = u if i % 2 == 0 else v
            c = (self._num(a) + y) % (self.radix**m)
            a, bstr = bstr, self._str(c, m)
        return a + bstr

    def decrypt(self, x: str, tweak: bytes = b"") -> str:
        n = len(x)
        u = n // 2
        v = n - u
        a, bstr = x[:u], x[u:]
        t = len(tweak)
        b, d, p, pad = self._setup(n, v, t)
        for i in range(9, -1, -1):
            q = tweak + b"\x00" * pad + bytes([i]) + self._num(a).to_bytes(b, "big")
            y = self._s_block(self._prf(p + q), d)
            m = u if i % 2 == 0 else v
            c = (self._num(bstr) - y) % (self.radix**m)
            bstr, a = a, self._str(c, m)
        return a + bstr

    # -- batched forms (bit-identical to encrypt/decrypt) ------------------

    def _str_fast(self, x: int, m: int) -> str:
        r = self.radix
        if self._fast_case == "lower":
            if r == 10:
                return f"{x:0{m}d}"
            if r == 16:
                return f"{x:0{m}x}"
            return np.base_repr(x, r).lower().rjust(m, "0")
        if r == 16:
            return f"{x:0{m}X}"
        return np.base_repr(x, r).rjust(m, "0")

    def _feistel_batch(self, vals, tweaks, encrypt: bool):
        """Vectorized Feistel for ONE (value-length, tweak-length) group of
        conforming values. Exploits two structural facts: the CBC-MAC's
        first block P is group-constant (its chained cipher value E(P) is
        computed once), and every later chain stage is x = E(x ⊕ q_block) —
        ECB over independent 16-byte blocks, so the whole batch goes through
        ONE C call per stage per round. Halves live as uint64 (guarded:
        radix^half ≤ 2^62 and S-block width d ≤ 8 bytes, else the caller
        falls back to the scalar path). Bit-identical to encrypt()/decrypt()
        — same byte layout, same modular arithmetic — pinned by
        tests against the scalar NIST-vector-pinned implementation."""
        n = len(vals[0])
        u = n // 2
        v = n - u
        t = len(tweaks[0]) if tweaks else 0
        b, d, p, pad = self._setup(n, v, t)
        if (
            self._fast_case is None
            or d > 8
            or self.radix**u > (1 << 62)
            or self.radix**v > (1 << 62)
        ):
            return None
        R = len(vals)
        radix = self.radix
        A = np.fromiter((int(x[:u], radix) for x in vals), dtype=np.uint64, count=R)
        B = np.fromiter((int(x[u:], radix) for x in vals), dtype=np.uint64, count=R)
        mod_u = np.uint64(radix**u)
        mod_v = np.uint64(radix**v)
        qlen = t + pad + 1 + b
        Q = np.zeros((R, qlen), dtype=np.uint8)
        if t:
            Q[:, :t] = np.frombuffer(b"".join(tweaks), dtype=np.uint8).reshape(R, t)
        ipos = t + pad
        c0 = np.frombuffer(self._ecb.update(p), dtype=np.uint8)
        shift = np.uint64(8 * (8 - d))
        for i in (range(10) if encrypt else range(9, -1, -1)):
            src = B if encrypt else A
            Q[:, ipos] = i
            Q[:, qlen - b :] = src.astype(">u8").view(np.uint8).reshape(R, 8)[:, 8 - b :]
            X = np.broadcast_to(c0, (R, 16))
            for k in range(0, qlen, 16):
                X = np.frombuffer(
                    self._ecb.update((X ^ Q[:, k : k + 16]).tobytes()), dtype=np.uint8
                ).reshape(R, 16)
            y = X[:, :8].copy().view(">u8").reshape(R) >> shift
            mod = mod_u if i % 2 == 0 else mod_v
            if encrypt:
                A, B = B, (A + y % mod) % mod
            else:
                A, B = (B + (mod - y % mod)) % mod, A
        return [
            self._str_fast(int(A[j]), u) + self._str_fast(int(B[j]), v)
            for j in range(R)
        ]

    def codec_batch(self, vals, tweaks, encrypt: bool):
        """Batch encrypt/decrypt of CONFORMING numeral strings with per-value
        byte tweaks; output order matches input. Groups by (value length,
        tweak length) — the only shape parameters of the Feistel byte layout
        — vectorizing each group and falling back to the scalar path for
        shapes outside the uint64 envelope (or singleton groups)."""
        groups: dict = {}
        for j, (x, tw) in enumerate(zip(vals, tweaks)):
            groups.setdefault((len(x), len(tw)), []).append(j)
        out: list = [None] * len(vals)
        fn = self.encrypt if encrypt else self.decrypt
        for idxs in groups.values():
            gv = [vals[j] for j in idxs]
            gt = [tweaks[j] for j in idxs]
            res = self._feistel_batch(gv, gt, encrypt) if len(idxs) > 1 else None
            if res is None:
                res = [fn(x, tw) for x, tw in zip(gv, gt)]
            for j, r in zip(idxs, res):
                out[j] = r
        return out


def derive_fpe_key(crypto_key: str) -> bytes:
    """32-byte AES-256 key from the template's crypto key string — same
    derivation rule as derive_siv_key (the reference unwraps a KMS-wrapped
    key instead; out of scope in-process)."""
    return hashlib.sha256(crypto_key.encode()).digest()


def _codec(
    col: Column,
    key: bytes,
    alphabet: str,
    context: "Column | None",
    surrogate_info_type: "str | None",
    encrypt: bool,
    strict: bool,
) -> Column:
    """Shared tokenize/reidentify plumbing: per-row optional context tweak,
    non-conforming passthrough (or strict raise), surrogate envelope."""
    resolve_alphabet(alphabet)  # validate driver-side, not first-batch-side

    env_prefix = f"{surrogate_info_type}(" if surrogate_info_type else None

    def _one_series(s: pd.Series, tw: "pd.Series | None") -> pd.Series:
        ff1 = FF1(key, alphabet)
        vals = s.tolist()
        ctxs = tw.tolist() if tw is not None else None
        out: list = [None] * len(vals)
        # per-row branching (envelope/conforms/passthrough) stays row-wise —
        # it is cheap; the Feistel work is collected and run through the
        # vectorized batch codec (one group per value/tweak shape)
        work_i: list = []
        work_v: list = []
        work_t: list = []
        for j, v in enumerate(vals):
            if v is None:
                continue
            v = str(v)
            ctx = None if ctxs is None else ctxs[j]
            tweak = b"" if ctx is None else str(ctx).encode()
            if not encrypt and env_prefix:
                # envelope: TYPE(len):token — foreign/plain cells pass through
                if not v.startswith(env_prefix):
                    out[j] = v
                    continue
                head, sep, body = v.partition(":")
                # corrupt envelope: no colon, or the declared (len) field
                # disagreeing with the body, or a non-conforming body —
                # strict raises, tolerant nulls the cell (never IndexError)
                declared = head[len(env_prefix) : -1] if head.endswith(")") else ""
                if (
                    not sep
                    or not declared.isdigit()
                    or int(declared) != len(body)
                    or not ff1.conforms(body)
                ):
                    if strict:
                        raise ValueError(f"non-conforming FF1 token: {v!r}")
                    continue
                work_i.append(j)
                work_v.append(body)
                work_t.append(tweak)
                continue
            if not ff1.conforms(v):
                if strict and encrypt:
                    raise ValueError(
                        f"value not in FF1 domain (alphabet/minlen {ff1.minlen}): {v!r}"
                    )
                # FPE keeps non-domain values verbatim (passthrough) so a
                # later reid pass is symmetric; DLP itself errors the request
                out[j] = v
                continue
            work_i.append(j)
            work_v.append(v)
            work_t.append(tweak)
        toks = ff1.codec_batch(work_v, work_t, encrypt)
        if encrypt and env_prefix:
            for j, tk in zip(work_i, toks):
                out[j] = f"{env_prefix}{len(tk)}):{tk}"
        else:
            for j, tk in zip(work_i, toks):
                out[j] = tk
        return pd.Series(out, index=s.index, dtype=object)

    if context is not None:

        @F.pandas_udf(StringType())
        def _f2(s: pd.Series, tw: pd.Series) -> pd.Series:
            return _one_series(s, tw)

        return _f2(col.cast("string"), context.cast("string"))

    @F.pandas_udf(StringType())
    def _f1(s: pd.Series) -> pd.Series:
        return _one_series(s, None)

    return _f1(col.cast("string"))


def ff1_tokenize(
    col: Column,
    key: bytes,
    alphabet: str = "NUMERIC",
    context: "Column | None" = None,
    surrogate_info_type: "str | None" = None,
    strict: bool = False,
) -> Column:
    """Format-preserving tokenization (cryptoReplaceFfxFpeConfig): the token
    has the SAME length and alphabet as the input — a 16-digit PAN encrypts
    to 16 digits, so downstream schema/validation constraints keep holding.
    ``context`` = DLP's context field (per-row tweak: same plaintext in
    different contexts → different tokens). Non-domain values pass through
    verbatim (``strict=True`` raises instead)."""
    return _codec(col, key, alphabet, context, surrogate_info_type, True, strict)


def ff1_reidentify(
    col: Column,
    key: bytes,
    alphabet: str = "NUMERIC",
    context: "Column | None" = None,
    surrogate_info_type: "str | None" = None,
    strict: bool = True,
) -> Column:
    """Inverse of ff1_tokenize (envelope strip + FF1 decrypt). With an
    envelope, non-enveloped cells pass through (they were never tokenized);
    ``strict=False`` nulls corrupt enveloped tokens instead of failing."""
    return _codec(col, key, alphabet, context, surrogate_info_type, False, strict)
