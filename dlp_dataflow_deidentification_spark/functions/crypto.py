"""AES-SIV deterministic tokenization and HMAC-SHA-256 hashing.

The reference's cryptoDeterministicConfig is AES-SIV (RFC 5297) under a
KMS-wrapped key (/root/reference/src/main/resources/deid-template.json:212-231).
This module is the engine's one deterministic cipher: AES-SIV as an
Arrow-batched pandas UDF, used by the template compiler, ``reidentify`` and
the inline per-finding path alike. An SIV token reveals only whether two
whole values are equal.
"""
from __future__ import annotations

import base64

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def aes_siv_encrypt(col: Column, key: bytes) -> Column:
    """Deterministic AES-SIV tokenization, base64 output. Vectorized pandas UDF
    (Arrow batches); the per-cell cipher call is C-backed."""
    if len(key) not in (32, 48, 64):
        raise ValueError("AES-SIV key must be 32/48/64 bytes")

    @F.pandas_udf(StringType())
    def _enc(s: pd.Series) -> pd.Series:
        # import on the worker: the Rust-backed class does not cloudpickle
        from cryptography.hazmat.primitives.ciphers.aead import AESSIV

        siv = AESSIV(key)
        return s.map(
            lambda v: None
            if v is None
            else base64.b64encode(siv.encrypt(str(v).encode(), None)).decode()
        )

    return _enc(col)


def siv_tokenize(col: Column, key: bytes, surrogate_info_type: "str | None" = None) -> Column:
    """AES-SIV deterministic tokenization with the optional DLP
    ``SURROGATE(len):token`` envelope (deid-template.json:212-231) — the
    template compiler's default cryptoDeterministicConfig route."""
    tok = aes_siv_encrypt(col.cast("string"), key)
    if surrogate_info_type:
        tok = F.concat(
            F.lit(surrogate_info_type + "("),
            F.length(tok).cast("string"),
            F.lit("):"),
            tok,
        )
    return tok


def siv_reidentify(
    col: Column,
    key: bytes,
    surrogate_info_type: "str | None" = None,
    strict: bool = True,
) -> Column:
    """Inverse of siv_tokenize (envelope strip + AES-SIV decrypt).
    ``strict=False`` nulls corrupt/foreign tokens instead of failing the job
    (the try_aes_decrypt analogue for the SIV path — pair with the
    dead-letter side output)."""
    s = col.cast("string")
    if surrogate_info_type:
        s = F.regexp_replace(s, r"^[A-Z0-9_]+\([0-9]+\):", "")
    return aes_siv_decrypt(s, key, strict)


def aes_siv_decrypt(col: Column, key: bytes, strict: bool = True) -> Column:
    """Inverse of aes_siv_encrypt (REID, DLPReidentifyText.java:323-381).

    ``strict=True`` raises on any undecryptable cell (fails the job, like
    aes_decrypt). ``strict=False`` returns NULL for corrupt tokens — bad
    base64, failed SIV authentication, or non-UTF-8 plaintext — so callers
    can route them to the error table (common/DLPTransform.java:330-343)."""

    @F.pandas_udf(StringType())
    def _dec(s: pd.Series) -> pd.Series:
        import binascii

        from cryptography.exceptions import InvalidTag
        from cryptography.hazmat.primitives.ciphers.aead import AESSIV

        siv = AESSIV(key)

        def one(v):
            if v is None:
                return None
            if strict:
                return siv.decrypt(base64.b64decode(v), None).decode()
            try:
                return siv.decrypt(base64.b64decode(v, validate=True), None).decode()
            except (InvalidTag, binascii.Error, UnicodeDecodeError, ValueError):
                return None

        return s.map(one)

    return _dec(col)


def crypto_hash_hmac(col: Column, key: str, encoding: str = "base64") -> Column:
    """Strict HMAC-SHA-256 cryptoHashConfig (RFC 2104) — token-level parity
    with the reference's actual construction: deid-template.json:17-27 wraps
    an HMAC-SHA-256 under a KMS-held key, and the DLP service emits the MAC
    base64-encoded (``encoding="hex"`` for the engine-native hex shape).

    Fully NATIVE (zero Python in the hot path): HMAC(k, m) =
    SHA256((k⊕opad) ‖ SHA256((k⊕ipad) ‖ m)) with the two padded keys
    precomputed driver-side as 64-byte binary literals — two chained
    ``F.sha2`` calls inside WholeStageCodegen. Bit-equality with stdlib
    ``hmac`` is pinned by test_crypto_hash_hmac_bit_parity_with_python_hmac.
    Non-string columns are rendered with Spark's ``cast("string")`` before
    the MAC — the same rendering every other transform (including the
    sha256 mode) uses, so tokens are consistent across engine code paths;
    pinned by test_crypto_hash_rendering_of_nonstring_columns.
    This is the template compiler's DEFAULT (``hash_mode="hmac"``) so tokens
    match real DLP output bit-for-bit; ``hash_mode="sha256"`` remains the
    documented ``sha256(key ‖ value)`` opt-in (one digest instead of two,
    and the only form the DuckDB correctness oracle can express — its
    ``sha256`` is VARCHAR-only, so HMAC's raw inner digest can't flow
    through it).
    """
    if encoding not in ("base64", "hex"):
        raise ValueError(f"encoding must be 'base64' or 'hex', got {encoding!r}")
    import hashlib

    kb = key.encode()
    if len(kb) > 64:  # RFC 2104: long keys are hashed down to block size
        kb = hashlib.sha256(kb).digest()
    kb = kb.ljust(64, b"\0")
    ipad = bytes(b ^ 0x36 for b in kb)
    opad = bytes(b ^ 0x5C for b in kb)
    s = col.cast("string")
    inner = F.sha2(F.concat(F.lit(ipad), F.encode(s, "UTF-8")), 256)
    mac_hex = F.sha2(F.concat(F.lit(opad), F.unhex(inner)), 256)
    return F.base64(F.unhex(mac_hex)) if encoding == "base64" else mac_hex
