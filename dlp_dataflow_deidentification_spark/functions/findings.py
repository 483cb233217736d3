"""Per-finding (inline, free-text) primitive transforms + text re-identification.

DLP's InfoTypeTransformations apply a PrimitiveTransformation to EACH
FINDING inside an unstructured text item — the reference's own template
only uses replaceWithInfoTypeConfig there (deid-template.json:188-211),
but the public surface its users configure allows any primitive: mask a
matched SSN in place, tokenize an email inline under a surrogate envelope
so the text can later be re-identified
(DLPReidentifyText.java:323-381 is exactly that surrogate-reid workflow,
column-level; this module is its free-text form).

Arrow-batched pandas UDFs: a computed-per-match replacement has no native
expression (``regexp_replace`` lacks a callback form), so this is the
honest UDF case — C-backed ``re.sub`` with a callable, one pass per
detector per cell, no per-character Python. Detector chaining uses the
same leftmost-first overlap rule as ``transforms.replace_with_infotype``'s
``regexp_replace`` chain: an earlier detector's replacement is part of the
text later detectors scan.

Crypto objects (cryptography's Rust-backed classes) do not cloudpickle —
every replacement factory here closes over PICKLABLE state only and
lazy-initializes ciphers through module-level caches on first use inside
the executor (the established pattern from functions/crypto.py).
"""
from __future__ import annotations

import base64
import hashlib
import re
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .infotypes import InfoType, resolve


def transform_findings(
    col: Column,
    detectors: Iterable["str | InfoType"],
    repl: "Callable[[str], str] | dict",
) -> Column:
    """Replace every detector match inside ``col`` with ``repl(match)``.

    ``repl`` is one callable applied to all detectors' matches, or a dict
    ``{infoType name: callable}`` (every detector must be covered — a
    silently untransformed detector would leak PII). NULL text stays NULL.
    """
    dets = [resolve(d) for d in detectors]
    if callable(repl):
        table = {it.name: repl for it in dets}
    else:
        table = dict(repl)
        missing = [it.name for it in dets if it.name not in table]
        if missing:
            raise ValueError(
                f"no replacement for detectors {missing} — an uncovered "
                "detector would pass its findings through untransformed"
            )
    compiled = [(it.name, re.compile(it.pattern)) for it in dets]

    @F.pandas_udf(StringType())
    def _apply(s: pd.Series) -> pd.Series:
        def one(text):
            if text is None:
                return None
            for name, rx in compiled:
                fn = table[name]
                text = rx.sub(lambda m: fn(m.group(0)), text)
            return text

        return s.map(one)

    return _apply(col)


# -- replacement factories (all return picklable str -> str callables) ----


def mask_repl(
    masking_character: str = "*",
    number_to_mask: int = 0,
    reverse_order: bool = False,
    characters_to_skip: str = "",
) -> Callable[[str], str]:
    """characterMaskConfig applied to the finding text — same semantics as
    the column-level ``transforms.character_mask`` (cross-pinned by test):
    mask ``number_to_mask`` maskable (non-skip) characters from the front
    (back when ``reverse_order``); 0 = all maskable."""
    skip = frozenset(characters_to_skip)

    def repl(s: str) -> str:
        chars = list(s)
        idxs = [i for i, ch in enumerate(chars) if ch not in skip]
        if number_to_mask > 0:
            idxs = idxs[-number_to_mask:] if reverse_order else idxs[:number_to_mask]
        for i in idxs:
            chars[i] = masking_character
        return "".join(chars)

    return repl


def hash_repl(key: str, mode: str = "hmac") -> Callable[[str], str]:
    """cryptoHashConfig applied to the finding text. ``mode`` mirrors the
    template compiler's hash_mode: "hmac" = HMAC-SHA-256 base64 (bit-parity
    with crypto.crypto_hash_hmac), "sha256" = hex sha256(key || value)
    (bit-parity with transforms.crypto_hash, the DuckDB-expressible form)."""
    if mode not in ("hmac", "sha256"):
        raise ValueError(f"mode must be 'hmac' or 'sha256', got {mode!r}")
    kb = key.encode()

    if mode == "sha256":
        def repl(s: str) -> str:
            return hashlib.sha256(kb + s.encode()).hexdigest()
        return repl

    import hmac as _hmac

    def repl(s: str) -> str:
        return base64.b64encode(
            _hmac.new(kb, s.encode(), hashlib.sha256).digest()
        ).decode()

    return repl


_SIV_CACHE: dict = {}


def _siv(key: bytes):
    c = _SIV_CACHE.get(key)
    if c is None:
        from cryptography.hazmat.primitives.ciphers.aead import AESSIV

        c = _SIV_CACHE[key] = AESSIV(key)
    return c


def siv_repl(key: bytes, surrogate_info_type: "str | None" = None) -> Callable[[str], str]:
    """cryptoDeterministicConfig applied to the finding text: AES-SIV
    (the reference's cipher), base64, optional ``NAME(len):token`` envelope
    — the same token shape the column-level ``crypto.siv_tokenize`` mints,
    so ``reidentify_text`` / column reid share one envelope grammar."""

    def repl(s: str) -> str:
        tok = base64.b64encode(_siv(key).encrypt(s.encode(), None)).decode()
        if surrogate_info_type:
            return f"{surrogate_info_type}({len(tok)}):{tok}"
        return tok

    return repl


_FF1_CACHE: dict = {}


def ff1_repl(key: bytes, alphabet: str) -> Callable[[str], str]:
    """cryptoReplaceFfxFpeConfig applied to the finding text (NIST FF1,
    functions/fpe.py). A finding containing characters outside the alphabet,
    or shorter than FF1's minimum length, passes through UNCHANGED — the
    same non-domain passthrough stance as the column-level ff1_tokenize."""

    def repl(s: str) -> str:
        ck = (key, alphabet)
        f = _FF1_CACHE.get(ck)
        if f is None:
            from .fpe import FF1

            f = _FF1_CACHE[ck] = FF1(key, alphabet)
        if len(s) < f.minlen or any(ch not in f._idx for ch in s):
            return s
        return f.encrypt(s, b"")

    return repl


# -- text re-identification ------------------------------------------------

def reidentify_text(
    col: Column,
    key: bytes,
    surrogate_info_type: str,
    strict: bool = True,
) -> Column:
    """Inverse of inline SIV tokenization: scan the text for
    ``NAME(len):token`` envelopes and replace each with its decrypted
    plaintext (free-text form of the reference's surrogate REID,
    DLPReidentifyText.java:323-381). The envelope's explicit length field
    delimits the token exactly — no charset guessing.

    ``strict=True`` raises on a corrupt/foreign token (task failure →
    retry/dead-letter, like column reid); ``strict=False`` leaves the
    envelope text UNTOUCHED instead — deviating from column reid's
    null-the-cell because nulling a whole free-text cell would destroy the
    surrounding non-token content."""
    head = re.compile(re.escape(surrogate_info_type) + r"\((\d+)\):")

    @F.pandas_udf(StringType())
    def _reid(s: pd.Series) -> pd.Series:
        def one(text):
            if text is None:
                return None
            out, pos = [], 0
            for m in head.finditer(text):
                if m.start() < pos:
                    continue  # envelope head inside a previous token body
                n = int(m.group(1))
                tok = text[m.end(): m.end() + n]
                plain = None
                if len(tok) == n:
                    try:
                        plain = _siv(key).decrypt(
                            base64.b64decode(tok, validate=True), None
                        ).decode()
                    except Exception:
                        plain = None
                if plain is None:
                    if strict:
                        raise ValueError(
                            f"corrupt {surrogate_info_type} token at offset "
                            f"{m.start()} (strict mode)"
                        )
                    continue  # tolerant: leave the envelope as-is
                out.append(text[pos: m.start()])
                out.append(plain)
                pos = m.end() + n
            out.append(text[pos:])
            return "".join(out)

        return s.map(one)

    return _reid(col)
