"""InfoType detector registry.

Re-implements, natively, the detector semantics the reference delegates to the
Cloud DLP API: built-in infoTypes plus custom regex and dictionary detectors
(reference config: /root/reference/src/main/resources/inspect-template.json:8-32,
custom ONLINE_USER_ID regex at lines 22-31; dictionary/custom plumbing at
/root/reference/src/main/java/com/google/swarm/tokenization/beam/DLPInspectText.java:284-338).

Every pattern is written in the *common regex subset* of Java `java.util.regex`
(Spark's JVM-side ``regexp_replace`` / ``regexp_extract_all``), Python ``re``
(the pure-Python oracle used by tests), and RE2 (DuckDB's ``regexp_*`` used by
the driver's correctness gate): no lookarounds, no backreferences, no
possessive quantifiers. This keeps the engine's hot path on native Spark
expressions (whole-stage codegen) while remaining bit-identical to the oracles.
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass(frozen=True)
class InfoType:
    """A single detector: a named regex (or dictionary rendered to a regex)."""

    name: str
    pattern: str
    likelihood: str = "LIKELY"
    kind: str = "regex"  # "regex" | "dictionary" | "builtin"

    def compiled(self) -> re.Pattern:
        return re.compile(self.pattern)


# ---------------------------------------------------------------------------
# Built-in detectors (subset used by the reference's templates; see
# /root/reference/src/main/resources/inspect-template.json and
# /root/reference/src/test/resources/CCRecords_sample.jsonl AdditionalDetails).
# Patterns intentionally conservative: common-subset regex, deterministic.
# ---------------------------------------------------------------------------
BUILTIN_INFOTYPES: dict[str, InfoType] = {
    it.name: it
    for it in [
        InfoType(
            "EMAIL_ADDRESS",
            r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
            kind="builtin",
        ),
        InfoType(
            "IBAN_CODE",
            # CC + 2 check digits + 3..8 space-separated alnum groups
            r"\b[A-Z]{2}[0-9]{2}(?: ?[A-Z0-9]{2,4}){3,8}\b",
            kind="builtin",
        ),
        InfoType(
            "CREDIT_CARD_NUMBER",
            r"\b[0-9]{4}[\- ][0-9]{4}[\- ][0-9]{4}[\- ][0-9]{4}\b",
            kind="builtin",
        ),
        InfoType(
            "US_SOCIAL_SECURITY_NUMBER",
            r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
            kind="builtin",
        ),
        InfoType(
            "PHONE_NUMBER",
            r"\b[0-9]{3}[\-. ][0-9]{3}[\-. ][0-9]{4}\b",
            kind="builtin",
        ),
        InfoType(
            "IP_ADDRESS",
            r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
            kind="builtin",
        ),
        InfoType(
            "IPV6_ADDRESS",
            r"\b(?:[0-9A-Fa-f]{1,4}:){4,7}[0-9A-Fa-f]{1,4}\b",
            kind="builtin",
        ),
        InfoType(
            "MAC_ADDRESS",
            r"\b[0-9A-Fa-f]{2}(?::[0-9A-Fa-f]{2}){5}\b",
            kind="builtin",
        ),
        InfoType(
            "URL",
            r"https?://[A-Za-z0-9.\-]+(?:/[A-Za-z0-9._~:/?#@!$&'()*+,;=%\-]*)?",
            kind="builtin",
        ),
        InfoType(
            "DATE_OF_BIRTH",
            # contextual: dob/born marker + ISO or US date
            r"\b(?:dob|born)[: ]+(?:[0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{1,2}/[0-9]{1,2}/[0-9]{4})",
            kind="builtin",
        ),
        InfoType(
            "US_PASSPORT",
            r"\bpassport[#: ]+[A-Z0-9]{6,9}\b",
            kind="builtin",
        ),
    ]
}

# The reference's one custom detector (inspect-template.json:22-31): "\\b:\\d{16}"
ONLINE_USER_ID = InfoType("ONLINE_USER_ID", r"\b:[0-9]{16}", kind="regex")


def _reject_empty_match(name: str, pattern: str) -> None:
    """A detector whose regex matches the EMPTY string is meaningless for
    findings: it 'matches' at every position, so each cell yields an empty
    finding per character, and those crowd real findings out of the
    maxFindingsPerItem cap. The DuckDB oracle's offset derivation also
    pairs regexp_extract_all matches with split segments, and the two
    disagree on empty matches. Reject at construction."""
    if re.match(pattern, "") is not None:
        raise ValueError(
            f"detector {name!r}: pattern {pattern!r} matches the empty "
            "string; anchor it to at least one character (e.g. '+' not '*')"
        )


def custom_regex(name: str, pattern: str, likelihood: str = "LIKELY") -> InfoType:
    _reject_empty_match(name, pattern)
    return InfoType(name, pattern, likelihood, kind="regex")


def dictionary(name: str, words: list[str], likelihood: str = "LIKELY") -> InfoType:
    """Dictionary detector rendered to a word-boundary alternation regex.

    Mirrors DLP CustomInfoType.Dictionary; longest word first so the regex
    engine's leftmost-first alternation matches the longest phrase.
    """
    if not words or any(w == "" for w in words):
        # an empty word list renders '\\b(?:)\\b' which matches the empty
        # string everywhere — see _reject_empty_match
        raise ValueError(f"dictionary {name!r} needs at least one non-empty word")
    escaped = sorted((re.escape(w) for w in words), key=len, reverse=True)
    return InfoType(name, r"\b(?:" + "|".join(escaped) + r")\b", likelihood, "dictionary")


def resolve(name_or_infotype: "str | InfoType") -> InfoType:
    if isinstance(name_or_infotype, InfoType):
        return name_or_infotype
    if name_or_infotype == "ONLINE_USER_ID":
        return ONLINE_USER_ID
    try:
        return BUILTIN_INFOTYPES[name_or_infotype]
    except KeyError:
        raise KeyError(
            f"unknown infoType {name_or_infotype!r}; pass an InfoType with an "
            f"explicit pattern (custom_regex/dictionary)"
        ) from None


# Canonical detector order for multi-detector replacement. Semantics (documented
# engine rule, baked into engine AND oracles): detectors are applied as global
# replacements sequentially IN CONFIG ORDER; within one detector, the regex
# engine's leftmost-longest-available match wins. Ordering IBAN/card before
# phone/SSN prevents digit-group stealing between detectors.
DEFAULT_DETECTOR_ORDER = [
    "EMAIL_ADDRESS",
    "IBAN_CODE",
    "CREDIT_CARD_NUMBER",
    "US_SOCIAL_SECURITY_NUMBER",
    "PHONE_NUMBER",
    "ONLINE_USER_ID",
]
