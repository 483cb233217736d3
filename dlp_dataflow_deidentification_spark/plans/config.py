"""DLP template parsing → transform plan.

Accepts the reference's template JSON shape
(/root/reference/src/main/resources/deid-template.json — the public Cloud DLP
DeidentifyTemplate schema) and compiles it into a list of (columns → Column
expression) bindings that ``operators.deidentify`` applies. This replaces the
reference's remote template fetch (DLPDeidentifyText.java:325-343) with a
local, declarative plan.

Supported primitiveTransformations: cryptoHashConfig, characterMaskConfig,
bucketingConfig, fixedSizeBucketingConfig, cryptoDeterministicConfig,
cryptoReplaceFfxFpeConfig, replaceConfig, replaceDictionaryConfig,
redactConfig, timePartConfig, dateShiftConfig, replaceWithInfoTypeConfig
(via infoTypeTransformations). Record-level controls: recordSuppressions
and per-transformation ``condition`` (RecordCondition), compiled to native
boolean Columns evaluated against pre-transformation values.

cryptoDeterministicConfig compiles to AES-SIV (RFC 5297, the reference's
actual cipher — deid-template.json:212-231), the engine's one deterministic
cipher (``crypto.siv_tokenize``).
"""
from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import crypto, findings, fpe, infotypes, transforms


_TEMPLATE_ENVELOPES = ("deidentifyTemplate", "inspectTemplate")


def load_template_doc(source: "str | dict") -> dict:
    """THE template-document loader (single copy — previously four inline
    variants had drifted): read a path or accept a dict, tolerate the
    reference's ``// comment`` wrapper lines, and unwrap the tool-skeleton
    envelopes (``{"deidentifyTemplate": {...}}`` / ``{"inspectTemplate":
    ...}``, the shape DLPTemplateHelper uploads) — without the unwrap an
    enveloped deid template used to compile to an EMPTY plan and write raw
    PII as a silent no-op."""
    if isinstance(source, str):
        with open(source) as f:
            text = f.read()
        body = "\n".join(l for l in text.splitlines() if not l.strip().startswith("//"))
        doc = json.loads(body)
    else:
        doc = source
    for env in _TEMPLATE_ENVELOPES:
        if isinstance(doc, dict) and env in doc:
            doc = doc[env]
    return doc


@dataclass
class CompiledCondition:
    """A compiled DLP ``RecordCondition`` (the public proto shape:
    ``{"expressions": {"logicalOperator": "AND", "conditions":
    {"conditions": [{field, operator, value}, ...]}}}``). ``fields`` lists
    every field the predicate reads, so the applier can snapshot ORIGINAL
    values before any transformation rewrites them; ``build(resolver)``
    renders the predicate as one native boolean Column, with ``resolver``
    mapping a field name to the Column holding its pre-transformation
    value. An un-evaluable comparison (NULL field, non-numeric string cast)
    is NO MATCH, per DLP's condition semantics — build() coalesces to
    FALSE."""

    fields: set
    build: Callable[[Callable[[str], Column]], Column]


# DLP RecordCondition.Condition operators (RelationalOperator enum)
_COND_OPS = {
    "EQUAL_TO": lambda a, b: a == b,
    "NOT_EQUAL_TO": lambda a, b: a != b,
    "GREATER_THAN": lambda a, b: a > b,
    "LESS_THAN": lambda a, b: a < b,
    "GREATER_THAN_OR_EQUALS": lambda a, b: a >= b,
    "LESS_THAN_OR_EQUALS": lambda a, b: a <= b,
}


def _condition_column(cond: dict, resolver: Callable[[str], Column]) -> Column:
    name = cond["field"]["name"]
    op = cond["operator"]
    f = resolver(name)
    if op == "EXISTS":
        return f.isNotNull()
    if op not in _COND_OPS:
        raise ValueError(
            f"unsupported condition operator {op!r}; one of "
            f"{sorted(_COND_OPS)} or EXISTS"
        )
    v = cond["value"]
    # typed comparison per the Value oneof; casts that fail (e.g. a
    # non-numeric string vs integerValue) yield NULL -> no match
    if "stringValue" in v:
        expr = _COND_OPS[op](f.cast("string"), F.lit(v["stringValue"]))
    elif "integerValue" in v or "floatValue" in v:
        expr = _COND_OPS[op](f.cast("double"), F.lit(_num(v)))
    elif "booleanValue" in v:
        expr = _COND_OPS[op](f.cast("boolean"), F.lit(bool(v["booleanValue"])))
    elif "timestampValue" in v:
        expr = _COND_OPS[op](
            f.cast("timestamp"), F.lit(v["timestampValue"]).cast("timestamp")
        )
    elif "dateValue" in v:
        d = v["dateValue"]
        lit = f"{int(d['year']):04d}-{int(d['month']):02d}-{int(d['day']):02d}"
        expr = _COND_OPS[op](f.cast("date"), F.lit(lit).cast("date"))
    else:
        raise ValueError(f"unsupported condition value type: {list(v)}")
    return F.coalesce(expr, F.lit(False))


def _record_condition(rc: dict) -> CompiledCondition:
    exprs = rc["expressions"]
    lop = exprs.get("logicalOperator", "AND")
    # the public proto's LogicalOperator enum is {UNSPECIFIED, AND} only
    if lop not in ("AND", "LOGICAL_OPERATOR_UNSPECIFIED"):
        raise ValueError(f"logicalOperator must be AND, got {lop!r}")
    conds = exprs["conditions"]["conditions"]
    if not conds:
        raise ValueError("RecordCondition with zero conditions")
    # validate eagerly at compile time (same stance as the mode knobs): a
    # typo'd operator must fail at from_dict, not first row evaluation
    for c in conds:
        if c["operator"] != "EXISTS" and c["operator"] not in _COND_OPS:
            raise ValueError(
                f"unsupported condition operator {c['operator']!r}; one of "
                f"{sorted(_COND_OPS)} or EXISTS"
            )
    fields = {c["field"]["name"] for c in conds}

    def build(resolver: Callable[[str], Column]) -> Column:
        out = None
        for c in conds:
            cc = _condition_column(c, resolver)
            out = cc if out is None else (out & cc)
        return out

    return CompiledCondition(fields, build)


@dataclass
class FieldTransformation:
    fields: list[str]
    builder: Callable[[Column], Column]
    kind: str
    # optional RecordCondition gating this transformation (DLP
    # FieldTransformation.condition): rows where it is false/un-evaluable
    # keep their original value
    condition: "CompiledCondition | None" = None


@dataclass
class DeidTemplate:
    """Compiled de-identification plan."""

    transformations: list[FieldTransformation] = field(default_factory=list)
    # compiled recordSuppressions (DLP RecordTransformations.record_suppressions):
    # rows matching ANY suppression are dropped from the output entirely,
    # evaluated against ORIGINAL values before any field transformation
    suppressions: list[CompiledCondition] = field(default_factory=list)
    # detectors referenced by infoTypeTransformations, for inspect parity
    detectors: list[infotypes.InfoType] = field(default_factory=list)
    # field name -> surrogateInfoType name for cryptoDeterministicConfig
    # fields that mint an enveloped token ("NAME(len):token") — the REID
    # side needs it to strip the envelope before decrypting
    surrogates: dict = field(default_factory=dict)

    # -- construction ------------------------------------------------------
    @classmethod
    def from_file(cls, path: str, **kw) -> "DeidTemplate":
        return cls.from_dict(load_template_doc(path), **kw)

    @classmethod
    def from_dict(
        cls,
        doc: dict,
        crypto_key: "str | None" = None,
        custom_infotypes: dict[str, infotypes.InfoType] | None = None,
        hash_mode: str = "hmac",
        date_shift_basis: str = "xxhash64",
    ) -> "DeidTemplate":
        # validate the mode knobs eagerly — a typo'd mode on a template whose
        # primitives never reach the matching branch must still fail loudly,
        # not be silently accepted and ignored
        if hash_mode not in ("hmac", "sha256"):
            raise ValueError(f"hash_mode must be 'hmac' or 'sha256', got {hash_mode!r}")
        if date_shift_basis not in ("xxhash64", "md5"):
            raise ValueError(
                f"date_shift_basis must be 'xxhash64' or 'md5', got {date_shift_basis!r}"
            )
        doc = load_template_doc(doc)  # unwrap tool-skeleton envelopes
        custom = custom_infotypes or {"ONLINE_USER_ID": infotypes.ONLINE_USER_ID}
        cfg = doc.get("deidentifyConfig", doc)
        # transformationErrorHandling oneof: throwError (this engine's
        # behavior — a per-cell transform error fails the task) is accepted;
        # leaveUntransformed is NOT silently ignored — honoring it would
        # require per-cell error recovery native expressions don't offer,
        # and pretending otherwise would mis-handle real templates
        teh = cfg.get("transformationErrorHandling")
        if teh is not None and "leaveUntransformed" in teh:
            raise NotImplementedError(
                "transformationErrorHandling.leaveUntransformed is not "
                "supported (native expressions fail the task on a per-cell "
                "error; use the error-side-output / dead-letter leg instead)"
            )
        record = cfg.get("recordTransformations", cfg)
        out = cls()

        def _resolve(name: str) -> infotypes.InfoType:
            if name in custom:
                return custom[name]
            return infotypes.resolve(name)

        def _compile_itt(transformations, fields_, cond):
            """Compile one infoTypeTransformations.transformations list —
            shared by the per-field form and the top-level (unstructured
            ContentItem) form, where ``fields_`` is None = every string
            column at apply time."""
            for t in transformations:
                dets = [_resolve(i["name"]) for i in t.get("infoTypes", [])]
                if not dets:
                    # DLP reads empty infoTypes as "every finding", resolved
                    # against the request's inspect detectors — a deid
                    # template here has no ambient detector registry, so the
                    # empty list would compile to an IDENTITY transform that
                    # writes raw PII while reporting success. Refuse loudly.
                    raise ValueError(
                        "infoTypeTransformations entry with empty infoTypes "
                        "— list the infoTypes explicitly (this engine has "
                        "no ambient detector registry to resolve 'all')"
                    )
                out.detectors.extend(d for d in dets if d not in out.detectors)
                prim = t["primitiveTransformation"]
                if "replaceWithInfoTypeConfig" in prim:
                    out.transformations.append(
                        FieldTransformation(
                            fields_,
                            lambda c, dd=tuple(dets): transforms.replace_with_infotype(c, dd),
                            "replaceWithInfoType",
                            condition=cond,
                        )
                    )
                elif "redactConfig" in prim:
                    out.transformations.append(
                        FieldTransformation(
                            fields_,
                            lambda c, dd=tuple(dets): transforms.redact(c, dd),
                            "redact",
                            condition=cond,
                        )
                    )
                elif "replaceConfig" in prim:
                    nv = prim["replaceConfig"]["newValue"]["stringValue"]
                    out.transformations.append(
                        FieldTransformation(
                            fields_,
                            lambda c, dd=tuple(dets), v=nv: transforms.replace_value(c, dd, v),
                            "replace",
                            condition=cond,
                        )
                    )
                elif "characterMaskConfig" in prim:
                    cm = prim["characterMaskConfig"]
                    skip = "".join(
                        _ignore_chars(ci) for ci in cm.get("charactersToIgnore", [])
                    )
                    repl = findings.mask_repl(
                        cm.get("maskingCharacter", "*"),
                        cm.get("numberToMask", 0),
                        cm.get("reverseOrder", False),
                        skip,
                    )
                    out.transformations.append(
                        FieldTransformation(
                            fields_,
                            lambda c, dd=tuple(dets), r=repl: findings.transform_findings(c, dd, r),
                            "characterMask",
                            condition=cond,
                        )
                    )
                elif "cryptoHashConfig" in prim:
                    k = _resolve_key(
                        prim["cryptoHashConfig"], crypto_key,
                        "cryptoHashConfig (per-finding)",
                    )
                    repl = findings.hash_repl(k, hash_mode)
                    out.transformations.append(
                        FieldTransformation(
                            fields_,
                            lambda c, dd=tuple(dets), r=repl: findings.transform_findings(c, dd, r),
                            "cryptoHash",
                            condition=cond,
                        )
                    )
                elif "cryptoDeterministicConfig" in prim:
                    # inline tokenization: AES-SIV (the reference's
                    # cipher), and the surrogate envelope is MANDATORY —
                    # without it the token boundary inside the text is
                    # unrecoverable and reidentify_text could never find it
                    k = _resolve_key(
                        prim["cryptoDeterministicConfig"], crypto_key,
                        "cryptoDeterministicConfig (per-finding)",
                    )
                    sur = (
                        prim["cryptoDeterministicConfig"].get("surrogateInfoType") or {}
                    ).get("name")
                    if not sur:
                        raise ValueError(
                            "per-finding cryptoDeterministicConfig requires "
                            "surrogateInfoType — inline tokens need the "
                            "NAME(len): envelope to be re-identifiable"
                        )
                    for f_ in fields_ or []:
                        # streaming/batch reid auto-discovers the envelope
                        # name per column from here (plans.pipeline.apply_method)
                        out.surrogates[f_] = sur
                    repl = findings.siv_repl(derive_siv_key(k), sur)
                    out.transformations.append(
                        FieldTransformation(
                            fields_,
                            lambda c, dd=tuple(dets), r=repl: findings.transform_findings(c, dd, r),
                            "cryptoDeterministic",
                            condition=cond,
                        )
                    )
                elif "cryptoReplaceFfxFpeConfig" in prim:
                    cfg_f = prim["cryptoReplaceFfxFpeConfig"]
                    k = _resolve_key(
                        cfg_f, crypto_key, "cryptoReplaceFfxFpeConfig (per-finding)"
                    )
                    repl = findings.ff1_repl(fpe.derive_fpe_key(k), _ffx_alphabet(cfg_f))
                    out.transformations.append(
                        FieldTransformation(
                            fields_,
                            lambda c, dd=tuple(dets), r=repl: findings.transform_findings(c, dd, r),
                            "cryptoReplaceFfxFpe",
                            condition=cond,
                        )
                    )
                else:
                    raise ValueError(f"unsupported infoType transform: {list(prim)}")

        # top-level infoTypeTransformations (DeidentifyConfig oneof — the
        # unstructured-ContentItem template shape): applied to EVERY string
        # column, like the service does when such a config meets a table
        if "infoTypeTransformations" in cfg:
            if "recordTransformations" in cfg:
                raise ValueError(
                    "deidentifyConfig is a oneof: recordTransformations OR "
                    "infoTypeTransformations, not both"
                )
            _compile_itt(cfg["infoTypeTransformations"]["transformations"], None, None)

        for rs in record.get("recordSuppressions", []):
            out.suppressions.append(_record_condition(rs["condition"]))

        for ft in record.get("fieldTransformations", []):
            fields_ = [f["name"] for f in ft["fields"]]
            # optional per-transformation RecordCondition (public
            # FieldTransformation.condition oneof-sibling): rows where it
            # does not hold keep their original value
            cond = _record_condition(ft["condition"]) if "condition" in ft else None
            if "infoTypeTransformations" in ft:
                _compile_itt(ft["infoTypeTransformations"]["transformations"], fields_, cond)
                continue

            prim = ft["primitiveTransformation"]
            for sur_cfg in ("cryptoDeterministicConfig", "cryptoReplaceFfxFpeConfig"):
                if sur_cfg in prim:
                    sur = (prim[sur_cfg].get("surrogateInfoType") or {}).get("name")
                    if sur:
                        for f_ in fields_:
                            out.surrogates[f_] = sur
            out.transformations.append(
                FieldTransformation(
                    fields_,
                    _primitive(prim, crypto_key, hash_mode, date_shift_basis),
                    list(prim)[0],
                    condition=cond,
                )
            )
        if not out.transformations and not out.suppressions:
            # a "deid" plan with zero transformations would write raw PII
            # while reporting healthy metrics — refuse loudly instead
            raise ValueError(
                "template compiled to ZERO transformations — refusing a "
                "no-op de-identification plan (is this an inspect template, "
                "or is recordTransformations missing/misplaced?)"
            )
        return out


@dataclass
class HotwordRule:
    """DLP CustomInfoType.DetectionRule.HotwordRule: a context regex
    searched in a character window around each finding; on a hit the
    finding's likelihood is adjusted (fixed or relative). Per the public
    proto, the window INCLUDES the finding itself, so hotwords can match
    substrings of the finding."""

    pattern: str
    window_before: int = 0
    window_after: int = 0
    fixed_likelihood: "str | None" = None
    relative_likelihood: "int | None" = None


@dataclass
class ExclusionRule:
    """DLP ExclusionRule: drops findings matching the rule. Exactly one of
    ``pattern`` (regex), ``words`` (dictionary, case-insensitive like DLP's
    dictionary matching), ``exclude_info_types`` (drop findings overlapping
    a finding of a listed type in the same cell), or ``hotword``
    (excludeByHotword: drop when the hotword regex hits the proximity
    window) is set."""

    matching_type: str = "MATCHING_TYPE_FULL_MATCH"
    pattern: "str | None" = None
    words: "list[str] | None" = None
    exclude_info_types: "list[str] | None" = None
    hotword: "HotwordRule | None" = None


@dataclass
class InspectionRuleSet:
    """One InspectionRuleSet entry: rules scoped to ``info_types`` (empty =
    every detector)."""

    info_types: list[str] = field(default_factory=list)
    hotwords: list[HotwordRule] = field(default_factory=list)
    exclusions: list[ExclusionRule] = field(default_factory=list)


_MATCHING_TYPES = (
    "MATCHING_TYPE_FULL_MATCH",
    "MATCHING_TYPE_PARTIAL_MATCH",
    "MATCHING_TYPE_INVERSE_MATCH",
)


def _parse_hotword(hr: dict) -> HotwordRule:
    prox = hr.get("proximity") or {}
    adj = hr.get("likelihoodAdjustment") or {}
    fixed = adj.get("fixedLikelihood")
    rel = adj.get("relativeLikelihood")
    if fixed is not None and rel is not None:
        raise ValueError(
            "likelihoodAdjustment is a oneof: fixedLikelihood or "
            "relativeLikelihood, not both"
        )
    return HotwordRule(
        pattern=hr["hotwordRegex"]["pattern"],
        window_before=int(prox.get("windowBefore", 0)),
        window_after=int(prox.get("windowAfter", 0)),
        fixed_likelihood=fixed,
        relative_likelihood=int(rel) if rel is not None else None,
    )


def _parse_rule_set(rs: dict) -> InspectionRuleSet:
    out = InspectionRuleSet(
        info_types=[i["name"] for i in rs.get("infoTypes", [])]
    )
    for rule in rs.get("rules", []):
        if "hotwordRule" in rule:
            h = _parse_hotword(rule["hotwordRule"])
            if h.fixed_likelihood is None and h.relative_likelihood is None:
                # a hotwordRule with no likelihoodAdjustment is a no-op (and
                # crashed at first executor match before this check) — fail
                # at parse like every other config error. NOTE: the same
                # _parse_hotword feeds excludeByHotword, where omitting the
                # adjustment is legitimate (only the window is used).
                raise ValueError(
                    "hotwordRule needs a likelihoodAdjustment "
                    "(fixedLikelihood or relativeLikelihood)"
                )
            out.hotwords.append(h)
        elif "exclusionRule" in rule:
            ex = rule["exclusionRule"]
            mt = ex.get("matchingType", "MATCHING_TYPE_FULL_MATCH")
            if mt not in _MATCHING_TYPES:
                raise ValueError(
                    f"unknown matchingType {mt!r}; one of {_MATCHING_TYPES}"
                )
            kinds = [
                k
                for k in ("regex", "dictionary", "excludeInfoTypes", "excludeByHotword")
                if k in ex
            ]
            if len(kinds) != 1:
                raise ValueError(
                    f"exclusionRule needs exactly one of regex/dictionary/"
                    f"excludeInfoTypes/excludeByHotword, got {kinds}"
                )
            k = kinds[0]
            if k == "regex":
                out.exclusions.append(
                    ExclusionRule(matching_type=mt, pattern=ex["regex"]["pattern"])
                )
            elif k == "dictionary":
                words = ex["dictionary"]["wordList"]["words"]
                if not words:
                    raise ValueError("exclusion dictionary with zero words")
                out.exclusions.append(ExclusionRule(matching_type=mt, words=list(words)))
            elif k == "excludeInfoTypes":
                names = [i["name"] for i in ex["excludeInfoTypes"]["infoTypes"]]
                out.exclusions.append(
                    ExclusionRule(matching_type=mt, exclude_info_types=names)
                )
            else:
                out.exclusions.append(
                    ExclusionRule(
                        matching_type=mt,
                        hotword=_parse_hotword(ex["excludeByHotword"]),
                    )
                )
        else:
            raise ValueError(
                f"inspection rule needs hotwordRule or exclusionRule, got {list(rule)}"
            )
    return out


@dataclass
class InspectConfig:
    """Compiled DLP InspectConfig (inspect-template.json:8-32; the reference
    forwards minLikelihood/includeQuote/limits to the service at
    beam/DLPInspectText.java:269-270,306-309). Feed the fields to
    ``operators.inspect.inspect`` / ``inspect_offsets``."""

    detectors: list[infotypes.InfoType] = field(default_factory=list)
    min_likelihood: "str | None" = None
    include_quote: bool = True
    max_findings_per_item: "int | None" = None
    # compiled InspectConfig.ruleSet entries (hotword likelihood
    # adjustment + exclusion rules), applied by operators.inspect
    rule_sets: list[InspectionRuleSet] = field(default_factory=list)

    @classmethod
    def from_file(cls, path: str) -> "InspectConfig":
        return cls.from_dict(load_template_doc(path))

    @classmethod
    def from_dict(cls, doc: dict) -> "InspectConfig":
        doc = load_template_doc(doc)  # unwrap tool-skeleton envelopes
        cfg = doc.get("inspectConfig", doc)
        dets = [infotypes.resolve(i["name"]) for i in cfg.get("infoTypes", [])]
        for ci in cfg.get("customInfoTypes", []):
            name = ci["infoType"]["name"]
            lk = ci.get("likelihood", "LIKELY")
            if "regex" in ci:
                dets.append(infotypes.custom_regex(name, ci["regex"]["pattern"], lk))
            elif "dictionary" in ci:
                words = ci["dictionary"]["wordList"]["words"]
                dets.append(infotypes.dictionary(name, words, lk))
            else:
                raise ValueError(f"unsupported customInfoType: {list(ci)}")
        limits = cfg.get("limits") or {}
        return cls(
            detectors=dets,
            min_likelihood=cfg.get("minLikelihood"),
            include_quote=cfg.get("includeQuote", True),
            max_findings_per_item=limits.get("maxFindingsPerItem"),
            rule_sets=[_parse_rule_set(rs) for rs in cfg.get("ruleSet", [])],
        )


def derive_siv_key(crypto_key: str) -> bytes:
    """32-byte AES-SIV key deterministically derived from the template's
    crypto key string (the reference unwraps a KMS-wrapped key instead —
    out of scope in-process)."""
    return hashlib.sha256(crypto_key.encode()).digest()


def _require_key(crypto_key: "str | None", which: str) -> str:
    """No hardcoded key fallback: a template that tokenizes/hashes MUST be
    given an explicit key, or every deployment would share one public key
    and tokens would be trivially re-identifiable."""
    if not crypto_key:
        raise ValueError(
            f"template uses {which} — pass an explicit crypto_key "
            "(there is deliberately no default key)"
        )
    return crypto_key


def _resolve_key(cfg: "dict | None", crypto_key: "str | None", which: str) -> str:
    """Template CryptoKey oneof (the public proto: transient | unwrapped |
    kmsWrapped) → key-material string for this engine's string-keyed
    derivation pipeline (derive_siv_key / HMAC / FF1 all derive working
    keys from a string).

    Precedence: an explicit ``crypto_key`` argument ALWAYS wins — it is the
    in-process substitute for KMS unwrap and the historical API.
    ``unwrapped.key`` (base64 in the JSON wire shape) is used as key-material
    text verbatim; ``transient.name`` derives deterministically from the
    name (the service mints a RANDOM per-request key for transient — the
    deterministic derivation is this engine's replay-stable stance, same as
    date_shift/replace_dictionary); ``kmsWrapped`` cannot be unwrapped
    in-process and raises with the remedy."""
    if crypto_key:
        return crypto_key
    ck = (cfg or {}).get("cryptoKey") or {}
    if "unwrapped" in ck:
        key = ck["unwrapped"].get("key")
        if not key:
            raise ValueError(f"{which}: unwrapped cryptoKey with an empty key")
        return key
    if "transient" in ck:
        name = ck["transient"].get("name")
        if not name:
            raise ValueError(f"{which}: transient cryptoKey needs a name")
        return "transient:" + name
    if "kmsWrapped" in ck:
        raise NotImplementedError(
            f"{which} declares a kmsWrapped cryptoKey — KMS unwrap is not "
            "available in-process; unwrap the key externally and pass it "
            "as the explicit crypto_key argument"
        )
    return _require_key(None, which)


def _primitive(
    prim: dict,
    crypto_key: "str | None",
    hash_mode: str = "hmac",
    date_shift_basis: str = "xxhash64",
) -> Callable[[Column], Column]:
    if "cryptoHashConfig" in prim:
        crypto_key = _resolve_key(prim["cryptoHashConfig"], crypto_key, "cryptoHashConfig")
        # "hmac" (default): strict native HMAC-SHA-256 — the reference
        # template's actual construction (deid-template.json:17-27),
        # bit-identical to real DLP tokens (crypto.crypto_hash_hmac, two
        # chained JVM sha2 calls). "sha256": keyed-prefix sha256(key||value)
        # — one digest, and the only form the DuckDB oracle can express.
        if hash_mode == "hmac":
            key = crypto_key
            return lambda c: crypto.crypto_hash_hmac(c, key)
        return lambda c: transforms.crypto_hash(c, crypto_key)
    if "cryptoDeterministicConfig" in prim:
        crypto_key = _resolve_key(
            prim["cryptoDeterministicConfig"], crypto_key, "cryptoDeterministicConfig"
        )
        sur = prim["cryptoDeterministicConfig"].get("surrogateInfoType", {}).get("name")
        key = derive_siv_key(crypto_key)
        return lambda c: crypto.siv_tokenize(c, key, sur)
    if "cryptoReplaceFfxFpeConfig" in prim:
        cfg = prim["cryptoReplaceFfxFpeConfig"]
        crypto_key = _resolve_key(cfg, crypto_key, "cryptoReplaceFfxFpeConfig")
        alpha = _ffx_alphabet(cfg)
        sur = (cfg.get("surrogateInfoType") or {}).get("name")
        ctx = (cfg.get("context") or {}).get("name")
        key = fpe.derive_fpe_key(crypto_key)
        # format-preserving tokenization (NIST FF1): token has the SAME
        # length/alphabet as the input; context = per-row tweak
        return lambda c: fpe.ff1_tokenize(
            c,
            key,
            alpha,
            context=F.col(ctx) if ctx else None,
            surrogate_info_type=sur,
        )
    if "characterMaskConfig" in prim:
        cm = prim["characterMaskConfig"]
        skip = "".join(
            _ignore_chars(ci) for ci in cm.get("charactersToIgnore", [])
        )
        return lambda c: transforms.character_mask(
            c,
            cm.get("maskingCharacter", "*"),
            cm.get("numberToMask", 0),
            cm.get("reverseOrder", False),
            skip,
        )
    if "bucketingConfig" in prim:
        bks, numeric = _parse_buckets(prim["bucketingConfig"]["buckets"])
        return lambda c: transforms.bucketing(c, bks, numeric)
    if "fixedSizeBucketingConfig" in prim:
        fb = prim["fixedSizeBucketingConfig"]
        return lambda c: transforms.fixed_size_bucketing(
            c,
            _num(fb["lowerBound"]),
            _num(fb["upperBound"]),
            float(fb["bucketSize"]),
        )
    if "timePartConfig" in prim:
        part = prim["timePartConfig"].get("partToExtract", "YEAR")
        return lambda c: transforms.time_part(c, part)
    if "dateShiftConfig" in prim:
        ds = prim["dateShiftConfig"]
        crypto_key = _resolve_key(ds, crypto_key, "dateShiftConfig")
        upper = int(ds.get("upperBoundDays", 100))
        # DLP requires both bounds; honor lowerBoundDays (e.g. 0 = valid
        # forward-only shift) instead of silently assuming -upper
        lower = int(ds.get("lowerBoundDays", -upper))
        ctx = (ds.get("context") or {}).get("name")
        # deterministic per-context shift; without a context field the value
        # itself keys the shift (DLP shifts randomly per value in that case)
        return lambda c: transforms.date_shift(
            c,
            F.col(ctx) if ctx else c,
            crypto_key,
            max_days=upper,
            min_days=lower,
            hash_basis=date_shift_basis,
        )
    if "replaceConfig" in prim:
        nv = prim["replaceConfig"]["newValue"]["stringValue"]
        return lambda c: F.lit(nv)
    if "replaceDictionaryConfig" in prim:
        words = prim["replaceDictionaryConfig"]["wordList"]["words"]
        # no _require_key: DLP's dictionary replacement is unkeyed (it picks
        # a word at random); our deterministic pick accepts an optional key
        # so distinct deployments map values to different words
        dict_key = crypto_key or ""
        return lambda c: transforms.replace_dictionary(
            c, list(words), key=dict_key, hash_basis=date_shift_basis
        )
    if "redactConfig" in prim:
        return lambda c: F.lit(None).cast("string")
    raise ValueError(f"unsupported primitiveTransformation: {list(prim)}")


# FFX radix → alphabet prefix (digits, then lowercase, then uppercase — 62
# chars; DLP's radix oneof spans [2, 95], but the base-95 ordering beyond 62
# is not publicly pinned, so radix > 62 here requires an explicit
# customAlphabet instead of a guessed symbol ordering)
_FFX_RADIX_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)


def _ffx_alphabet(cfg: dict) -> str:
    """cryptoReplaceFfxFpeConfig's alphabet oneof: commonAlphabet enum |
    customAlphabet string | radix int."""
    if "commonAlphabet" in cfg:
        name = cfg["commonAlphabet"]
        if name not in fpe.COMMON_ALPHABETS:
            raise ValueError(
                f"unknown commonAlphabet {name!r}; one of "
                f"{sorted(fpe.COMMON_ALPHABETS)}"
            )
        return name
    if "customAlphabet" in cfg:
        return cfg["customAlphabet"]
    if "radix" in cfg:
        r = int(cfg["radix"])
        if not 2 <= r <= len(_FFX_RADIX_CHARS):
            raise ValueError(
                f"radix must be in [2, {len(_FFX_RADIX_CHARS)}] (use "
                f"customAlphabet beyond that), got {r}"
            )
        return _FFX_RADIX_CHARS[:r]
    raise ValueError(
        "cryptoReplaceFfxFpeConfig needs commonAlphabet, customAlphabet, "
        "or radix"
    )


# DLP CharsToIgnore.CommonCharsToIgnore enum → concrete character sets
_COMMON_IGNORE = {
    "NUMERIC": "0123456789",
    "ALPHA_UPPER_CASE": "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
    "ALPHA_LOWER_CASE": "abcdefghijklmnopqrstuvwxyz",
    "PUNCTUATION": r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~""",
    "WHITESPACE": " \t\n\r\x0b\x0c",
}


def _ignore_chars(ci: dict) -> str:
    """One charactersToIgnore entry → its character set: either the literal
    charactersToSkip string or the commonCharactersToIgnore enum (the oneof
    the proto defines — previously the enum arm was silently dropped and
    e.g. PUNCTUATION-preserving SSN masks destroyed their dashes)."""
    if "charactersToSkip" in ci:
        return ci["charactersToSkip"]
    if "commonCharactersToIgnore" in ci:
        name = ci["commonCharactersToIgnore"]
        try:
            return _COMMON_IGNORE[name]
        except KeyError:
            raise ValueError(
                f"unknown commonCharactersToIgnore {name!r}; one of "
                f"{sorted(_COMMON_IGNORE)}"
            ) from None
    return ""


def _num(value: dict) -> float:
    for k in ("integerValue", "floatValue"):
        if k in value:
            return float(value[k])
    raise ValueError(f"non-numeric bound: {value}")


def _val(value: "dict | None"):
    if value is None:
        return None
    if "stringValue" in value:
        return value["stringValue"]
    return _num(value)


def _parse_buckets(buckets: list[dict]) -> tuple[list[tuple], bool]:
    """DLP BucketingConfig buckets; min/max are each OPTIONAL (an omitted
    bound makes the first/last bucket open-ended, per the proto)."""
    out, numeric = [], True
    for b in buckets:
        lo, hi = _val(b.get("min")), _val(b.get("max"))
        if lo is None and hi is None:
            raise ValueError("bucket must declare at least one of min/max")
        repl = b["replacementValue"]["stringValue"]
        if isinstance(lo, str) or isinstance(hi, str):
            numeric = False
        out.append((lo, hi, repl))
    return out, numeric
