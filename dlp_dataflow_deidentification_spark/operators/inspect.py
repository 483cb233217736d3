"""INSPECT operator: find PII, emit a findings table.

Re-implements the reference's inspect path
(/root/reference/src/main/java/com/google/swarm/tokenization/beam/DLPInspectText.java:284-338
and response conversion common/DLPTransform.java:266-345) with the findings
schema mirroring common/Util.java:162-173:

  source_ref, field_id, quote, info_type_name, likelihood
  [, location_start, location_end]   (codepoint offsets)

Two paths; ``inspect`` picks one per call:
  * JVM-native      — explode(regexp_extract_all) per detector, no offsets.
                      Whole-stage codegen, zero Python. Serves uncapped
                      calls whose ruleSet, if any, holds only quote-scoped
                      exclusions (regex / dictionary).
  * ``inspect_offsets`` — Arrow-batched pandas UDF returning codepoint
                      offsets (Util.java:170-171 location_start/end), the
                      maxFindingsPerItem cap in document-position order and
                      the full ruleSet. ``inspect`` serves capped calls and
                      offset-dependent rule sets (``_needs_offsets``) from
                      it, minus the location columns.
"""
from __future__ import annotations

import re
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.infotypes import InfoType, resolve

# Cloud DLP likelihood scale (google.privacy.dlp.v2.Likelihood); the
# reference forwards minLikelihood from the inspect template
# (beam/DLPInspectText.java:269-270, inspect-template.json:8-12).
LIKELIHOODS = (
    "LIKELIHOOD_UNSPECIFIED",
    "VERY_UNLIKELY",
    "UNLIKELY",
    "POSSIBLE",
    "LIKELY",
    "VERY_LIKELY",
)


def _likelihood_rank(name: str) -> int:
    try:
        return LIKELIHOODS.index(name)
    except ValueError:
        raise ValueError(f"unknown likelihood {name!r}; one of {LIKELIHOODS}") from None


def _filter_min_likelihood(dets: list, min_likelihood: "str | None") -> list:
    """Detector likelihood is a per-detector constant in this engine, so the
    service-side minLikelihood finding filter is equivalent to pruning the
    detector list at plan time (zero runtime cost)."""
    if not min_likelihood:
        return dets
    floor = _likelihood_rank(min_likelihood)
    return [d for d in dets if _likelihood_rank(d.likelihood) >= floor]


# -- InspectConfig.ruleSet (hotword likelihood adjustment + exclusion
#    rules; public google.privacy.dlp.v2.InspectionRuleSet surface) --------
#
# Rule order, pinned identically in the engine, the pure-Python test
# oracle, and the DuckDB driver oracle (the public docs do not fully pin
# it): (1) hotword adjustments, every rule set in declaration order;
# (2) exclusion rules; (3) minLikelihood, applied AFTER adjustments when
# any hotword rule exists (an adjustment can lift a finding over the
# floor, so plan-time detector pruning would be wrong then).

_CLAMP_LO, _CLAMP_HI = 1, len(LIKELIHOODS) - 1  # VERY_UNLIKELY..VERY_LIKELY


def _compile_rule_sets(rule_sets):
    """plans.config.InspectionRuleSet list → picklable compiled form:
    (scope_frozenset_or_None,
     [(hot_rx, wb, wa, fixed_rank|None, rel|None)],
     [(kind, matching_type, payload)])."""
    out = []
    for rs in rule_sets or []:
        scope = frozenset(rs.info_types) or None
        hots = []
        for h in rs.hotwords:
            fixed = _likelihood_rank(h.fixed_likelihood) if h.fixed_likelihood else None
            hots.append(
                (re.compile(h.pattern), h.window_before, h.window_after, fixed,
                 h.relative_likelihood)
            )
        excls = []
        for ex in rs.exclusions:
            mt = ex.matching_type
            if ex.pattern is not None:
                excls.append(("regex", mt, re.compile(ex.pattern)))
            elif ex.words is not None:
                # DLP dictionary matching is case-insensitive
                excls.append(("dict", mt, frozenset(w.lower() for w in ex.words)))
            elif ex.exclude_info_types is not None:
                excls.append(("types", mt, frozenset(ex.exclude_info_types)))
            else:
                h = ex.hotword
                excls.append(
                    ("hotword", mt,
                     (re.compile(h.pattern), h.window_before, h.window_after))
                )
        out.append((scope, hots, excls))
    return out


def _apply_rules_cell(cell: list, text: str, compiled) -> list:
    """Apply compiled rule sets to one cell's findings. ``cell`` is a list
    of dicts {di, name, rank, q, s, e} (q = the REAL match text, independent
    of include_quote); mutated ranks, returns the surviving findings.

    matchingType mapping (documented here because the proto leaves the
    overlap/hotword cases loose): regex FULL = fullmatch(quote), PARTIAL =
    search(quote), INVERSE = not fullmatch; dictionary likewise on the
    lowercased quote (PARTIAL = any word is a substring); excludeInfoTypes
    FULL = finding interval fully inside a listed-type finding, PARTIAL =
    any overlap, INVERSE = no overlap; excludeByHotword FULL = the window
    fullmatches the hotword, PARTIAL = search hit, INVERSE = no search hit.
    """
    for scope, hots, _ in compiled:
        for rx, wb, wa, fixed, rel in hots:
            for f in cell:
                if scope is not None and f["name"] not in scope:
                    continue
                win = text[max(0, f["s"] - wb): f["e"] + wa]
                if rx.search(win):
                    if fixed is not None:
                        f["rank"] = fixed
                    elif rel is not None:
                        f["rank"] = max(_CLAMP_LO, min(f["rank"] + rel, _CLAMP_HI))
                    # both None is rejected at parse; guard keeps hand-built
                    # InspectionRuleSet objects from crashing the executor

    def _excluded(f):
        for scope, _, excls in compiled:
            if scope is not None and f["name"] not in scope:
                continue
            for kind, mt, payload in excls:
                if kind == "regex":
                    if mt == "MATCHING_TYPE_PARTIAL_MATCH":
                        hit = bool(payload.search(f["q"]))
                    elif mt == "MATCHING_TYPE_INVERSE_MATCH":
                        hit = not payload.fullmatch(f["q"])
                    else:
                        hit = bool(payload.fullmatch(f["q"]))
                elif kind == "dict":
                    ql = f["q"].lower()
                    if mt == "MATCHING_TYPE_PARTIAL_MATCH":
                        hit = any(w in ql for w in payload)
                    elif mt == "MATCHING_TYPE_INVERSE_MATCH":
                        hit = ql not in payload
                    else:
                        hit = ql in payload
                elif kind == "types":
                    spans = [
                        (g["s"], g["e"]) for g in cell
                        if g is not f and g["name"] in payload
                    ]
                    overlap = any(s < f["e"] and f["s"] < e for s, e in spans)
                    if mt == "MATCHING_TYPE_PARTIAL_MATCH":
                        hit = overlap
                    elif mt == "MATCHING_TYPE_INVERSE_MATCH":
                        hit = not overlap
                    else:
                        hit = any(s <= f["s"] and f["e"] <= e for s, e in spans)
                else:  # excludeByHotword
                    rx, wb, wa = payload
                    win = text[max(0, f["s"] - wb): f["e"] + wa]
                    if mt == "MATCHING_TYPE_PARTIAL_MATCH":
                        hit = bool(rx.search(win))
                    elif mt == "MATCHING_TYPE_INVERSE_MATCH":
                        hit = not rx.search(win)
                    else:
                        hit = bool(rx.fullmatch(win))
                if hit:
                    return True
        return False

    return [f for f in cell if not _excluded(f)]


def _native_quote_keep(compiled, det_name):
    """For the JVM-native path: AND-of-negated-exclusions predicate over the
    raw match string, or None when no rule applies to ``det_name``. Only
    quote-expressible rules (regex / dictionary) reach here: ``inspect``
    sends rule sets for which ``_needs_offsets`` holds to the scanner."""
    makers = []
    for scope, _hots, excls in compiled:
        if scope is not None and det_name not in scope:
            continue
        for kind, mt, payload in excls:
            if kind == "regex":
                pat = payload.pattern
                if mt == "MATCHING_TYPE_PARTIAL_MATCH":
                    makers.append(lambda q, p=pat: q.rlike(p))
                elif mt == "MATCHING_TYPE_INVERSE_MATCH":
                    makers.append(lambda q, p=pat: ~q.rlike(f"^(?:{p})$"))
                else:
                    makers.append(lambda q, p=pat: q.rlike(f"^(?:{p})$"))
            elif kind == "dict":
                words = sorted(payload)
                if mt == "MATCHING_TYPE_PARTIAL_MATCH":
                    makers.append(
                        lambda q, ws=words: F.lower(q).rlike(
                            "|".join(re.escape(w) for w in ws)
                        )
                    )
                elif mt == "MATCHING_TYPE_INVERSE_MATCH":
                    makers.append(lambda q, ws=words: ~F.lower(q).isin(ws))
                else:
                    makers.append(lambda q, ws=words: F.lower(q).isin(ws))
    if not makers:
        return None

    def keep(q):
        hit = None
        for mk in makers:
            h = mk(q)
            hit = h if hit is None else (hit | h)
        return ~hit

    return keep


def _needs_offsets(rule_sets) -> bool:
    """True when a rule set needs finding offsets or the whole cell — a
    hotwordRule, an excludeInfoTypes or an excludeByHotword exclusion —
    which only ``inspect_offsets`` has in hand."""
    return any(
        rs.hotwords
        or any(ex.exclude_info_types is not None or ex.hotword is not None for ex in rs.exclusions)
        for rs in rule_sets or []
    )


def inspect(
    df: DataFrame,
    detectors: Iterable["str | InfoType"],
    text_columns: Sequence[str],
    id_columns: Sequence[str] = (),
    min_likelihood: "str | None" = None,
    include_quote: bool = True,
    max_findings_per_item: "int | None" = None,
    rule_sets=None,
) -> DataFrame:
    """Findings table: one row per (input row, column, detector, match).

    Columns: *id_columns, field_id, info_type_name, likelihood, quote.

    InspectConfig fidelity (inspect-template.json:8-32,
    beam/DLPInspectText.java:269-270,306-309): ``min_likelihood`` drops
    detectors below the floor, ``include_quote=False`` nulls the quote (the
    match text is never shipped to the sink), ``max_findings_per_item``
    caps findings per input row (DLP limits.maxFindingsPerItem analogue),
    keeping the first N in document-position order (column_idx,
    start_offset, detector_idx).

    Uncapped calls whose ``rule_sets`` (plans.config.InspectionRuleSet
    list), if any, hold only QUOTE-scoped exclusions run JVM-native:
    regexp_extract_all + explode, no Python, no shuffle; regex and
    dictionary rules become a filter() over each match array. Capped calls and rule sets that need
    offsets (``_needs_offsets``: hotwordRule, excludeInfoTypes,
    excludeByHotword) run on the ``inspect_offsets`` scanner, whose
    location columns are dropped here. On both paths exclusions apply
    before the cap, so excluded findings never consume cap slots.
    """
    if max_findings_per_item is not None or _needs_offsets(rule_sets):
        return inspect_offsets(
            df, detectors, text_columns, id_columns, min_likelihood,
            include_quote, max_findings_per_item, rule_sets,
        ).drop("location_start", "location_end")
    compiled_rules = _compile_rule_sets(rule_sets)
    dets = _filter_min_likelihood([resolve(d) for d in detectors], min_likelihood)
    keeps = {it.name: _native_quote_keep(compiled_rules, it.name) for it in dets}

    # single-pass plan: per row, one array of finding-structs covering every
    # (column, detector) pair, then one explode — the source is scanned ONCE
    # (the naive per-detector union would re-scan it len(dets)·len(cols) times)
    def _tag(col: str, it: InfoType):
        # single-arg lambda (PySpark HOFs dispatch on arity)
        return lambda q: F.struct(
            F.lit(col).alias("field_id"),
            F.lit(it.name).alias("info_type_name"),
            F.lit(it.likelihood).alias("likelihood"),
            (q if include_quote else F.lit(None).cast("string")).alias("quote"),
        )

    if not dets or not text_columns:
        # everything filtered out (or nothing to scan) → empty findings,
        # stable schema. where(False), not limit(0): limit is unsupported
        # on streaming DataFrames and would crash streaming inspect jobs
        return df.select(
            *[F.col(c) for c in id_columns],
            F.lit(None).cast("string").alias("field_id"),
            F.lit(None).cast("string").alias("info_type_name"),
            F.lit(None).cast("string").alias("likelihood"),
            F.lit(None).cast("string").alias("quote"),
        ).where(F.lit(False))

    per_pair = []
    for col in text_columns:
        for it in dets:
            matches = F.regexp_extract_all(
                # coalesce: a NULL cell contributes an empty array —
                # without it flatten() would NULL the whole row's
                # findings, dropping matches from non-null columns
                F.coalesce(F.col(col), F.lit("")), F.lit(it.pattern), F.lit(0)
            )
            if keeps[it.name] is not None:
                # exclusion rules drop matches before tagging
                matches = F.filter(matches, keeps[it.name])
            per_pair.append(F.transform(matches, _tag(col, it)))
    findings = F.flatten(F.array(*per_pair))
    return df.select(
        *[F.col(c) for c in id_columns], F.explode(findings).alias("f")
    ).select(*id_columns, "f.*")


_FINDING = StructType(
    [
        StructField("field_id", StringType()),
        StructField("info_type_name", StringType()),
        StructField("likelihood", StringType()),
        StructField("quote", StringType()),
        StructField("location_start", IntegerType()),
        StructField("location_end", IntegerType()),
    ]
)


def inspect_offsets(
    df: DataFrame,
    detectors: Iterable["str | InfoType"],
    text_columns: Sequence[str],
    id_columns: Sequence[str] = (),
    min_likelihood: "str | None" = None,
    include_quote: bool = True,
    max_findings_per_item: "int | None" = None,
    rule_sets=None,
) -> DataFrame:
    """Findings with codepoint offsets (dlpInspectionSchema parity,
    Util.java:162-173). Arrow-batched pandas UDF: regex scanning is C-backed
    (`re`), one UDF call per Arrow batch, then a JVM-side explode. One array
    per input row covering ALL text columns (single source scan; the
    ``max_findings_per_item`` cap therefore applies per row, like DLP's
    limits.maxFindingsPerItem), in document-position order: (column_idx,
    start_offset, detector_idx). ``inspect`` serves every capped call from
    here.

    ``rule_sets`` is the FULL InspectionRuleSet surface (this is the path
    that has offsets and the whole cell in hand, so every rule kind works):
    hotword likelihood adjustment (proximity window includes the finding,
    per the proto), regex/dictionary exclusions, excludeInfoTypes overlap
    exclusion, excludeByHotword. Rules run per cell inside the scan —
    zero extra shuffles or joins. When any hotword rule exists,
    ``min_likelihood`` filters AFTER adjustment (an adjustment can lift a
    finding over the floor), so detector pruning moves from plan time into
    the scan for exactly that case."""
    compiled = _compile_rule_sets(rule_sets)
    any_hotwords = any(hots for _, hots, _ in compiled)
    if any_hotwords:
        resolved = [resolve(d) for d in detectors]
        min_rank = _likelihood_rank(min_likelihood) if min_likelihood else None
    else:
        resolved = _filter_min_likelihood(
            [resolve(d) for d in detectors], min_likelihood
        )
        min_rank = None
    dets = [
        (it.name, _likelihood_rank(it.likelihood), re.compile(it.pattern))
        for it in resolved
    ]
    cap = max_findings_per_item

    @F.pandas_udf(ArrayType(_FINDING))
    def _scan(*cols: pd.Series) -> pd.Series:
        def one(texts):
            out = []
            for ci, (fid, text) in enumerate(zip(text_columns, texts)):
                if text is None:
                    continue
                cell = [
                    {"di": di, "name": name, "rank": rank, "q": m.group(0),
                     "s": m.start(), "e": m.end()}
                    for di, (name, rank, rx) in enumerate(dets)
                    for m in rx.finditer(text)
                ]
                if compiled:
                    cell = _apply_rules_cell(cell, text, compiled)
                if min_rank is not None:
                    cell = [f for f in cell if f["rank"] >= min_rank]
                out.extend(
                    (
                        (ci, f["s"], f["di"]),
                        (fid, f["name"], LIKELIHOODS[f["rank"]],
                         f["q"] if include_quote else None, f["s"], f["e"]),
                    )
                    for f in cell
                )
            if cap is not None:
                out.sort(key=lambda e: e[0])
                out = out[:cap]
            return [e[1] for e in out]

        return pd.Series([one(texts) for texts in zip(*cols)])

    if not dets or not text_columns:
        # where(False), not limit(0): streaming-safe empty frame (see inspect)
        return df.select(
            *[F.col(c) for c in id_columns],
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in _FINDING.fields],
        ).where(F.lit(False))
    return df.select(
        *[F.col(c) for c in id_columns],
        F.explode(_scan(*[F.col(c) for c in text_columns])).alias("f"),
    ).select(*id_columns, "f.*")


def inspection_report(findings: DataFrame, job_name: str, source_col: str) -> DataFrame:
    """Shape findings into the reference's BigQuery inspection schema
    (job_name, source_file, transaction_time, quote, info_type_name,
    likelihood, ... — Util.java:162-173)."""
    return findings.select(
        F.lit(job_name).alias("job_name"),
        F.col(source_col).cast("string").alias("source_file"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss").alias("transaction_time"),
        "quote",
        "info_type_name",
        "likelihood",
        *(
            [F.col("location_start").cast("long").alias("location_start_byte_range"),
             F.col("location_end").cast("long").alias("location_end_byte_range")]
            if "location_start" in findings.columns
            else []
        ),
        F.col("field_id").alias("record_loc_field_id"),
    )
