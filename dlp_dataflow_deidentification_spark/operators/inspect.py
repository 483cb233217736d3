"""INSPECT operator: find PII, emit a findings table.

Re-implements the reference's inspect path
(/root/reference/src/main/java/com/google/swarm/tokenization/beam/DLPInspectText.java:284-338
and response conversion common/DLPTransform.java:266-345) with the findings
schema mirroring common/Util.java:162-173:

  source_ref, field_id, quote, info_type_name, likelihood
  [, location_start, location_end]   (codepoint offsets)

Two paths:
  * ``inspect``        — JVM-native: explode(regexp_extract_all) per detector,
                          no offsets. Whole-stage codegen; this is the scale
                          path and the one with a full SQL oracle.
  * ``inspect_offsets``— Arrow-batched pandas UDF returning byte-range
                          offsets (Util.java:170-171 location_start/end),
                          for strict findings-schema parity.
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
    quote-expressible rules (regex / dictionary) can appear here — proximity
    and overlap rules need offsets and are routed to ``inspect_offsets``."""
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


def _validate_native_rules(rule_sets):
    """The native path supports quote-only exclusions; anything needing
    offsets (hotword adjustment, overlap exclusion, excludeByHotword) must
    go through inspect_offsets."""
    for rs in rule_sets or []:
        if rs.hotwords:
            raise ValueError(
                "hotword rules need finding offsets — use inspect_offsets "
                "for ruleSet entries with hotwordRule"
            )
        for ex in rs.exclusions:
            if ex.exclude_info_types is not None or ex.hotword is not None:
                raise ValueError(
                    "excludeInfoTypes/excludeByHotword need finding offsets "
                    "— use inspect_offsets for these ruleSet entries"
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
    """Native findings table: one row per (input row, column, detector, match).

    Columns: *id_columns, field_id, info_type_name, likelihood, quote.
    Pure regexp_extract_all + explode → no Python, no shuffle.

    ``rule_sets`` (plans.config.InspectionRuleSet list) applies QUOTE-scoped
    exclusion rules natively — regex and dictionary rules become a
    filter() over each match array BEFORE the findings cap, so exclusions
    never consume cap slots (the service rule). Rules that need offsets
    (hotwordRule, excludeInfoTypes, excludeByHotword) raise here — route
    those configs through ``inspect_offsets``.

    InspectConfig fidelity (inspect-template.json:8-32,
    beam/DLPInspectText.java:269-270,306-309): ``min_likelihood`` drops
    detectors below the floor, ``include_quote=False`` nulls the quote (the
    match text is never shipped to the sink), ``max_findings_per_item``
    caps findings per input row (DLP limits.maxFindingsPerItem analogue).

    The cap keeps the first N findings in DLP's document-position order,
    total order (column_idx, start_offset, detector_idx); match offsets are
    derived natively from cumulative segment/match lengths of
    ``split``/``regexp_extract_all`` — still one source scan, zero Python,
    no shuffle.
    """
    _validate_native_rules(rule_sets)
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

    if max_findings_per_item is not None:
        return _inspect_position_capped(
            df, dets, text_columns, id_columns, include_quote,
            max_findings_per_item, keeps
        )

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
                # exclusion rules drop matches BEFORE tagging and the cap
                matches = F.filter(matches, keeps[it.name])
            per_pair.append(F.transform(matches, _tag(col, it)))
    findings = F.flatten(F.array(*per_pair))
    return df.select(
        *[F.col(c) for c in id_columns], F.explode(findings).alias("f")
    ).select(*id_columns, "f.*")


def _inspect_position_capped(
    df: DataFrame,
    dets: list,
    text_columns: Sequence[str],
    id_columns: Sequence[str],
    include_quote: bool,
    cap: int,
    keeps: "dict | None" = None,
) -> DataFrame:
    """Position-ordered ``max_findings_per_item``: per row, every (column,
    detector) pair's matches are tagged with their codepoint start offset
    (cumulative lengths of the split segments + preceding matches — the
    same derivation the DuckDB oracle and ``inspect_offsets`` use), the
    combined array is ``array_sort``-ed on (column_idx, offset,
    detector_idx) and sliced to the cap.

    FAST PATH: a row whose TOTAL finding count is <= cap emits every finding
    untruncated — its survivor set is order-independent, so no offsets are
    needed at all. Only over-cap rows (the minority in real corpora) take
    the conditional branch that re-splits the text for segment lengths; the
    CASE WHEN evaluates branches lazily per row, so the splits/folds are
    never executed for in-cap rows.

    Plan-shape note (measured HOF-capture trap, operators/dedup.py): the
    match arrays are materialized as their own projection (and multi-
    referenced, so CollapseProject keeps them un-inlined); every reference
    in the tagging stage is a WHOLE-ARRAY input to one higher-order
    function — never captured inside a per-element lambda — so regexp/split
    subtrees are evaluated at most once per row. The per-element work
    touches only the accumulator and the zipped element."""
    keeps = keeps or {}
    # quote-scoped exclusion rules: offsets derive from segment/match
    # alignment of the UNfiltered match arrays, so exclusions apply after
    # tagging (on a raw-match field the strip stage drops) — but before the
    # cap, so excluded findings never consume cap slots
    has_rules = any(keeps.get(it.name) is not None for it in dets)
    proj = [F.col(c) for c in id_columns]
    for ci, col in enumerate(text_columns):
        txt = F.coalesce(F.col(col), F.lit(""))
        # keep the coalesced text for the lazy split branch
        proj.append(txt.alias(f"__t_{ci}"))
        for di, it in enumerate(dets):
            proj.append(
                F.regexp_extract_all(txt, F.lit(it.pattern), F.lit(0)).alias(
                    f"__m_{ci}_{di}"
                )
            )
    stage1 = df.select(*proj)

    def _tagged(ci: int, col: str, di: int, it) -> "F.Column":
        m = F.col(f"__m_{ci}_{di}")
        # split lives INSIDE the over-cap branch: whole-array input to one
        # zip_with → evaluated once per row, and only for rows that need it
        s = F.split(F.col(f"__t_{ci}"), it.pattern, -1)
        # (len(segment-before-match), len(match)) pairs; n segments for n
        # matches — ints only, the strings are not carried into the fold
        lens = F.zip_with(
            F.slice(s, 1, F.size(m)),
            m,
            lambda seg, q: F.struct(
                F.length(seg).alias("sl"), F.length(q).alias("ql")
            ),
        )
        # one left-to-right fold per row, accumulating ONLY the int start
        # offsets (start_i = running_total + len(seg_i)). The growing-array
        # concat is inherently O(m²) in element copies, but on a primitive
        # int array that is a cheap memcpy of 4-byte slots — the previous
        # form carried the full tagged STRUCTS (five strings each) through
        # every step, re-copying all quotes/names O(m²) times.
        starts = F.aggregate(
            lens,
            F.struct(
                F.lit(0).alias("cur"), F.array().cast("array<int>").alias("arr")
            ),
            lambda acc, x: F.struct(
                (acc["cur"] + x["sl"] + x["ql"]).alias("cur"),
                F.concat(acc["arr"], F.array(acc["cur"] + x["sl"])).alias("arr"),
            ),
            lambda acc: acc["arr"],
        )
        # one LINEAR pass attaches the heavy struct per match at its offset
        tagged = F.zip_with(
            starts,
            m,
            lambda p, q: F.struct(
                F.lit(ci).alias("_col"),
                p.alias("_pos"),
                F.lit(di).alias("_det"),
                F.lit(col).alias("field_id"),
                F.lit(it.name).alias("info_type_name"),
                F.lit(it.likelihood).alias("likelihood"),
                (q if include_quote else F.lit(None).cast("string")).alias("quote"),
                # trailing field → never reached by the (_col,_pos,_det)
                # sort comparator; only materialized when rules exist
                *([q.alias("_raw")] if has_rules else []),
            ),
        )
        kp = keeps.get(it.name)
        if kp is not None:
            tagged = F.filter(tagged, lambda f: kp(f["_raw"]))
        return tagged

    def _plain(ci: int, col: str, di: int, it) -> "F.Column":
        # untruncated tag (fast path): no positions, just the output fields
        m = _kept(ci, di, it)
        return F.transform(
            m,
            lambda q: F.struct(
                F.lit(col).alias("field_id"),
                F.lit(it.name).alias("info_type_name"),
                F.lit(it.likelihood).alias("likelihood"),
                (q if include_quote else F.lit(None).cast("string")).alias("quote"),
            ),
        )

    def _kept(ci: int, di: int, it) -> "F.Column":
        m = F.col(f"__m_{ci}_{di}")
        kp = keeps.get(it.name)
        return F.filter(m, kp) if kp is not None else m

    pairs = [
        (ci, col, di, it)
        for ci, col in enumerate(text_columns)
        for di, it in enumerate(dets)
    ]
    total = None
    for ci, _col, di, it in pairs:
        # post-exclusion count decides the fast path — excluded findings
        # must not push a row onto the offset branch or eat cap slots
        sz = F.size(_kept(ci, di, it))
        total = sz if total is None else total + sz

    # default struct comparator = lexicographic on fields in order:
    # (_col, _pos, _det) is a total order (a detector cannot match twice at
    # one offset), so the string fields never tie-break
    sorted_slice = F.slice(
        F.array_sort(F.flatten(F.array(*[_tagged(*p) for p in pairs]))), 1, cap
    )
    stripped = F.transform(
        sorted_slice,
        lambda f: F.struct(
            f["field_id"].alias("field_id"),
            f["info_type_name"].alias("info_type_name"),
            f["likelihood"].alias("likelihood"),
            f["quote"].alias("quote"),
        ),
    )
    simple = F.flatten(F.array(*[_plain(*p) for p in pairs]))
    final = F.when(total <= F.lit(cap), simple).otherwise(stripped)
    return stage1.select(
        *[F.col(c) for c in id_columns], F.explode(final).alias("f")
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
    limits.maxFindingsPerItem), in the same document-position order as
    ``inspect``: (column_idx, start_offset, detector_idx).

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
