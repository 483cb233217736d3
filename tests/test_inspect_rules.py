"""InspectConfig.ruleSet: hotword likelihood adjustment + exclusion rules.

Public google.privacy.dlp.v2.InspectionRuleSet surface (the reference
forwards the whole InspectConfig to the service — beam/DLPInspectText.java
builds the request from the template — so rule sets ride along; this engine
evaluates them natively/in-scan). Rule-order and matchingType mappings are
documented at operators/inspect.py::_apply_rules_cell and pinned here
against a pure-Python oracle plus cross-path (native vs pandas) equality.
"""
import pytest
from pyspark.sql import functions as F

import dlp_dataflow_deidentification_spark as dds
from dlp_dataflow_deidentification_spark.operators import inspect as ins
from dlp_dataflow_deidentification_spark.plans.config import (
    ExclusionRule,
    HotwordRule,
    InspectConfig,
    InspectionRuleSet,
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "id int, t string"
    )


def test_inspect_config_parses_rule_set():
    cfg = InspectConfig.from_dict(
        {
            "inspectConfig": {
                "infoTypes": [{"name": "EMAIL_ADDRESS"}],
                "ruleSet": [
                    {
                        "infoTypes": [{"name": "EMAIL_ADDRESS"}],
                        "rules": [
                            {
                                "hotwordRule": {
                                    "hotwordRegex": {"pattern": "(?i)work email"},
                                    "proximity": {"windowBefore": 20},
                                    "likelihoodAdjustment": {
                                        "fixedLikelihood": "VERY_LIKELY"
                                    },
                                }
                            },
                            {
                                "exclusionRule": {
                                    "regex": {"pattern": ".*@example\\.com"},
                                    "matchingType": "MATCHING_TYPE_FULL_MATCH",
                                }
                            },
                        ],
                    }
                ],
            }
        }
    )
    (rs,) = cfg.rule_sets
    assert rs.info_types == ["EMAIL_ADDRESS"]
    assert rs.hotwords[0].window_before == 20
    assert rs.hotwords[0].fixed_likelihood == "VERY_LIKELY"
    assert rs.exclusions[0].pattern == ".*@example\\.com"


def test_rule_set_validation_errors():
    with pytest.raises(ValueError, match="matchingType"):
        InspectConfig.from_dict(
            {"ruleSet": [{"rules": [{"exclusionRule": {
                "regex": {"pattern": "x"}, "matchingType": "MATCHING_TYPE_NOPE"}}]}]}
        )
    with pytest.raises(ValueError, match="exactly one"):
        InspectConfig.from_dict(
            {"ruleSet": [{"rules": [{"exclusionRule": {
                "regex": {"pattern": "x"},
                "dictionary": {"wordList": {"words": ["a"]}}}}]}]}
        )
    with pytest.raises(ValueError, match="oneof"):
        InspectConfig.from_dict(
            {"ruleSet": [{"rules": [{"hotwordRule": {
                "hotwordRegex": {"pattern": "x"},
                "likelihoodAdjustment": {
                    "fixedLikelihood": "LIKELY", "relativeLikelihood": 1}}}]}]}
        )


def test_regex_exclusion_full_match_native_and_offsets_agree(spark):
    rules = [InspectionRuleSet(
        info_types=["EMAIL_ADDRESS"],
        exclusions=[ExclusionRule(pattern=r"[a-z.]+@corp\.example")],
    )]
    df = _df(spark, [
        "mail a@corp.example or b@other.example",
        "no findings here",
        "c@corp.example plus Z9@corp.example",  # Z9 not matched by rule regex
    ])
    nat = ins.inspect(df, ["EMAIL_ADDRESS"], ["t"], id_columns=["id"], rule_sets=rules)
    off = ins.inspect_offsets(
        df, ["EMAIL_ADDRESS"], ["t"], id_columns=["id"], rule_sets=rules
    )
    got_n = sorted((r.id, r.quote) for r in nat.collect())
    got_o = sorted((r.id, r.quote) for r in off.collect())
    assert got_n == got_o == [(0, "b@other.example"), (2, "Z9@corp.example")]


def test_regex_exclusion_partial_and_inverse(spark):
    df = _df(spark, ["a@x.com b@corp.example"])
    partial = [InspectionRuleSet(exclusions=[ExclusionRule(
        pattern="corp", matching_type="MATCHING_TYPE_PARTIAL_MATCH")])]
    inverse = [InspectionRuleSet(exclusions=[ExclusionRule(
        pattern=r".*@x\.com", matching_type="MATCHING_TYPE_INVERSE_MATCH")])]
    got_p = [r.quote for r in ins.inspect(
        df, ["EMAIL_ADDRESS"], ["t"], rule_sets=partial).collect()]
    got_i = [r.quote for r in ins.inspect(
        df, ["EMAIL_ADDRESS"], ["t"], rule_sets=inverse).collect()]
    assert got_p == ["a@x.com"]          # partial 'corp' hit excluded
    assert got_i == ["a@x.com"]          # inverse: non-@x.com excluded


def test_dictionary_exclusion_is_case_insensitive(spark):
    rules = [InspectionRuleSet(exclusions=[ExclusionRule(
        words=["Admin@Corp.Example"])])]
    df = _df(spark, ["from admin@corp.example and real@corp.example"])
    for path in (ins.inspect, ins.inspect_offsets):
        got = [r.quote for r in path(
            df, ["EMAIL_ADDRESS"], ["t"], rule_sets=rules).collect()]
        assert got == ["real@corp.example"], path.__name__


def test_hotword_fixed_likelihood_with_min_likelihood_after_adjustment(spark):
    # PHONE_NUMBER detector likelihood is below VERY_LIKELY; the hotword
    # lifts findings preceded by 'call' — minLikelihood=VERY_LIKELY must
    # keep ONLY the lifted finding (post-adjustment filter, not plan-time)
    rules = [InspectionRuleSet(
        info_types=["PHONE_NUMBER"],
        hotwords=[HotwordRule(
            pattern="(?i)call", window_before=12,
            fixed_likelihood="VERY_LIKELY")],
    )]
    df = _df(spark, ["call 415-555-0199 | fax 415-555-0142"])
    out = ins.inspect_offsets(
        df, ["PHONE_NUMBER"], ["t"], id_columns=["id"],
        min_likelihood="VERY_LIKELY", rule_sets=rules,
    ).collect()
    assert [(r.quote, r.likelihood) for r in out] == [
        ("415-555-0199", "VERY_LIKELY")
    ]


def test_hotword_relative_adjustment_clamps(spark):
    rules = [InspectionRuleSet(hotwords=[HotwordRule(
        pattern="ssn", window_before=8, relative_likelihood=+9)])]
    df = _df(spark, ["ssn 922-71-3982"])
    out = ins.inspect_offsets(
        df, ["US_SOCIAL_SECURITY_NUMBER"], ["t"], rule_sets=rules
    ).collect()
    assert out[0].likelihood == "VERY_LIKELY"  # clamped at the top
    down = [InspectionRuleSet(hotwords=[HotwordRule(
        pattern="ssn", window_before=8, relative_likelihood=-9)])]
    out = ins.inspect_offsets(
        df, ["US_SOCIAL_SECURITY_NUMBER"], ["t"], rule_sets=down
    ).collect()
    assert out[0].likelihood == "VERY_UNLIKELY"  # clamped at the bottom


def test_hotword_window_includes_finding_itself(spark):
    # proximity window INCLUDES the finding (public proto note): a hotword
    # matching a substring of the finding fires even with windowBefore=0
    rules = [InspectionRuleSet(hotwords=[HotwordRule(
        pattern="555", fixed_likelihood="VERY_LIKELY")])]
    df = _df(spark, ["dial 415-555-0199"])
    out = ins.inspect_offsets(df, ["PHONE_NUMBER"], ["t"], rule_sets=rules).collect()
    assert out[0].likelihood == "VERY_LIKELY"


def test_exclude_info_types_overlap(spark):
    # EMAIL findings overlapping an ONLINE_USER_ID finding are dropped
    # (partial = any overlap); the standalone email survives
    rules = [InspectionRuleSet(
        info_types=["EMAIL_ADDRESS"],
        exclusions=[ExclusionRule(
            exclude_info_types=["ONLINE_USER_ID"],
            matching_type="MATCHING_TYPE_PARTIAL_MATCH")],
    )]
    # ONLINE_USER_ID matches ':1234567890123456' (colon + 16 digits); the
    # email '1234567890123456@x.com' starts one char later → spans overlap
    df2 = _df(spark, ["sess:1234567890123456@x.com and solo@x.com"])
    out = ins.inspect_offsets(
        df2, ["EMAIL_ADDRESS", "ONLINE_USER_ID"], ["t"], rule_sets=rules
    ).collect()
    emails = [r.quote for r in out if r.info_type_name == "EMAIL_ADDRESS"]
    assert emails == ["solo@x.com"]
    assert any(r.info_type_name == "ONLINE_USER_ID" for r in out)


def test_exclude_by_hotword(spark):
    rules = [InspectionRuleSet(exclusions=[ExclusionRule(
        hotword=HotwordRule(pattern="(?i)test data", window_before=24),
        matching_type="MATCHING_TYPE_PARTIAL_MATCH")])]
    df = _df(spark, ["test data: fake@x.com", "prod: real@x.com"])
    out = ins.inspect_offsets(
        df, ["EMAIL_ADDRESS"], ["t"], id_columns=["id"], rule_sets=rules
    ).collect()
    assert [r.quote for r in out] == ["real@x.com"]


def test_inspect_routes_offset_dependent_rules_to_scanner(spark):
    # hotword adjustment and overlap exclusion need offsets: inspect serves
    # them from the scanner and returns its findings minus the locations
    df = _df(spark, [
        "call 415-555-0199 or mail a@x.com",
        "fax 415-555-0142, ref 415-555-0142@x.com",
    ])
    dets = ["PHONE_NUMBER", "EMAIL_ADDRESS"]
    hotword = [InspectionRuleSet(hotwords=[HotwordRule(
        pattern="(?i)call", window_before=10, fixed_likelihood="VERY_LIKELY")])]
    overlap = [InspectionRuleSet(info_types=["PHONE_NUMBER"], exclusions=[
        ExclusionRule(exclude_info_types=["EMAIL_ADDRESS"])])]
    got = {}
    for name, rules in (("hotword", hotword), ("overlap", overlap)):
        out = ins.inspect(df, dets, ["t"], id_columns=["id"], rule_sets=rules)
        want = ins.inspect_offsets(
            df, dets, ["t"], id_columns=["id"], rule_sets=rules
        ).drop("location_start", "location_end")
        assert out.columns == want.columns
        got[name] = sorted(out.collect())
        assert got[name] == sorted(want.collect())
    phones = {(r.quote, r.likelihood) for r in got["hotword"] if r.info_type_name == "PHONE_NUMBER"}
    assert phones == {("415-555-0199", "VERY_LIKELY"), ("415-555-0142", "LIKELY")}
    # the phone inside the email address is excluded, the bare one is kept
    assert len(got["hotword"]) == 5 and len(got["overlap"]) == 4


def test_exclusions_do_not_consume_cap_slots(spark):
    # 3 emails, first two excluded, cap=1 → the THIRD must be emitted (the
    # cap applies to post-exclusion findings, both paths, position order)
    rules = [InspectionRuleSet(exclusions=[ExclusionRule(
        pattern=r"[a-z]+@drop\.example")])]
    df = _df(spark, ["a@drop.example b@drop.example c@keep.example"])
    for path in (ins.inspect, ins.inspect_offsets):
        got = [r.quote for r in path(
            df, ["EMAIL_ADDRESS"], ["t"], rule_sets=rules,
            max_findings_per_item=1).collect()]
        assert got == ["c@keep.example"], path.__name__


def test_rules_cell_python_oracle_cross_check(spark):
    # randomized-ish corpus; pandas path vs an independent pure-Python
    # re-implementation of the documented semantics
    import re as _re

    texts = [
        "call 415-555-0199 mail admin@corp.example",
        "fax 415-555-0142 and real@x.com",
        "test data: fake@x.com u-98765432@x.com",
        None,
        "",
    ]
    rules = [
        InspectionRuleSet(
            info_types=["PHONE_NUMBER"],
            hotwords=[HotwordRule(pattern="(?i)call", window_before=10,
                                  fixed_likelihood="VERY_LIKELY")],
        ),
        InspectionRuleSet(
            info_types=["EMAIL_ADDRESS"],
            exclusions=[ExclusionRule(words=["admin@corp.example"])],
        ),
    ]
    dets = ["PHONE_NUMBER", "EMAIL_ADDRESS"]
    df = _df(spark, texts)
    got = sorted(
        (r.id, r.info_type_name, r.quote, r.likelihood, r.location_start)
        for r in ins.inspect_offsets(
            df, dets, ["t"], id_columns=["id"], rule_sets=rules
        ).collect()
    )

    from dlp_dataflow_deidentification_spark.functions.infotypes import resolve

    want = []
    for i, text in enumerate(texts):
        if not text:
            continue
        for name in dets:
            it = resolve(name)
            for m in _re.finditer(it.pattern, text):
                lk = it.likelihood
                if name == "PHONE_NUMBER" and _re.search(
                    "(?i)call", text[max(0, m.start() - 10): m.end()]
                ):
                    lk = "VERY_LIKELY"
                if name == "EMAIL_ADDRESS" and m.group(0).lower() == "admin@corp.example":
                    continue
                want.append((i, name, m.group(0), lk, m.start()))
    assert got == sorted(want)


def test_hotword_rule_without_adjustment_fails_at_parse():
    # a no-op hotwordRule used to compile and then crash (rank + None) deep
    # in the executor pandas UDF at first match — must fail at from_dict
    with pytest.raises(ValueError, match="likelihoodAdjustment"):
        InspectConfig.from_dict(
            {"ruleSet": [{"rules": [{"hotwordRule": {
                "hotwordRegex": {"pattern": "ctx"},
                "proximity": {"windowBefore": 10}}}]}]}
        )
    # excludeByHotword legitimately has no adjustment — must still parse
    cfg = InspectConfig.from_dict(
        {"ruleSet": [{"rules": [{"exclusionRule": {
            "excludeByHotword": {"hotwordRegex": {"pattern": "ctx"}},
            "matchingType": "MATCHING_TYPE_PARTIAL_MATCH"}}]}]}
    )
    assert cfg.rule_sets[0].exclusions[0].hotword is not None
