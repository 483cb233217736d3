"""scripts/plan_diff.py compare step: every query declared by either tree
is reported, and the identical/total count runs over their union."""
import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "plan_diff.py")
_spec = importlib.util.spec_from_file_location("plan_diff", _PATH)
plan_diff = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_diff)


def test_compare_reports_union_of_both_trees():
    a = {"q1": "Scan x", "q2": "Scan y", "gone": "Scan z"}
    b = {"q1": "Scan x", "q2": "Scan y'", "new": "Scan w"}
    assert plan_diff.compare(a, b) == [
        "same    q1\n",
        "DIFFERS q2\n",
        "ONLY_A  gone\n",
        "ONLY_B  new\n",
        "1/4 identical\n",
    ]


def test_compare_show_diffs_one_sided_queries():
    out = "".join(plan_diff.compare({}, {"new": "Scan w\n"}, ("A", "B"), show=True))
    assert out.startswith("ONLY_B  new\n--- A:new\n+++ B:new\n")
    assert "+Scan w\n" in out
    assert out.endswith("0/1 identical\n")
