"""Normalised physical-plan diff of every declared query between two trees.

Builds each ``__spark_entry__.queries()`` entry (no action beyond what the
query's own construction runs), takes ``explain("formatted")`` and strips
what differs between two builds of the same plan: expression ids (``#n``),
``plan_id``, RDD ids, higher-order-function lambda variable suffixes,
``0x`` addresses, temp paths and pids. Two unchanged trees report every
query identical.

Usage:
  python scripts/plan_diff.py --sf /path/to/sf0.001 TREE_A TREE_B [--show] [q ...]
  python scripts/plan_diff.py --sf /path/to/sf0.001 --dump OUT.json TREE [q ...]

Each tree is dumped in its own Python process (it imports that tree's
``__spark_entry__``). The compare form prints one line per query found in
either tree (``ONLY_A``/``ONLY_B`` for a query only one tree declares) and
a final ``identical/total`` line over that union; ``--show`` adds a
unified diff per query that is not identical.
"""
from __future__ import annotations

import argparse
import difflib
import json
import os
import re
import subprocess
import sys
import tempfile

_RULES = [
    (re.compile(r"#\d+L?"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"(RDD|rdd)(\s*\[|_?id[=:]\s*)\d+"), r"\1\2n"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_n"),
    (re.compile(r"0x[0-9a-fA-F]+"), "0x?"),
    (re.compile(r"(file:)?/(tmp|var/folders|dev/shm)/[^\s,\]\)]+"), "<tmp>"),
    (re.compile(r"\bpid[=: ]\s*\d+"), "pid=n"),
]


def normalise(plan: str) -> str:
    for pat, rep in _RULES:
        plan = pat.sub(rep, plan)
    return plan


def dump(tree: str, sf: str, cpus: int, names: list[str]) -> dict[str, str]:
    sys.path.insert(0, tree)
    from bench import build_spark
    import __spark_entry__ as E

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    utils = spark.sparkContext._jvm.PythonSQLUtils
    qs = E.queries()
    out = {}
    for n in names or list(qs):
        df = qs[n](spark, sf)
        out[n] = normalise(utils.explainString(df._jdf.queryExecution(), "formatted"))
        spark.catalog.clearCache()
    spark.stop()
    return out


def compare(
    a: dict[str, str], b: dict[str, str], labels=("A", "B"), show: bool = False
) -> list[str]:
    """Report lines for two dumps: one per query in EITHER dump (``same``,
    ``DIFFERS``, ``ONLY_A`` or ``ONLY_B``; A's order, then B's extras),
    then ``identical/total`` counted over that union."""
    lines, same = [], 0
    names = list({**a, **b})
    for n in names:
        if n not in b:
            status = "ONLY_A"
        elif n not in a:
            status = "ONLY_B"
        elif a[n] == b[n]:
            status = "same"
            same += 1
        else:
            status = "DIFFERS"
        lines.append(f"{status:<7} {n}\n")
        if show and status != "same":
            lines.extend(
                difflib.unified_diff(
                    a.get(n, "").splitlines(True), b.get(n, "").splitlines(True),
                    f"{labels[0]}:{n}", f"{labels[1]}:{n}",
                )
            )
    lines.append(f"{same}/{len(names)} identical\n")
    return lines


def _dump_in_subprocess(tree: str, args, out_path: str) -> dict[str, str]:
    cmd = [
        sys.executable, os.path.abspath(__file__), "--sf", args.sf,
        "--cpus", str(args.cpus), "--dump", out_path, tree, *args.queries,
    ]
    subprocess.run(cmd, check=True, cwd=tree)
    with open(out_path) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    ap.add_argument("--dump", metavar="OUT.json")
    ap.add_argument("--show", action="store_true")
    ap.add_argument("trees_and_queries", nargs="+")
    args = ap.parse_args()
    n_trees = 1 if args.dump else 2
    trees = [os.path.abspath(t) for t in args.trees_and_queries[:n_trees]]
    args.queries = args.trees_and_queries[n_trees:]

    if args.dump:
        with open(args.dump, "w") as f:
            json.dump(dump(trees[0], args.sf, args.cpus, args.queries), f, indent=1)
        return

    with tempfile.TemporaryDirectory() as tmp:
        a, b = (
            _dump_in_subprocess(t, args, os.path.join(tmp, f"{i}.json"))
            for i, t in enumerate(trees)
        )
    sys.stdout.writelines(compare(a, b, trees, args.show))


if __name__ == "__main__":
    main()
