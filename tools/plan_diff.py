"""Executed-plan comparison of two source trees, rerun-aware.

Dumps every registered query's executed (final AQE) physical plan from
each tree at one scale factor, with expression ids, plan ids, query
stage ids and whole-stage-codegen stage numbers normalized, and reports
which queries plan differently. Executed plans are not stable across
runs of one tree (which join side AQE broadcasts, the grouping-key
order of a distinct-aggregate rewrite), so every query runs TWICE per
tree, each run in a fresh process, alternating trees:

- *differs*: both runs of each tree agree with each other and the two
  trees disagree — a real plan change;
- *rerun-unstable*: at least one tree's two runs disagree, so no
  cross-tree verdict is possible;
- everything else plans identically.

Usage:
    python tools/plan_diff.py BEFORE_TREE AFTER_TREE --sf-dir DIR

``BEFORE_TREE``/``AFTER_TREE`` are checkouts of this repository (e.g.
``git archive <rev> | tar -x -C <dir>``); ``DIR`` holds one scale
factor's parquet tables (sf0.001 is enough for plan shape). The
normalized dumps land in a temporary directory
as ``<tag><run>.json`` and the report prints to stdout, unified diffs
of the *differs* queries included. Exit status 1 when a query
differs.
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

RUNS_PER_TREE = 2

# (pattern, replacement): ids that change from run to run of one plan
_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),  # expression ids
    (re.compile(r"\*\(\d+\)"), "*(N)"),  # whole-stage codegen stages
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(QueryStage|Reused\w*) \d+"), r"\1 N"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),  # lambda variable ids
]


def normalize(plan: str) -> str:
    # an AQE plan prints its Final and Initial sections; keep the final
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==", 1)[0]
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan.rstrip() + "\n"


def dump(sf_dir: str, out: str) -> None:
    """Child-process body: execute each query of the tree in the
    working directory and write ``{name: normalized executed plan}``
    to ``out``."""
    sys.path.insert(0, os.getcwd())
    from go_zoom_kinesis_spark import registry
    from go_zoom_kinesis_spark.session import get_spark

    spark = get_spark(app_name="plan-diff")
    queries = registry.all_queries()
    plans = {}
    for name, fn in queries.items():
        spark.catalog.clearCache()
        try:
            df = fn(spark, sf_dir)
            df.collect()  # the collect's query execution holds the final plan
            plans[name] = normalize(
                df._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as e:  # reported in the dump; the sweep goes on
            plans[name] = f"ERROR {type(e).__name__}: {str(e)[:200]}\n"
    with open(out, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    spark.stop()


def compare(before: list[dict], after: list[dict]) -> dict[str, list[str]]:
    """Classify every query named in any run (see the module docstring)."""
    names = sorted(set().union(*before, *after))
    out = {"differs": [], "unstable": [], "same": []}
    for n in names:
        b = {r.get(n) for r in before}
        a = {r.get(n) for r in after}
        if len(b) > 1 or len(a) > 1:
            out["unstable"].append(n)
        elif b != a:
            out["differs"].append(n)
        else:
            out["same"].append(n)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trees", nargs="*", metavar="BEFORE_TREE AFTER_TREE")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--dump", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.dump:  # child mode, run with the tree as working directory
        dump(args.sf_dir, args.dump)
        return
    if len(args.trees) != 2:
        ap.error("give two trees: BEFORE_TREE AFTER_TREE")
    before, after = (os.path.abspath(t) for t in args.trees)

    out_dir = tempfile.mkdtemp(prefix="plan_diff_")
    runs: dict[str, list[dict]] = {"before": [], "after": []}
    for i in range(RUNS_PER_TREE):
        for tag, tree in (("before", before), ("after", after)):
            path = os.path.join(out_dir, f"{tag}{i}.json")
            subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--sf-dir",
                    args.sf_dir,
                    "--dump",
                    path,
                ],
                check=True,
                cwd=tree,
            )
            with open(path) as f:
                runs[tag].append(json.load(f))

    res = compare(runs["before"], runs["after"])
    for n in res["differs"]:
        sys.stdout.writelines(
            difflib.unified_diff(
                runs["before"][0].get(n, "").splitlines(keepends=True),
                runs["after"][0].get(n, "").splitlines(keepends=True),
                f"before/{n}",
                f"after/{n}",
            )
        )
    print(f"dumps: {out_dir}")
    print(f"same: {len(res['same'])}")
    print(f"rerun-unstable ({len(res['unstable'])}): {', '.join(res['unstable'])}")
    print(f"differs ({len(res['differs'])}): {', '.join(res['differs'])}")
    sys.exit(1 if res["differs"] else 0)


if __name__ == "__main__":
    main()
