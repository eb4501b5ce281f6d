"""Generate PLANS.md — physical-plan audit of the headline queries.

Run: python tools/gen_plans_doc.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

HEADER = """# PLANS — physical-plan audit (generated by tools/gen_plans_doc.py)

Scale-relevant plan facts per headline query at {sf}: shuffle count,
join strategies, parquet pushdown. Re-generate after plan-affecting
changes; tests/test_plans.py enforces the load-bearing properties in CI.

| query | shuffles | broadcast joins | sort-merge joins | cartesian | pushed filters | codegen |
|---|---|---|---|---|---|---|
"""


def main() -> None:
    from bench import HEADLINE
    from go_zoom_kinesis_spark import registry
    from go_zoom_kinesis_spark.plans import plan_summary
    from go_zoom_kinesis_spark.session import get_spark

    spark = get_spark(app_name="gen-plans")
    queries = registry.all_queries()
    rows = []
    # headline set first (bench order), then every other registered
    # query — the audit covers the full surface
    names = [n for n in HEADLINE if n in queries] + sorted(
        n for n in queries if n not in HEADLINE
    )
    for name in names:
        fn = queries.get(name)
        if fn is None:
            continue
        df = fn(spark, SF_DIR)
        # execute THIS DataFrame's query so the AQE final plan (with
        # codegen markers) is what plan_summary inspects
        df.collect()
        s = plan_summary(df)
        pushed = sum(1 for p in s["pushed_filters"] if p.strip())
        rows.append(
            f"| {name} | {s['n_exchanges']} | {s['broadcast_joins']} | "
            f"{s['sortmerge_joins']} | {'YES' if s['cartesian'] else 'no'} | "
            f"{pushed} scan(s) | {'yes' if s['has_codegen'] else 'fallback'} |"
        )
    out = HEADER.format(sf=SF_DIR) + "\n".join(rows) + "\n"
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(out)
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
