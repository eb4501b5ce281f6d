"""Per-query scaling-curve measurement: sf0.001 → sf0.01 → sf0.1.

Each scale step is 10× the data; a query whose wall time grows ≈
linearly (or stays overhead-bound) scales; super-linear growth flags a
plan that will not survive the next 100×. Each time is bench.py's
``time_query`` steady_s: min-of-three after a warm-up, with the cache
cleared per (query, sf).

Prints one JSON line per query:
    {"query": name, "t_sf0001": s, "t_sf001": s, "t_sf01": s,
     "growth_10x": t_sf01 / t_sf001_}
and a final summary of the worst growth ratios. The growth ratio uses
the 0.01→0.1 step (the 0.001 step is pure overhead at local scale).

Usage: python tools/scaling_curve.py [--only name1,name2] [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
}
# optional third decade: a 10× amplification of sf0.1 produced by
# tools/gen_scaled_data.py (disjoint key spaces; per-copy bijective
# alphabet permutation for documents, Rademacher sign flips for
# embeddings — see that module's docstring). Included automatically
# when present; growth_10x_b then reports the 0.1→1 step.
SF1_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "sf1",
)
# optional FOURTH decade: a partial (documents/embeddings-only) 10×
# amplification of sf1 — see gen_scaled_data.py --src/--tables. Queries
# whose tables are absent there record t_sf10 = null and no growth_10x_c.
SF10_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "sf10",
)
# optional FIFTH decade: documents/embeddings-only 10× amplification of
# sf10 (measured 5.0M docs / 6.4M vectors); growth_10x_d reports the 10→100 step.
SF100_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "sf100",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--dirs",
        default=None,
        help="override/extend the amplified decade dirs as a comma list "
        "of label=path (e.g. sf1=.scratch/sf1_span,sf10=.scratch/"
        "sf10_span) — used for the r9 span/heaps amplification modes; "
        "the three driver sf dirs always stay",
    )
    args = ap.parse_args()

    from bench import time_query
    from go_zoom_kinesis_spark import registry
    from go_zoom_kinesis_spark.session import get_spark

    spark = get_spark(app_name="gzk-scaling")
    spark.range(1).count()
    queries = registry.all_queries()
    names = args.only.split(",") if args.only else list(queries)

    sf_dirs = dict(SF_DIRS)
    if args.dirs:
        for pair in args.dirs.split(","):
            label, path = pair.split("=", 1)
            sf_dirs[label] = path
    else:
        if os.path.isdir(SF1_DIR):
            sf_dirs["sf1"] = SF1_DIR
        if os.path.isdir(SF10_DIR):
            sf_dirs["sf10"] = SF10_DIR
        if os.path.isdir(SF100_DIR):
            sf_dirs["sf100"] = SF100_DIR

    rows = []
    for name in names:
        fn = queries.get(name)
        if fn is None:
            continue
        row = {"query": name}
        for label, d in sf_dirs.items():
            try:
                t = time_query(spark, fn, d)["steady_s"]
            except Exception:
                # partial decade dirs (sf10) only carry some tables
                t = None
            row[f"t_{label.replace('.', '')}"] = t
        t_small, t_big = row["t_sf001"], row["t_sf01"]
        row["growth_10x"] = round(t_big / t_small, 2) if t_small > 0 else None
        if row.get("t_sf1") and t_big > 0:
            row["growth_10x_b"] = round(row["t_sf1"] / t_big, 2)
        if row.get("t_sf10") and row.get("t_sf1"):
            row["growth_10x_c"] = round(row["t_sf10"] / row["t_sf1"], 2)
        if row.get("t_sf100") and row.get("t_sf10"):
            row["growth_10x_d"] = round(row["t_sf100"] / row["t_sf10"], 2)
        rows.append(row)
        print(json.dumps(row), flush=True)

    rows.sort(key=lambda r: -(r["growth_10x"] or 0))
    print(
        json.dumps(
            {
                "summary": "worst 10x-data growth ratios",
                "worst": [
                    {k: r[k] for k in ("query", "t_sf001", "t_sf01", "growth_10x")}
                    for r in rows[:8]
                ],
            }
        )
    )
    if args.out:
        with open(args.out, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")


if __name__ == "__main__":
    main()
