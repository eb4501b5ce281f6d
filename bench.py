"""Benchmark harness (driver contract): times every registered query.

Usage: ``SPARK_GRAFT_SF_DIR=<dir of sf<N> parquet tables> python bench.py``
(default: ``SF_DIR`` below, sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Protocol, per query in registry order (``time_query``):
``clearCache``, build the DataFrame (``build_s``), one warm-up noop
write (``cold_s``), then three timed noop writes: ``steady_s`` is their
min and ``spread_s`` their max - min. A noop-format write executes the
full plan without a driver-side collect.

Output contract: the LAST stdout line is a short summary JSON with
exactly the keys ``metric``, ``value`` (Σ steady_s), ``value_end_to_end``
(Σ build_s + cold_s + steady_s), ``unit``, ``sf``, ``value_baseline_set``
(Σ steady_s over ``HEADLINE``), ``n_queries`` and ``detail_file``. The
per-query rows go to ``BENCH_DETAIL_sf<sf>.json`` in ``ROOT`` (this
file's directory), overwritten on each run.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The round-1 query set: ``value_baseline_set`` sums it, the figure
# BASELINE.md compares against; tools/gen_plans_doc.py orders by it.
HEADLINE = [
    "windowed_metrics",
    "metrics_aggregation",
    "failure_classification",
    "record_map",
    "batch_limit",
    "checkpoint_commit",
    "ordering_audit",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_order_distribution",
    "q19_disjunctive_predicates",
    "q18_large_volume",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_parts",
    "q12_lateness_priority",
    "q15_top_supplier",
    "q16_supplier_part_count",
    "q20_dominant_supplier",
    "q21_only_late_supplier",
    "agg_grouping_sets",
    "explode_tokens",
    "session_window_events",
    "sliding_window_counts",
    "topk_orders_per_customer",
    "asof_join_signup",
    "range_join_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "similarity_topk",
    "similarity_lsh_buckets",
    "similarity_ivf_topk",
    "dedup_embedding_nearest",
    "text_quality",
    "text_fingerprint",
    "multimodal_features",
    "udaf_weighted_qty",
    "map_functions",
    "sql_api_nation_revenue",
    "sample_hash_events",
    "sample_stratified_documents",
    "approx_percentile_stats",
    "kmeans_update_step",
]


def time_query(spark, fn, sf_dir: str) -> dict[str, float]:
    """One query's build, cold and steady seconds (see the module
    docstring). Clearing the cache first makes each timing a property
    of this query alone: cached intermediates left by earlier queries
    would otherwise evict each other under storage-memory pressure, and
    a timed run would pay a recompute another query caused. Min-of-3 is
    the steady-state estimator under contention from other tenants."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    runs = []
    for _ in range(3):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t)
    return {
        "build_s": round(t1 - t0, 3),
        "cold_s": round(t2 - t1, 3),
        "steady_s": round(min(runs), 3),
        "spread_s": round(max(runs) - min(runs), 3),
    }


def main() -> None:
    from go_zoom_kinesis_spark import registry
    from go_zoom_kinesis_spark.session import get_spark

    spark = get_spark(app_name="gzk-bench")
    # every unpartitioned window in the registry runs on a bounded
    # relation (histograms, threshold sweeps, K-row tails; see
    # PLANS.md), so the per-query "WindowExec: No Partition Defined"
    # WARN would bury real warnings in the bench tail
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    # warm the JVM with a trivial action
    spark.range(1).count()

    rows = {
        name: time_query(spark, fn, SF_DIR)
        for name, fn in registry.all_queries().items()
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    detail_file = f"BENCH_DETAIL_sf{sf}.json"
    with open(os.path.join(ROOT, detail_file), "w") as f:
        json.dump(rows, f, indent=1)
    # LAST stdout line = the short driver-parsable summary; the
    # per-query rows live only in the detail file, because the driver
    # captures only the tail of stdout
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(r["steady_s"] for r in rows.values()), 3),
                "value_end_to_end": round(
                    sum(
                        r["build_s"] + r["cold_s"] + r["steady_s"]
                        for r in rows.values()
                    ),
                    3,
                ),
                "unit": "sec",
                "value_baseline_set": round(
                    sum(rows[n]["steady_s"] for n in HEADLINE if n in rows), 3
                ),
                "n_queries": len(rows),
                "sf": float(sf) if sf else None,
                "detail_file": detail_file,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
