"""Physical-plan assertions — the scale-posture regression suite.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives 100 TB: filters reach the parquet scan, column
pruning happens, dimensions broadcast, fact joins avoid cartesian
blowups, aggregation is partial (map-side) before the shuffle.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    """TPC-H Q6 is one scan — every predicate must appear as a parquet
    PushedFilter, not a post-scan Filter-only plan."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_column_pruning(spark, sf_dir):
    """Q6 touches 4 columns; the scan must not read the other 7."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "l_extendedprice" in schema
    assert "l_returnflag" not in schema and "l_orderkey" not in schema


def test_star_join_dimensions_broadcast(spark, sf_dir):
    """Q5: all five dimension joins broadcast; only the lineitem⋈orders
    fact join may shuffle."""
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Q1 must plan a two-phase aggregate: map-side partial_ functions
    before the exchange, final after."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "partial_" in plan  # HashAggregate(... functions=[partial_sum...])
    assert "Exchange hashpartitioning" in plan


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_volume_shipping",
        "q10_returned_items",
        "range_join_events",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
    ],
)
def test_no_cartesian_products(spark, sf_dir, name):
    """Joins that must stay equi-join shaped at scale: no cartesian or
    unconditioned nested-loop plans."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


def test_topk_no_global_sort(spark, sf_dir):
    """Per-customer top-k uses a partitioned window, not a global sort
    of the whole fact table."""
    plan = _plan(spark, sf_dir, "topk_orders_per_customer")
    assert "WindowExec" in plan or "Window" in plan
    # the only Sort allowed is the window's local (per-partition) sort
    for line in plan.splitlines():
        if "Sort " in line and "global=true" in line:
            raise AssertionError(f"unexpected global sort: {line.strip()}")


def test_semi_anti_join_shapes(spark, sf_dir):
    """EXISTS/NOT EXISTS plan as semi/anti joins (no distinct+inner)."""
    assert "LeftSemi" in _plan(spark, sf_dir, "join_semi_orders")
    assert "LeftAnti" in _plan(spark, sf_dir, "join_anti_orders")


def test_whole_stage_codegen_hot_paths(spark, sf_dir):
    """Scan→filter→project→partial-agg pipelines stay inside whole-stage
    codegen (no interpreted row processing in the hot path). The *(n)
    markers only appear in the FINAL adaptive plan, so execute first.
    (record_map is exempt: from_json is a CodegenFallback expression.)"""
    for name in ("q1_pricing_summary", "q6_forecast_revenue", "failure_classification"):
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan, f"{name}: no WholeStageCodegen stage\n{plan[:800]}"


def test_position_filter_prunes_scan(spark, sf_dir):
    """S2 position filters (the reference's AtSequenceNumber/AtTimestamp)
    must push to the parquet scan — this is what makes 'resume from
    position' cheap at scale."""
    plan = _plan(spark, sf_dir, "position_after_sequence")
    assert "PushedFilters: [" in plan
    assert "event_id" in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]


def test_broadcast_hint_respected(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_broadcast_brand")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_semi_join_reduction(spark, sf_dir):
    """At 100 TB, fact⋈fact joins run as sort-merge with a runtime
    bloom-filter semi-join reduction: Spark builds a bloom filter on
    the selective (filtered) side and pushes `might_contain` into the
    big side's scan, cutting shuffle volume before the exchange. The
    optimizer conf is default-on; at test scale the size thresholds
    suppress it, so this pin lowers them and disables broadcast to
    reproduce the at-scale plan shape."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:800]
        assert "bloom_filter_agg" in plan, plan[:800]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# --- round-4 operators --------------------------------------------------


def test_chunk_documents_zero_shuffle(spark, sf_dir):
    """The chunker is a narrow transform: explode(sequence) inside the
    scan stage — no KEY exchange anywhere. The only exchange allowed is
    the round-robin fan-out of the 1-partition test-scale scan
    (io.fan_out_narrow — a no-op on real multi-split inputs)."""
    plan = _plan(spark, sf_dir, "chunk_documents")
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, line.strip()


def test_profile_columns_bounded_exchanges(spark, sf_dir):
    """r14 union-of-typed-aggregates profiling (VERDICT r13 #1): five
    NARROW TYPED per-value aggregates over ONE pinned projection, then
    the per-column rollup — never the Expand blow-up, never the wide
    3M-row mixed-type explode the r4-r13 unpivot paid, and never a
    per-branch parquet re-scan (the pin keeps the single-scan
    property)."""
    plan = _plan(spark, sf_dir, "profile_columns")
    # 5 per-branch value exchanges + 1 rollup exchange, all keyed
    assert plan.count("hashpartitioning") <= 6
    assert "Expand" not in plan
    # the unpivot's explode is gone — no generator node anywhere
    assert "Generate" not in plan
    # the steady plan reads the pinned projection, not parquet, and
    # reads it once per branch — no second FileScan subtree
    assert plan.count("FileScan") <= 1 or plan.count("Scan parquet") <= 1


def test_prefix_join_stays_equi(spark, sf_dir):
    """PPJoin candidates and verification are equi-joins on shingle /
    pair keys — no cartesian, no unconditioned nested loop."""
    plan = _plan(spark, sf_dir, "similarity_prefix_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_centroids_broadcast(spark, sf_dir):
    """The IVF assignment joins every vector against the 16-row
    centroid set — that side must broadcast, never shuffle the
    vectors on a join key."""
    plan = _plan(spark, sf_dir, "semantic_dedup_reps")
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_bloom_prune_revenue_injects_filter(spark, sf_dir):
    """The registered bloom_prune_revenue query must carry the runtime
    bloom: might_contain evaluated on the lineitem side BEFORE its
    exchange, built from the filtered orders keys."""
    plan = _plan(spark, sf_dir, "bloom_prune_revenue")
    assert "might_contain" in plan, plan[:800]
    assert "bloom_filter_agg" in plan, plan[:800]
    # conf overrides must not leak: the wrapper re-pins session
    # defaults before every query
    from go_zoom_kinesis_spark.session import configure_session

    configure_session(spark)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_zorder_audit_single_pass(spark, sf_dir):
    """Morton-code audit is one scan + one keyed aggregate: bit
    arithmetic stays in codegen, no join, ≤1 shuffle."""
    plan = _plan(spark, sf_dir, "zorder_cluster_audit")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    # scan pruned to exactly the two layout dimensions
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "l_partkey" in schema and "l_suppkey" in schema
    assert "l_extendedprice" not in schema


def test_skyline_no_dominance_self_join(spark, sf_dir):
    """The 2-D skyline must be the prefix-max shape — a broadcast of
    the O(distinct prices) frontier back onto part — never an O(n²)
    dominance self-join (cartesian / unconditioned nested loop)."""
    plan = _plan(spark, sf_dir, "skyline_parts_2d")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Broadcast" in plan


def test_compaction_plan_single_partition_shuffle(spark, sf_dir):
    """The compaction planner is one window pass partitioned by source
    + one grouped rollup: every keyed exchange hashes on source (the
    rollup reuses the window's partitioning clustering), and there is
    no join at all."""
    plan = _plan(spark, sf_dir, "compaction_plan")
    assert "Join" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "source" in line, line.strip()


def test_integrity_checksum_partial_agg(spark, sf_dir):
    """bit_xor checksums must partially aggregate map-side (mergeable
    digests are the point): expect a partial/final HashAggregate pair
    around a single source-keyed exchange, no join."""
    plan = _plan(spark, sf_dir, "integrity_checksum_audit")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_minhash_overlap_sketch_joins_broadcast(spark, sf_dir):
    """Signature comparison is a broadcast of the O(|types|) sketch
    rows; only the exact-audit self-join shuffles on user_id. No
    cartesian plans."""
    plan = _plan(spark, sf_dir, "minhash_user_overlap")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_snapshot_diff_single_outer_join(spark, sf_dir):
    """The CDC diff is ONE co-partitioned full-outer join (sort-merge
    or shuffled-hash — both key-partitioned) plus the rollup; both
    scans pruned to key + compared columns."""
    plan = _plan(spark, sf_dir, "snapshot_diff_cdc")
    assert plan.count("FullOuter") == 1
    assert "CartesianProduct" not in plan
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "o_orderdate" not in schema and "o_orderpriority" not in schema


def test_triangle_count_edges_broadcast(spark, sf_dir):
    """Corpus-scale work is the single revenue aggregate; the two
    wedge-closing self-joins run on the tiny edge relation as
    broadcasts — never a shuffle of the fact table per wedge."""
    plan = _plan(spark, sf_dir, "triangle_count_nations")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # 2 dims + 2 wedge joins


def test_hard_negative_anchors_broadcast(spark, sf_dir):
    """Anchor set broadcasts; candidate side stays a single scan (the
    label predicate must not trigger a shuffle before scoring)."""
    plan = _plan(spark, sf_dir, "hard_negative_mining")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one window shuffle for the per-anchor top-k
    assert plan.count("Exchange hashpartitioning") == 1


def test_minibatch_single_stratum_shuffle(spark, sf_dir):
    """One window shuffle keyed on lang; batch rollup reuses the same
    partitioning (no second exchange on (lang, batch_idx))."""
    plan = _plan(spark, sf_dir, "minibatch_pack_plan")
    assert plan.count("Exchange hashpartitioning") == 1


def test_quantile_sketch_one_corpus_aggregate(spark, sf_dir):
    """The per-value count table is the only corpus-scale aggregate;
    it must partial-aggregate map-side and be pinned (with its
    cumulative window) so the est/exact branches do not rescan events."""
    plan = _plan(spark, sf_dir, "quantile_sketch_audit")
    assert "partial_count" in plan or "partial_" in plan
    # both branches read the pinned per-value table, and no branch
    # scans the events parquet (the scan ran once, inside the pin)
    assert plan.count("Scan ExistingRDD") >= 2
    assert "FileScan" not in plan


def test_aqe_skew_join_fires_at_runtime(spark, tmp_path):
    """Runtime evidence for the SCALE.md claim that AQE's skew-join
    handles moderate hot keys without manual salting: build a join
    where one key owns ~90% of the left side, execute it, and assert
    the FINAL adaptive plan actually split the skewed partition
    (isSkew=true markers in the sort-merge join node)."""
    left = spark.range(0, 400_000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 7 ELSE id END AS k", "id AS payload"
    )
    right = spark.range(0, 50_000).selectExpr("id AS k", "id * 2 AS r")
    conf = spark.conf
    old = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", None
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", None
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", None
        ),
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold", None
        ),
    }
    try:
        # thresholds low enough that the test-sized hot key qualifies
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        joined = left.join(right, "k")
        # execute THIS DataFrame's own QueryExecution so AQE finalizes
        # it (count() would plan and run a different query)
        assert len(joined.collect()) > 0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for key, val in old.items():
            if val is None:
                conf.unset(key)
            else:
                conf.set(key, val)


def test_distribution_ranks_no_low_cardinality_window(spark, sf_dir):
    """The round-6 rebuild contract: NO window partitioned on the bare
    5-value priority key (that plan is five single-task terabyte sorts
    at 100 TB). The only corpus-scale window must partition on
    (priority, value-bucket); the offsets come back via broadcast."""
    plan = _plan(spark, sf_dir, "window_distribution_ranks")
    import re

    # every window spec that mentions the priority key must also carry
    # the vb bucket column in its partition spec
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "o_orderpriority" in spec.split(",")[0]:
            args = [a.strip() for a in spec.split(",")]
            # partition columns precede the ordering columns; the big
            # window is (priority, vb), the offset window runs over the
            # tiny counts relation and is allowed
            if "vb" not in spec:
                # must be the bounded counts relation (operates post-agg
                # on count column), never over order rows
                assert "price_cents" not in spec, (
                    "full-partition window over raw order rows: " + spec
                )
    assert "BroadcastHashJoin" in plan


def test_token_budget_no_global_sort_window(spark, sf_dir):
    """The global running sum must come from per-bucket windows plus a
    broadcast offset join — never one empty-partition window over the
    full documents relation (single-task global sort)."""
    plan = _plan(spark, sf_dir, "token_budget_plan")
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        # any window whose frame walks document rows must be bucketed
        if "tok" in spec or "n_chars" in spec:
            assert "vb" in spec, "unbucketed global window: " + spec
    assert "BroadcastHashJoin" in plan


def test_export_shard_plan_no_global_sort_window(spark, sf_dir):
    """Shard assignment's running offset must be the two-phase form:
    every window over document rows partitions by the doc_id bucket;
    the offsets come back via a broadcast join."""
    plan = _plan(spark, sf_dir, "export_shard_plan")
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "tok" in spec or "doc_id" in spec:
            assert "vb" in spec, "unbucketed global window: " + spec
    assert "BroadcastHashJoin" in plan


def test_stratified_split_no_per_stratum_global_window(spark, sf_dir):
    """The split's rank must be the two-phase form: every window over
    document rows partitions by (lang, __bucket) — a window on lang
    alone would be one multi-terabyte sort per language at scale. The
    offsets come back via broadcast joins."""
    plan = _plan(spark, sf_dir, "stratified_split_exact")
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "__h" in spec:  # the row-grain rank window
            assert "__bucket" in spec, "unbucketed stratum window: " + spec
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quantile_normalize_broadcast_candidates(spark, sf_dir):
    """The CDF candidate join must be a broadcast nested-loop against
    the tiny global histogram — never a CartesianProduct (no broadcast)
    or a corpus-sized build side."""
    plan = _plan(spark, sf_dir, "quantile_normalize_lengths")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_target_encoding_broadcast_join_back(spark, sf_dir):
    """LOO encoding joins the bounded per-source aggregate back onto
    the fact scan as a broadcast hash join — no shuffle of documents
    on the join key."""
    plan = _plan(spark, sf_dir, "target_encoding_loo")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_pq_adc_no_cartesian_pruned_codebook_scans(spark, sf_dir):
    """ADC serving path: centroid/query slices must reach the parquet
    scan as pushed filters (pruned index-build inputs), and no join may
    degrade to a cartesian product."""
    plan = _plan(spark, sf_dir, "ivf_pq_adc_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id") >= 2


def test_decontaminate_semantic_lsh_never_broadcasts_eval(spark, sf_dir):
    """The LSH decontamination variant exists FOR the case where the
    eval relation cannot broadcast — its plan must be a shuffled hash
    join on the bucket key with zero broadcast exchanges (the
    broadcast-shaped sibling decontaminate_semantic covers the
    small-eval case)."""
    plan = _plan(spark, sf_dir, "decontaminate_semantic_lsh")
    assert "BroadcastExchange" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert "bucket" in plan
    # and never a cartesian pair enumeration
    assert "CartesianProduct" not in plan


def test_two_tier_pipeline_no_cartesian_banded_joins(spark, sf_dir):
    """The composed two-tier query must keep every join equi-shaped
    (band-key buckets / doc_id), with no cartesian or unconditioned
    nested-loop anywhere — the candidate stage is banded by
    construction."""
    plan = _plan(spark, sf_dir, "dedup_two_tier_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_window_runs_after_bucket_cutoff(spark, sf_dir):
    """The KMV top-K rank must NOT be a per-group sort of the raw
    distinct-hash relation: the plan's row_number window sits above
    the cutoff-bucket FILTER (two-phase value-bucket discipline), so
    the sorted relation is ~K + one bucket per group. Pinned
    structurally: in the executed plan string the window's sort
    appears after (deeper than) the bucket-cutoff filter on `cut`."""
    plan = _plan(spark, sf_dir, "kmv_distinct_sketch")
    assert "CartesianProduct" not in plan
    # the cutoff join/filter must exist and feed the window
    assert "cut" in plan
    w = plan.index("Window")
    f = plan.index("cut")
    assert w < f, "window must consume the cutoff-filtered relation"


def test_coreset_rounds_are_scan_only(spark, sf_dir):
    """Each coreset round's distance relation must be join-free and
    shuffle-free: distances to literal centers are in-row projections;
    only the final TakeOrdered(1) orders anything."""
    from go_zoom_kinesis_spark.operators.similarity import (
        CORESET_K,
        _dot,
        _emb,
        _with_norm,
    )
    from pyspark.sql import functions as F

    emb = _with_norm(_emb(spark, sf_dir))
    row = emb.orderBy("vec_id").limit(1).collect()[0]
    dist = F.lit(1.0) - _dot(
        F.col("emb"), F.array(*[F.lit(float(x)) for x in row["emb"]])
    ) / (F.col("norm") * F.lit(float(row["norm"])))
    round_df = (
        emb.filter(~F.col("vec_id").isin([int(row["vec_id"])]))
        .select("vec_id", dist.alias("d"))
        .orderBy(F.desc("d"), F.asc("vec_id"))
        .limit(1)
    )
    plan = round_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    # r13: _emb fans the single-file scan out (one round-robin exchange
    # of raw rows; the shipped operator caches the fanned base so rounds
    # reuse it). What stays forbidden per round is any KEYED shuffle —
    # a join/aggregate exchange would mean the round isn't scan-only.
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


# --- round 9 cohort -------------------------------------------------------


def test_dsir_weight_table_broadcasts(spark, sf_dir):
    """dsir_importance_weights: the 256-row bucket-weight table joins
    back onto the feature stream as a broadcast; the totals row rides a
    broadcast nested-loop, never a cartesian; no sort-merge join of the
    corpus against anything."""
    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_longest_run_eval_side_broadcasts(spark, sf_dir):
    """contamination_longest_run: the eval slice posting list must
    broadcast — the train-side shingle stream is never shuffled for
    the join."""
    plan = _plan(spark, sf_dir, "contamination_longest_run")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_conformal_stats_broadcast_back(spark, sf_dir):
    """conformal_threshold_audit: the 5-row calibration-mean and
    threshold relations broadcast back onto the event stream."""
    plan = _plan(spark, sf_dir, "conformal_threshold_audit")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rendezvous_scan_prunes_to_partition_key(spark, sf_dir):
    """shard_rendezvous_assign: fact-table work is one distinct over
    the pmod projection — the scan must read ONLY user_id."""
    plan = _plan(spark, sf_dir, "shard_rendezvous_assign")
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "user_id" in schema
    assert "event_type" not in schema and "value" not in schema
    assert "CartesianProduct" not in plan


def test_seasonal_decompose_single_fact_aggregate(spark, sf_dir):
    """ts_seasonal_decompose: one scan, one partial-then-final hash
    aggregate on (type, hod); the per-type re-sums are windows over the
    bounded 120-row relation — no join, no second scan."""
    plan = _plan(spark, sf_dir, "ts_seasonal_decompose")
    assert "partial_" in plan
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_no_shrinking_window_frames(spark, sf_dir):
    """Spark evaluates (CURRENT ROW, UNBOUNDED FOLLOWING) frames by
    rescanning the partition remainder per row — O(n²), measured as a
    10-minute hang on the span-mode sf100 decade before the r9 rewrite
    of ts_linear_interpolate / attribution_linear. Pin both plans to
    growing frames only."""
    for name in ("ts_linear_interpolate", "attribution_linear"):
        plan = _plan(spark, sf_dir, name)
        assert "AND UNBOUNDED FOLLOWING" not in plan, name


def test_ivf_probe_sweep_no_per_nprobe_rescans(spark, sf_dir):
    """ivf_probe_sweep: one centroid-scoring pass serves all sweep
    points — the scan count of the plan must be INDEPENDENT of
    |IVF_SWEEP| (the explode replays probe ranks, never rescans the
    corpus), with no cartesian and broadcast joins for the small
    sides. r11: the shipped query checkpoints its three shared
    relations (bounded-lifetime persistence — see its docstring),
    which hides the upstream DAG behind ExistingRDD scans; the pin
    audits the fully-LAZY twin (plan-identical minus persistence
    boundaries), comparing it against itself built with a 1-point
    sweep — a strictly stronger form of the old 2x-reference bound."""
    import go_zoom_kinesis_spark.operators.similarity as S

    def lazy_plan():
        df = S._ivf_probe_sweep_build(spark, sf_dir, persist=False)
        return df._jdf.queryExecution().executedPlan().toString()

    plan_full = lazy_plan()
    orig = S.IVF_SWEEP
    try:
        S.IVF_SWEEP = (orig[0],)
        plan_one = lazy_plan()
    finally:
        S.IVF_SWEEP = orig
    assert "CartesianProduct" not in plan_full
    assert plan_full.count("FileScan") == plan_one.count("FileScan")
    assert "BroadcastHashJoin" in plan_full


def test_lateness_sweep_growing_frames_only(spark, sf_dir):
    """watermark_lateness_sweep: the tape prefix must ride the reduced
    chunk relation with growing frames only — no shrinking frame, no
    cartesian, and exactly one fact scan. r10: the chunk prefix is
    recursed — any window ORDERING by batch_no must be partitioned by
    the super-chunk bucket, so the only empty-partition window left
    runs over the rows/BATCH² super-chunk relation, and the offsets
    come back via a broadcast join."""
    import re

    plan = _plan(spark, sf_dir, "watermark_lateness_sweep")
    assert "AND UNBOUNDED FOLLOWING" not in plan
    assert "CartesianProduct" not in plan
    # r11: the chunk relation is localCheckpoint-materialized (bounded
    # lifetime — ADVICE r10), so its branch reads ExistingRDD; the
    # InMemoryRelation term is kept for robustness if a cache ever
    # returns (cached subtrees re-PRINT their one FileScan per ref)
    assert plan.count("FileScan") - plan.count("InMemoryRelation") <= 2
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if re.search(r"batch_no#\d+L? ASC", spec):  # batch_no as ORDER col
            assert "sbucket" in spec, "unbucketed tape window: " + spec
    assert "BroadcastHashJoin" in plan
