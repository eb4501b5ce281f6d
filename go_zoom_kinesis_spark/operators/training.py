"""Training-run preparation & data-governance operators (round 5) —
the layer between a curated corpus and an actual training job, plus
the release-governance checks that gate it:

- ``k_anonymity_audit``:      re-identification risk of quasi-id classes
- ``quantile_sketch_audit``:  mergeable histogram sketch vs exact quantiles
- ``snapshot_diff_cdc``:      keyed diff between two table versions
- ``triangle_count_nations``: trade-graph triangle enumeration
- ``hard_negative_mining``:   contrastive negatives from the ANN corpus
- ``minibatch_pack_plan``:    per-batch padding-waste accounting
- ``window_distribution_ranks``: percent_rank / cume_dist / ntile surface
- ``ts_autocorr_lag1``:       temporal self-similarity of event series

The reference (a stream-ingest engine) has none of this surface — these
are the north-star analytics extensions SURVEY.md §2.2 calls for; its
closest relative is the per-batch validation hook
(/root/reference/src/processor.rs pre-checkpoint validation), which
``k_anonymity_audit``/``snapshot_diff_cdc`` generalize to corpus-level
release gates.

Determinism contract (shared with every other module): integers and
strings wherever possible; the few doubles are single correctly-rounded
divisions of exact integer/decimal components, 6-dp-rounded on output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..persist import pin

K_ANON = 10  # minimum safe equivalence-class size

N_QUANTILE_BINS = 128
QUANTILES = ((1, 2), (19, 20), (99, 100))  # p50 / p95 / p99 as rationals
# Above this many distinct values the exact-audit branch is disabled:
# its per-value cumulative window is bounded by the value DOMAIN, and a
# continuous/unbounded column would turn it into a full-cardinality
# single-task sort. The sketch branch stays valid at any cardinality.
QUANTILE_DOMAIN_LIMIT = 1_000_000

BATCH_DOCS = 64  # documents per training mini-batch

HN_QUERIES = 10  # vec_id < 10 are the anchor vectors
HN_TOP_K = 3


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- governance ---------------------------------------------------------


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of ``documents`` over the quasi-identifier
    (lang, source): every equivalence class with its size and an
    ``at_risk`` flag for classes smaller than K=10 — the groups whose
    members a release would expose to re-identification (Sweeney's
    k-anonymity, the standard pre-release privacy gate; companion to
    ``pii_scrub``/``erasure_impact_audit`` in ``privacy.py``).

    Scale: one hash-aggregate on the quasi-id; output is O(|lang| ×
    |source|) regardless of corpus size. A 100 TB release gate runs
    exactly this shape with more quasi-id columns."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("class_size"),
        (F.count("*") < K_ANON).alias("at_risk"),
    )


def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram sketch (128 bins over integer
    cents) vs the exact discrete quantile, at p50/p95/p99 of
    ``events.value`` — the sketch-vs-truth audit for the quantile
    estimates a 100 TB profiler would ship instead of sorting.

    Everything is integer: bin width = max(range div 128, 1), the
    estimate is the upper edge of the first bin whose cumulative count
    reaches ceil(q·n) (integer ceiling via (n·qnum + qden−1) div qden),
    the exact value is the smallest cents whose running count reaches
    the same target. ``est − exact ≥ 0`` by construction (upper edge);
    the gap ≤ bin width is the sketch's error bound, reported per
    quantile.

    Scale: the per-value count table is the only corpus-scale
    aggregate (map-side combined, bounded by the value DOMAIN, not the
    row count — cents here span ~10⁵ distinct values); both cumulative
    scans run over that bounded table. The sketch itself (128 longs)
    is what merges across shards/days in production; the exact side is
    the audit you keep while the domain stays enumerable — and
    "enumerable" is now GUARDED, not assumed: ``quantile_sketch_over``
    pre-checks ``approx_count_distinct`` and drops to sketch-only
    output (exact/err columns null) above ``QUANTILE_DOMAIN_LIMIT``,
    so an unbounded-domain column can never turn the audit into a
    full-cardinality window."""
    ev = _t(spark, sf_dir, "events")
    cents_df = ev.select(
        F.floor(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return quantile_sketch_over(spark, cents_df)


def quantile_sketch_over(
    spark: SparkSession,
    cents_df: DataFrame,
    domain_limit: int = QUANTILE_DOMAIN_LIMIT,
) -> DataFrame:
    """Guarded core of ``quantile_sketch_audit`` over a one-column
    (``cents`` bigint) frame. The exact-audit branch builds a
    per-distinct-value table and scans it with a global cumulative
    window — bounded by the value DOMAIN, not the row count, which is
    only safe while the domain is enumerable. The guard measures the
    domain first (``approx_count_distinct``: one scan-light pass,
    partial-aggregated, collected as an O(1) scalar) and above
    ``domain_limit`` returns the sketch-only estimate instead, whose
    plan touches no per-value relation at all."""
    n_distinct = cents_df.agg(
        F.approx_count_distinct("cents").alias("d")
    ).collect()[0]["d"]
    if n_distinct > domain_limit:
        return _quantile_sketch_only(spark, cents_df)
    # the ONLY corpus-scale aggregate; stats + est + exact all derive
    # from it, and every reader sits inside the pinned `vals` below, so
    # it is computed once without a pin of its own (A/B: steady 0.40 →
    # 0.36 s at sf0.1, 0.43 → 0.44 s at sf1 without one)
    per_val = cents_df.groupBy("cents").agg(F.count("*").alias("cnt"))
    stats = per_val.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.sum("cnt").alias("n"),
    )
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    # A/B sf0.1 0.35→0.41 / 1.2→1.4 s, sf1 0.31→0.41 / 1.3→1.5 s
    vals = (
        per_val.join(F.broadcast(stats))
        .withColumn("cum", F.sum("cnt").over(wv))
        .withColumn(
            "width",
            F.greatest(
                F.expr(f"(hi - lo + 1) div {N_QUANTILE_BINS}"), F.lit(1)
            ),
        )
        .transform(pin)  # shared by bins (est path) and the exact path
    )
    bins = (
        vals.withColumn("bin", F.expr("(cents - lo) div width"))
        .groupBy("bin", "lo", "width", "n")
        .agg(F.sum("cnt").alias("bin_cnt"))
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    bins_cum = bins.withColumn("bin_cum", F.sum("bin_cnt").over(wb))
    qs = spark.createDataFrame(
        [(num, den) for num, den in QUANTILES], "qnum bigint, qden bigint"
    ).withColumn(
        "q_ppm", F.expr("qnum * 1000000 div qden")
    )
    target = F.expr("(n * qnum + qden - 1) div qden")
    est = (
        bins_cum.join(F.broadcast(qs))
        .filter(F.col("bin_cum") >= target)
        .groupBy("q_ppm")
        .agg(
            F.min(
                F.col("lo") + (F.col("bin") + 1) * F.col("width") - 1
            ).alias("est_cents"),
            F.first("n").alias("n_rows"),
        )
    )
    exact = (
        vals.join(F.broadcast(qs))
        .filter(F.col("cum") >= target)
        .groupBy("q_ppm")
        .agg(F.min("cents").alias("exact_cents"))
    )
    return (
        est.join(exact, "q_ppm")
        .select(
            "q_ppm",
            "n_rows",
            "est_cents",
            "exact_cents",
            (F.col("est_cents") - F.col("exact_cents")).alias("err_cents"),
        )
    )


def _quantile_sketch_only(spark: SparkSession, cents_df: DataFrame) -> DataFrame:
    """High-cardinality fallback: bin rows directly into the 128-bucket
    equi-width histogram (one corpus-scale hash-aggregate on the bin
    id, map-side combined) — no per-value table, no window over
    anything wider than the 128 bins. exact/err columns are NULL: at
    this cardinality the exact audit is exactly the plan shape the
    guard exists to refuse."""
    stats = cents_df.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count("*").alias("n"),
    )
    bins = (
        cents_df.join(F.broadcast(stats))
        .withColumn(
            "width",
            F.greatest(
                F.expr(f"(hi - lo + 1) div {N_QUANTILE_BINS}"), F.lit(1)
            ),
        )
        .withColumn("bin", F.expr("(cents - lo) div width"))
        .groupBy("bin", "lo", "width", "n")
        .agg(F.count("*").alias("bin_cnt"))
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    bins_cum = bins.withColumn("bin_cum", F.sum("bin_cnt").over(wb))
    qs = spark.createDataFrame(
        [(num, den) for num, den in QUANTILES], "qnum bigint, qden bigint"
    ).withColumn("q_ppm", F.expr("qnum * 1000000 div qden"))
    target = F.expr("(n * qnum + qden - 1) div qden")
    return (
        bins_cum.join(F.broadcast(qs))
        .filter(F.col("bin_cum") >= target)
        .groupBy("q_ppm")
        .agg(
            F.min(
                F.col("lo") + (F.col("bin") + 1) * F.col("width") - 1
            ).alias("est_cents"),
            F.first("n").alias("n_rows"),
        )
        .select(
            "q_ppm",
            "n_rows",
            "est_cents",
            F.lit(None).cast("bigint").alias("exact_cents"),
            F.lit(None).cast("bigint").alias("err_cents"),
        )
    )


def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed diff between two simulated versions of ``orders`` — the
    CDC/snapshot-reconciliation job every incremental pipeline runs to
    turn "two table states" into "a change feed": per change class
    (added / deleted / changed / unchanged) the row count, key span,
    and total absolute price drift.

    Version rule (deterministic, engine-portable): the OLD snapshot
    lacks keys ≡3 (mod 10) — later arrivals; the NEW snapshot drops
    keys ≡5 (mod 13) — erasures — and reprices keys ≡0 (mod 7) by
    +5% (integer cents + cents div 20).

    Scale: ONE full outer join co-partitioned on the key — the exact
    shape a 100 TB snapshot diff wants (sort-merge, both sides
    pruned to key + compared columns, no driver state); the change
    classification is a scan-local CASE over the join output and the
    rollup is a 4-group aggregate."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    old = orders.filter(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("key"),
        cents.alias("old_cents"),
        F.col("o_orderstatus").alias("old_status"),
    )
    new = (
        orders.filter(F.col("o_orderkey") % 13 != 5)
        .select(
            F.col("o_orderkey").alias("key"),
            F.when(
                F.col("o_orderkey") % 7 == 0,
                cents + F.expr("cast(floor(o_totalprice * 100) as bigint) div 20"),
            )
            .otherwise(cents)
            .alias("new_cents"),
            F.col("o_orderstatus").alias("new_status"),
        )
    )
    j = old.join(new, "key", "full_outer")
    cls = (
        F.when(F.col("old_cents").isNull(), F.lit("added"))
        .when(F.col("new_cents").isNull(), F.lit("deleted"))
        .when(
            (F.col("old_cents") != F.col("new_cents"))
            | (F.col("old_status") != F.col("new_status")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("change_type", cls)
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("key").alias("min_key"),
            F.max("key").alias("max_key"),
            F.sum(
                F.abs(
                    F.coalesce(F.col("new_cents"), F.lit(0))
                    - F.coalesce(F.col("old_cents"), F.lit(0))
                )
            ).alias("abs_delta_cents"),
        )
    )


# --- graph --------------------------------------------------------------


def triangle_count_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the international trade graph: nations
    are nodes, an undirected edge connects two distinct nations whose
    customer→supplier trade revenue reaches the median edge revenue
    (data-dependent threshold — scale-factor neutral), and the output
    is every triangle (three mutually-trading nations) as an ordered
    (a < b < c) name triple. Companion to ``pagerank_nation_trade``
    (same graph, global structure instead of centrality).

    Scale: revenue aggregation is the only corpus-scale work — the
    orders⋈lineitem join keyed on orderkey with nation dimensions
    broadcast, partial-aggregated to ≤ |nations|² rows. Everything
    after (median cut, the two wedge-closing self-joins) runs on that
    tiny edge relation via broadcasts; the classic distributed
    triangle algorithm (node-order wedge counting) appears here as
    a < b < c join conditions, which also dedups rotations for free."""
    orders = _t(spark, sf_dir, "orders")
    # r13 quiet-host re-A/B: batch-3 fan-out REVERTED (0.71 unfanned
    # vs 1.26 fanned) — the broadcast probes are too light to pay for
    # round-robin-exchanging the 600k raw rows
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    cn = cust.join(
        F.broadcast(nation),
        cust.c_nationkey == nation.n_nationkey,
    ).select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    sn = supp.join(
        F.broadcast(nation),
        supp.s_nationkey == nation.n_nationkey,
    ).select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    rev_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    flows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cn), orders.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .select(
            F.least("cust_nation", "supp_nation").alias("na"),
            F.greatest("cust_nation", "supp_nation").alias("nb"),
            rev_cents.alias("rev"),
        )
        .groupBy("na", "nb")
        .agg(F.sum("rev").alias("rev_cents"))
    )
    # total order: revenue ties (possible in principle, though summed
    # cents make them vanishingly rare) must not let the two engines
    # cut different edge sets at the median
    wmed = Window.orderBy("rev_cents", "na", "nb")
    wn = Window.partitionBy()
    ranked = flows.withColumn("rk", F.row_number().over(wmed)).withColumn(
        "n_edges", F.count("*").over(wn)
    )
    edges = ranked.filter(
        F.col("rk") >= (F.col("n_edges") + 1) / 2  # upper median half
    ).select("na", "nb")
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(
            F.broadcast(e2), F.col("e1.nb") == F.col("e2.na")
        )
        .join(
            F.broadcast(e3),
            (F.col("e1.na") == F.col("e3.na"))
            & (F.col("e2.nb") == F.col("e3.nb")),
        )
        .select(
            F.col("e1.na").alias("nation_a"),
            F.col("e1.nb").alias("nation_b"),
            F.col("e2.nb").alias("nation_c"),
        )
    )


# --- training prep ------------------------------------------------------


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining over ``embeddings``: for each
    anchor vector (vec_id < 10), the top-3 most cosine-similar vectors
    whose ``label`` DIFFERS from the anchor's — the near-miss negatives
    a contrastive/embedding training run pairs with each anchor
    (random negatives are too easy; hard ones carry the gradient).

    Same deterministic fold arithmetic and broadcast-anchor plan as
    ``similarity_topk`` (one candidate scan, per-anchor window top-k,
    no global sort); the label inequality is an extra scan-local
    predicate, so the cost is identical to plain top-k. At 100 TB the
    candidate scan swaps in the LSH/IVF bucket join from
    ``similarity.py`` unchanged."""
    from .similarity import _emb, _dot, _with_norm

    emb = _with_norm(_emb(spark, sf_dir))
    q = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("label").alias("q_label"),
    ).filter(F.col("q_id") < HN_QUERIES)
    pairs = emb.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("q_id"))
        & (F.col("label") != F.col("q_label")),
    )
    scored = pairs.withColumn(
        "cos_sim_raw",
        _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm")),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim_raw"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HN_TOP_K)
        .select(
            "q_id",
            "vec_id",
            F.round("cos_sim_raw", 6).alias("cos_sim"),
            "rk",
        )
    )


def minibatch_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training mini-batch assignment with padding-waste accounting:
    within each language stratum, documents are shuffled by content
    hash (reproducible on any engine/partitioning — the same argument
    as ``sampling.py``), packed into fixed-size batches of 64, and
    each batch reports its size, total characters, the longest member,
    and ``padding_chars`` = max·n − Σ — the waste a fixed-shape tensor
    batch pays, THE number a length-bucketing scheduler minimizes.

    Scale: one window rank per language stratum (the shuffle is keyed
    on lang; mega-strata get the same salted two-phase treatment as
    ``skew.py``) and one batch-keyed aggregate. The output is
    O(docs/64) rows — itself the batch manifest a trainer would
    consume."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    w = Window.partitionBy("lang").orderBy("bucket", "doc_id")
    assigned = (
        docs.select("lang", "doc_id", "n_chars", bucket.alias("bucket"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("batch_idx", F.expr(f"(rn - 1) div {BATCH_DOCS}"))
    )
    return assigned.groupBy("lang", "batch_idx").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.max("n_chars").alias("max_chars"),
        (
            F.max("n_chars") * F.count("*") - F.sum("n_chars")
        ).alias("padding_chars"),
        F.min("doc_id").alias("first_doc_id"),
    )


# --- point-in-time correctness ------------------------------------------

PIT_FACT_MOD = 17  # event_id % 17 == 0 are the label/fact events
PIT_CUTOFFS = ("2024-01-10", "2024-01-20", "2024-02-01")


def pit_join_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the feature-store primitive that prevents
    label leakage: each fact event is enriched with the user status
    that was valid AT its event time (never a later one). Facts are
    the deterministic event_id % 17 slice; the dimension is the user's
    status-change stream (the same change rows ``scd2_user_status``
    compacts into intervals).

    Plan (the 100 TB shape): NOT a range join — dimension changes and
    facts are UNIONED and a single per-user window carries the last
    non-null status forward (LOCF), so the whole operator is ONE
    shuffle on user_id with no interval-containment join at all; the
    classic union-then-carry as-of algorithm. Boundary convention: a
    status change at exactly the fact's timestamp applies (change rows
    sort before fact rows on ties), matching SCD-2 ``valid_from ≤ ts``
    containment.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            (F.col("prev_type").isNull())
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            F.lit(None).cast("bigint").alias("event_id"),
            "user_id",
            "ts",
            F.lit(None).cast("string").alias("event_type"),
            F.col("event_type").alias("status"),
            F.lit(0).alias("pri"),
            F.col("event_id").alias("order_id"),
        )
    )
    facts = ev.filter(F.col("event_id") % PIT_FACT_MOD == 0).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.lit(None).cast("string").alias("status"),
        F.lit(1).alias("pri"),
        F.col("event_id").alias("order_id"),
    )
    wl = (
        Window.partitionBy("user_id")
        .orderBy("ts", "pri", "order_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = changes.unionByName(facts).withColumn(
        "pit_status", F.last("status", ignorenulls=True).over(wl)
    )
    return carried.filter(F.col("pri") == 1).select(
        "event_id", "user_id", "ts", "event_type", "pit_status"
    )


def pit_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-cutoff training-snapshot generation: per user and
    training cutoff date, the features a model trained at that cutoff
    may legally see — event count, spend cents, and latest status
    strictly BEFORE the cutoff. Three snapshots in ONE pass: every
    as-of aggregate is a conditional expression inside a single
    per-user hash aggregate (no per-cutoff rescan, no events×cutoffs
    blowup), then the 3 snapshot columns unpivot with ``stack``.

    The as-of status is ``max_by`` over a zero-padded (ts, event_id)
    string key — total order, engine-portable (both engines resolve
    max_by on the identical key). Scale: one shuffle keyed on user_id,
    output = 3·|users| rows."""
    ev = _t(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    base = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        key.alias("ord_key"),
    )
    aggs = []
    for i, cut in enumerate(PIT_CUTOFFS):
        before = F.col("ts") < F.lit(cut).cast("timestamp")
        aggs += [
            F.sum(before.cast("bigint")).alias(f"n_{i}"),
            F.coalesce(
                F.sum(F.when(before, F.col("cents"))), F.lit(0)
            ).alias(f"spend_{i}"),
            F.max_by(
                F.when(before, F.col("event_type")),
                F.when(before, F.col("ord_key")),
            ).alias(f"status_{i}"),
        ]
    per_user = base.groupBy("user_id").agg(*aggs)
    stack_expr = "stack(%d, %s) AS (cutoff_date, n_events, spend_cents, last_status)" % (
        len(PIT_CUTOFFS),
        ", ".join(
            f"'{cut}', n_{i}, spend_{i}, status_{i}"
            for i, cut in enumerate(PIT_CUTOFFS)
        ),
    )
    return per_user.selectExpr("user_id", stack_expr)


# --- relational/window surface ------------------------------------------


def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank trio — percent_rank / cume_dist / ntile(4) —
    over ``orders`` partitioned by order priority, reported for a
    deterministic key sample (ranks are computed over FULL partitions;
    only the output rows are sampled, so the sample doesn't bias the
    ranks).

    NOT a `Window.partitionBy(priority)` plan: the priority key has
    cardinality 5, so a native window would sort ~20% of the corpus in
    a single task each — five multi-terabyte single-task sorts at
    100 TB. Instead this is the two-phase distributed rank (same
    prefix-sum shape as ``interval_concurrency_peak``):

      1. bucket the order column into fixed-width value ranges
         (order-preserving: ``price_cents div 2^16`` → ~900 buckets per
         priority at TPC-H price domain, width tunable independently of
         corpus size), and row_number WITHIN (priority, bucket) — each
         sort is bounded by one value-range slice, ~4.5k parallel cells
         instead of 5;
      2. aggregate per-cell counts (tiny: priorities × buckets rows),
         prefix-sum them into cumulative offsets + per-priority totals
         on that bounded relation, and broadcast back.

    Global rank = offset + within-bucket row_number. Because the full
    order key (price_cents, o_orderkey) is unique, rank == row_number
    and peers == 1, so percent_rank = (rn−1)/(n−1) and cume_dist =
    rn/n exactly — each one correctly-rounded double division on
    integer inputs, bitwise-equal to the native window / DuckDB.
    ntile(4) is reconstructed from (rn, n) with the SQL-standard
    first-(n mod 4)-tiles-get-the-extra-row rule, pure integer
    arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        "o_orderkey",
        "o_orderpriority",
        cents.alias("price_cents"),
    ).withColumn("vb", F.expr("price_cents div 65536"))
    w_in = Window.partitionBy("o_orderpriority", "vb").orderBy(
        "price_cents", "o_orderkey"
    )
    inner = base.withColumn("rn_in", F.row_number().over(w_in))
    counts = base.groupBy("o_orderpriority", "vb").agg(F.count("*").alias("c"))
    w_off = (
        Window.partitionBy("o_orderpriority")
        .orderBy("vb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("o_orderpriority")
    offsets = counts.select(
        "o_orderpriority",
        "vb",
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
        F.sum("c").over(w_tot).alias("n"),
    )
    ranked = (
        inner.join(F.broadcast(offsets), ["o_orderpriority", "vb"])
        .filter(F.col("o_orderkey") % 199 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "price_cents",
            (F.col("off") + F.col("rn_in")).alias("rn"),
            "n",
        )
    )
    return ranked.selectExpr(
        "o_orderkey",
        "o_orderpriority",
        "price_cents",
        "round(CASE WHEN n > 1 THEN (rn - 1) / CAST(n - 1 AS DOUBLE)"
        " ELSE 0.0 END, 6) AS pr",
        "round(rn / CAST(n AS DOUBLE), 6) AS cd",
        "CAST(CASE WHEN rn <= (n % 4) * ((n div 4) + 1)"
        " THEN (rn - 1) div ((n div 4) + 1) + 1"
        " ELSE (n % 4) + (rn - (n % 4) * ((n div 4) + 1) - 1) div (n div 4) + 1"
        " END AS INT) AS tile",
    )


# --- time series --------------------------------------------------------


def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1-hour autocorrelation per event type: how strongly each
    type's hourly spend predicts its next hour — the temporal
    self-similarity companion to ``ts_profile_correlation`` (which
    correlates across types). High autocorrelation justifies the
    forecasting/gap-fill operators; low means the series is noise at
    this resolution.

    Integer-exact until the last step: hourly sums in cents (bigint),
    Pearson components on decimal(38,0) (hour-sum products overflow
    int64 past ~10⁹-row series — same silent-wrap hazard fixed in
    ``ts_cusum_shift``), one double division at the end, 6-dp output.

    Scale: ONE corpus-scale aggregate to (type, hour) — O(types ×
    hours) rows — then a self-join on hour+1 over that bounded
    relation and a per-type fold. The join is broadcast at any
    realistic series count."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hr"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    a = hourly.select(
        "event_type", "hr", F.col("cents").alias("x")
    )
    b = hourly.select(
        F.col("event_type").alias("event_type_b"),
        (F.col("hr") - 1).alias("hr_b"),
        F.col("cents").alias("y"),
    )
    joined = a.join(
        F.broadcast(b),
        (F.col("event_type") == F.col("event_type_b"))
        & (F.col("hr") == F.col("hr_b")),
    )
    d38 = "decimal(38,0)"
    agg = joined.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38)).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38)).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y").cast(d38)).alias("syy"),
    )
    n = F.col("n_pairs").cast(d38)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return agg.select(
        "event_type",
        "n_pairs",
        F.round(F.when(den != 0.0, num / den), 6).alias("autocorr_r"),
    )


QUERIES = {
    "k_anonymity_audit": k_anonymity_audit,
    "quantile_sketch_audit": quantile_sketch_audit,
    "snapshot_diff_cdc": snapshot_diff_cdc,
    "triangle_count_nations": triangle_count_nations,
    "hard_negative_mining": hard_negative_mining,
    "minibatch_pack_plan": minibatch_pack_plan,
    "window_distribution_ranks": window_distribution_ranks,
    "ts_autocorr_lag1": ts_autocorr_lag1,
    "pit_join_user_status": pit_join_user_status,
    "pit_feature_matrix": pit_feature_matrix,
}


# --- oracle SQL ---------------------------------------------------------


def _hn_oracle() -> str:
    from .similarity import _DOT, _EMB_D, _NORM

    return f"""
    WITH e AS (
        SELECT vec_id, {_EMB_D} AS emb, label FROM embeddings
    ),
    en AS (
        SELECT vec_id, emb, label, {_NORM.format(a='emb')} AS norm FROM e
    )
    SELECT q_id, vec_id, round(c, 6) AS cos_sim, rk FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               {_DOT.format(a='q.emb', b='c.emb')} / (q.norm * c.norm) AS c,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_DOT.format(a='q.emb', b='c.emb')} / (q.norm * c.norm) DESC,
                            c.vec_id ASC) AS rk
        FROM en q JOIN en c
          ON q.vec_id < {HN_QUERIES} AND c.vec_id <> q.vec_id
         AND c.label <> q.label
    ) WHERE rk <= {HN_TOP_K}
    """


ORACLE = {
    "k_anonymity_audit": f"""
        SELECT lang, source, count(*) AS class_size,
               count(*) < {K_ANON} AS at_risk
        FROM documents GROUP BY lang, source
    """,
    "quantile_sketch_audit": f"""
        WITH per_val AS (
            SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                   count(*) AS cnt
            FROM events GROUP BY 1
        ),
        stats AS (
            SELECT min(cents) AS lo, max(cents) AS hi, CAST(sum(cnt) AS BIGINT) AS n
            FROM per_val
        ),
        vals AS (
            SELECT cents, cnt, lo, hi, n,
                   CAST(sum(cnt) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                   greatest((hi - lo + 1) // {N_QUANTILE_BINS}, 1) AS width
            FROM per_val, stats
        ),
        bins AS (
            SELECT (cents - lo) // width AS bin, lo, width, n,
                   CAST(sum(cnt) AS BIGINT) AS bin_cnt
            FROM vals GROUP BY 1, 2, 3, 4
        ),
        bins_cum AS (
            SELECT *, CAST(sum(bin_cnt) OVER (ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS bin_cum
            FROM bins
        ),
        qs AS (
            SELECT * FROM (VALUES {', '.join(f'({num}, {den})' for num, den in QUANTILES)})
                 AS t(qnum, qden)
        ),
        est AS (
            SELECT CAST(qnum * 1000000 // qden AS BIGINT) AS q_ppm,
                   CAST(min(lo + (bin + 1) * width - 1) AS BIGINT) AS est_cents,
                   any_value(n) AS n_rows
            FROM bins_cum, qs
            WHERE bin_cum >= (n * qnum + qden - 1) // qden
            GROUP BY 1
        ),
        exact AS (
            SELECT CAST(qnum * 1000000 // qden AS BIGINT) AS q_ppm,
                   CAST(min(cents) AS BIGINT) AS exact_cents
            FROM vals, qs
            WHERE cum >= (n * qnum + qden - 1) // qden
            GROUP BY 1
        )
        SELECT est.q_ppm, n_rows, est_cents, exact_cents,
               CAST(est_cents - exact_cents AS BIGINT) AS err_cents
        FROM est JOIN exact ON est.q_ppm = exact.q_ppm
    """,
    "snapshot_diff_cdc": """
        WITH old AS (
            SELECT o_orderkey AS key,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS old_cents,
                   o_orderstatus AS old_status
            FROM orders WHERE o_orderkey % 10 <> 3
        ),
        new AS (
            SELECT o_orderkey AS key,
                   CASE WHEN o_orderkey % 7 = 0
                        THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                             + CAST(floor(o_totalprice * 100) AS BIGINT) // 20
                        ELSE CAST(floor(o_totalprice * 100) AS BIGINT)
                   END AS new_cents,
                   o_orderstatus AS new_status
            FROM orders WHERE o_orderkey % 13 <> 5
        ),
        j AS (
            SELECT coalesce(old.key, new.key) AS key,
                   old_cents, old_status, new_cents, new_status
            FROM old FULL OUTER JOIN new ON old.key = new.key
        )
        SELECT CASE WHEN old_cents IS NULL THEN 'added'
                    WHEN new_cents IS NULL THEN 'deleted'
                    WHEN old_cents <> new_cents
                         OR old_status <> new_status THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               count(*) AS n_rows,
               min(key) AS min_key,
               max(key) AS max_key,
               CAST(sum(abs(coalesce(new_cents, 0) - coalesce(old_cents, 0)))
                   AS BIGINT) AS abs_delta_cents
        FROM j GROUP BY 1
    """,
    "triangle_count_nations": """
        WITH flows AS (
            SELECT least(cn.n_name, sn.n_name) AS na,
                   greatest(cn.n_name, sn.n_name) AS nb,
                   sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS rev_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE cn.n_name <> sn.n_name
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT na, nb,
                   row_number() OVER (ORDER BY rev_cents, na, nb) AS rk,
                   count(*) OVER () AS n_edges
            FROM flows
        ),
        edges AS (
            SELECT na, nb FROM ranked
            WHERE rk >= (n_edges + 1) / 2.0
        )
        SELECT e1.na AS nation_a, e1.nb AS nation_b, e2.nb AS nation_c
        FROM edges e1
        JOIN edges e2 ON e1.nb = e2.na
        JOIN edges e3 ON e1.na = e3.na AND e2.nb = e3.nb
    """,
    "hard_negative_mining": _hn_oracle(),
    "pit_join_user_status": f"""
        WITH ev AS (
            SELECT event_id, user_id, ts, event_type FROM events
        ),
        changes AS (
            SELECT CAST(NULL AS BIGINT) AS event_id, user_id, ts,
                   CAST(NULL AS VARCHAR) AS event_type,
                   event_type AS status, 0 AS pri, event_id AS order_id
            FROM (
                SELECT *, lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) AS prev_type
                FROM ev
            )
            WHERE prev_type IS NULL OR prev_type <> event_type
        ),
        facts AS (
            SELECT event_id, user_id, ts, event_type,
                   CAST(NULL AS VARCHAR) AS status, 1 AS pri,
                   event_id AS order_id
            FROM ev WHERE event_id % {PIT_FACT_MOD} = 0
        ),
        u AS (SELECT * FROM changes UNION ALL SELECT * FROM facts),
        carried AS (
            SELECT *, last_value(status IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts, pri, order_id
                ROWS UNBOUNDED PRECEDING
            ) AS pit_status
            FROM u
        )
        SELECT event_id, user_id, ts, event_type, pit_status
        FROM carried WHERE pri = 1
    """,
    "pit_feature_matrix": f"""
        WITH base AS (
            SELECT user_id, ts, event_type,
                   CAST(floor(value * 100) AS BIGINT) AS cents,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 10, '0') AS ord_key
            FROM events
        ),
        per_user AS (
            SELECT user_id,
                   {", ".join(
                       f"CAST(sum(CASE WHEN ts < TIMESTAMP '{cut}' "
                       f"THEN 1 ELSE 0 END) AS BIGINT) AS n_{i}, "
                       f"CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '{cut}' "
                       f"THEN cents END), 0) AS BIGINT) AS spend_{i}, "
                       f"max_by(CASE WHEN ts < TIMESTAMP '{cut}' "
                       f"THEN event_type END, "
                       f"CASE WHEN ts < TIMESTAMP '{cut}' "
                       f"THEN ord_key END) AS status_{i}"
                       for i, cut in enumerate(PIT_CUTOFFS)
                   )}
            FROM base GROUP BY user_id
        )
        {" UNION ALL ".join(
            f"SELECT user_id, '{cut}' AS cutoff_date, n_{i} AS n_events, "
            f"spend_{i} AS spend_cents, status_{i} AS last_status "
            f"FROM per_user"
            for i, cut in enumerate(PIT_CUTOFFS)
        )}
    """,
    "minibatch_pack_plan": f"""
        WITH assigned AS (
            SELECT lang, doc_id, n_chars,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS bucket
            FROM documents
        ),
        rn AS (
            SELECT lang, doc_id, n_chars,
                   (row_number() OVER (PARTITION BY lang
                        ORDER BY bucket, doc_id) - 1) // {BATCH_DOCS}
                       AS batch_idx
            FROM assigned
        )
        SELECT lang, batch_idx, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               max(n_chars) AS max_chars,
               CAST(max(n_chars) * count(*) - sum(n_chars) AS BIGINT)
                   AS padding_chars,
               min(doc_id) AS first_doc_id
        FROM rn GROUP BY 1, 2
    """,
    "window_distribution_ranks": """
        WITH base AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders
        ),
        ranked AS (
            SELECT o_orderkey, o_orderpriority, price_cents,
                   round(percent_rank() OVER w, 6) AS pr,
                   round(cume_dist() OVER w, 6) AS cd,
                   ntile(4) OVER w AS tile
            FROM base
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY price_cents, o_orderkey)
        )
        SELECT * FROM ranked WHERE o_orderkey % 199 = 0
    """,
    "ts_autocorr_lag1": """
        WITH hourly AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
                   sum(CAST(floor(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY 1, 2
        ),
        joined AS (
            SELECT a.event_type,
                   CAST(a.cents AS DECIMAL(38,0)) AS x,
                   CAST(b.cents AS DECIMAL(38,0)) AS y
            FROM hourly a JOIN hourly b
              ON a.event_type = b.event_type AND a.hr = b.hr - 1
        ),
        agg AS (
            SELECT event_type, count(*) AS n_pairs,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM joined GROUP BY 1
        )
        SELECT event_type, n_pairs,
               round(CASE WHEN
                   sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxx - sx * sx
                             AS DOUBLE)
                        * CAST(CAST(n_pairs AS DECIMAL(38,0)) * syy - sy * sy
                               AS DOUBLE)) <> 0.0
                   THEN CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxy - sx * sy
                             AS DOUBLE)
                        / sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxx
                                    - sx * sx AS DOUBLE)
                               * CAST(CAST(n_pairs AS DECIMAL(38,0)) * syy
                                      - sy * sy AS DOUBLE))
               END, 6) AS autocorr_r
        FROM agg
    """,
}
