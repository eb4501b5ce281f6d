"""Deduplication suite over ``documents`` — LLM-training-pipeline
operators designed for 100 TB scale (north-star extension; absent from
the reference, SURVEY.md §2.2 last row).

All four strategies are pure DataFrame compositions (no Python UDFs):

- exact:        hash-groupBy on sha256(text)
- minhash_lsh:  shingle → minhash signature → banded LSH buckets →
                candidate pairs → exact jaccard verify
- simhash:      per-token signed bit votes → 16-bit signature clusters
- ngram_jaccard: exact jaccard over shared-shingle candidate pairs
                 (with a document-frequency cap on hot shingles so the
                 candidate join stays bounded under skew)

Scale notes: every stage is shuffle-on-key (doc_id, shingle hash, band
key); nothing collects to the driver. The LSH band join is the classic
distributed near-dup path: candidates ∝ true near-dups, not n².
Hot-key skew in the shingle join is capped by MAX_DOC_FREQ (mirrored in
the oracle SQL so results stay bit-identical).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashes as H
from ..io import fan_out_narrow, load_table
from ..persist import pin
from .simjoin import prefix_pairs, rarity_prefix

JACCARD_THRESHOLD = 0.5  # minhash verify threshold
NGRAM_THRESHOLD = 0.3  # exact n-gram jaccard report threshold
MAX_DOC_FREQ = 100  # hot-shingle cap for the exact candidate join
MIN_SHARED_SHINGLES = 2  # candidate policy: pairs must share ≥2 capped shingles
SIMHASH_BITS = 16


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- exact --------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle keyed on the content hash; canonical =
    min doc_id per group (deterministic survivor choice)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("text_sha", F.sha2(F.col("text"), 256))
        .groupBy("text_sha")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )


# --- shared shingle-hash relation --------------------------------------


def _shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, hs: array<long>) — ``H.shingle_hashes_col`` kept as ONE
    array per document; the exploded relation is derived from this
    when a per-shingle join is genuinely needed (candidate
    generation)."""
    return fan_out_narrow(docs).select(
        "doc_id", H.shingle_hashes_col(F.col("text")).alias("hs")
    )


def _pair_jaccard(cand: DataFrame, arrs: DataFrame) -> DataFrame:
    """Exact jaccard for candidate (doc_a, doc_b) pairs: join the pair
    list against the per-doc shingle-array dictionary and intersect the
    arrays in-row.

    Scale note: this replaces a candidates×shingles exploded join
    (|cand|·~50 rows through two shuffles) with two joins that carry one
    array per row. The dictionary is first semi-joined down to only the
    docs that appear in a candidate pair (∝ near-dups, not corpus size).
    The join strategy is left to AQE: every caller keeps pair lists ∝
    true near-dups (LSH bands / the intersection-bound prune), where
    AQE's runtime broadcast conversion is right at every measured sf
    (on the sf10 fourth decade, 600k docs) and forcing SHJ is a flat
    ~0.6 s tax (0.27→0.80 s at sf1, 0.30→0.93 s at sf10) for two
    shuffles of a dictionary a broadcast carries for free. A caller
    that ships a corpus-scale pair relation would want the
    ``shuffle_hash`` hint on the dictionary sides instead: sort-merge
    — Spark's default once the dict outgrows a broadcast — re-sorts
    the array-carrying pair relation: measured SMJ 20.7 s vs SHJ
    10.5 s warm at sf10 on the pre-prune 11.2M-pair formulation."""
    # materialize: cand (the expensive candidate-generation join)
    # feeds the two semi-join branches AND the verify join — left lazy
    # the whole upstream recomputes three times
    # A/B (dedup_minhash_lsh) sf0.1 0.07→0.47 / 3.7→4.7 s, sf1 0.16→3.13 / 32.6→37.4 s
    cand = cand.transform(pin)
    # no .distinct(): the left-semi join dedups by construction, and
    # skipping it saves a full shuffle of the pair list
    docs_in_play = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    # materialize the reduced dictionary: ∝ docs-in-near-dup-pairs
    # (KB to MB at any corpus size), both pair sides consume it — left
    # lazy it would rescan + reshingle the corpus twice
    # A/B (dedup_minhash_lsh) sf0.1 0.05→0.09 / 2.5→2.3 s, sf1 0.12→0.27 / 23.4→21.8 s
    dict_small = arrs.join(docs_in_play, "doc_id", "left_semi").transform(pin)
    a = dict_small.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")
    )
    b = dict_small.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard_raw",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
            / F.size(F.array_union("hs_a", "hs_b")),
        )
    )


# --- minhash + LSH ------------------------------------------------------


def _lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band bucket."""
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_key"
    )
    b_ = bands.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_key"
    )
    return (
        a.join(b_, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection: 16 minhashes, 4 bands × 4 rows
    (catches jaccard ≳ 0.5 with high probability), banded bucket join
    for candidates, exact jaccard verification ≥ 0.5."""
    docs = _docs(spark, sf_dir)
    # A/B (dedup_minhash_lsh) sf0.1 0.05→0.05 / 3.1→15.0 s
    arrs = _shingle_arrays(docs).transform(pin)
    cand = _lsh_candidate_pairs(H.minhash_bands(arrs, "hs"))
    jac = _pair_jaccard(cand, arrs)
    return jac.filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


# --- simhash ------------------------------------------------------------


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash clustering: each distinct token votes ±1 on 16 bit
    channels; the sign vector packs into a 16-bit signature; identical
    signatures form a dup cluster. One groupBy(doc) + one groupBy(sig).
    """
    docs = _docs(spark, sf_dir)
    # distinct token hashes as one array per doc; the ±1 bit votes are
    # integer folds over that array — order-insensitive, zero shuffles
    # before the final signature groupBy (vs explode+distinct+groupBy)
    # r13 (guide §1.2): dedup tokens BEFORE the per-char hash fold —
    # repeated in-doc tokens paid the interpreted O(len) fold per
    # INSTANCE (2.3x fewer folds on this corpus; measured ~5% here
    # because the tokenize split dominates, grows with repetition).
    # distinct(hash(distinct(toks))) == distinct(hash(toks))
    # (dedup of hashes of a dedup'd set loses nothing, and the outer
    # distinct still merges hash collisions exactly as before).
    # r13 quiet-host re-A/B: fan-out REVERTED (0.59 vs 0.77 fanned).
    th = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.array_distinct(H.tokens_col(F.col("text"))),
                H.char_hash_col,
            )
        ).alias("ths"),
    ).filter(F.size("ths") > 0)
    # r13 (guide §4.1/§2.3): the r12 form ran 32 interpreted HOF passes
    # per document (one transform + one aggregate fold per bit channel
    # — higher-order lambdas do not whole-stage-codegen). Exploding the
    # distinct token hashes once and summing 16 codegen'd affine
    # expressions computes the identical integer votes with compiled
    # arithmetic; the groupBy(doc_id) partial aggregate completes
    # map-side (every doc lives in one input row), so the exchange
    # carries one 17-long row per document at any scale.
    tok = th.select("doc_id", F.explode("ths").alias("t"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum((H.affine_col(F.col("t"), j) % 2) * 2 - 1).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig_expr = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sig_expr = bit if sig_expr is None else sig_expr + bit
    sigs = votes.select("doc_id", sig_expr.cast("bigint").alias("simhash"))
    return sigs.groupBy("simhash").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_members")
    )


# --- exact n-gram jaccard ----------------------------------------------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram jaccard: candidates = pairs sharing ≥2 (frequency-
    capped) shingles, then exact jaccard ≥ 0.3. The df-cap bounds the
    per-shingle pair blowup (skew control at scale); the ≥2 shared-
    shingle policy prunes the one-coincidental-shingle flood before the
    exact verify (a 0.3-jaccard pair of ~50-shingle docs shares ~20+
    shingles, so real matches always survive). Both knobs are mirrored
    in the oracle SQL.

    Verify-input prune (round 7, zero false negatives by theorem): the
    intersection of a candidate pair is bounded above by
    ``n_shared + min(hot_a, hot_b)`` — ``n_shared`` counts ALL shared
    shingles whose posting survived the df-cap (the pair expansion
    enumerates every pair in every retained posting), and the only
    shared shingles it misses live in capped-away hot postings, of
    which doc x carries ``hot_x``. With τ = 0.3, ``jaccard ≥ τ  ⟺
    13·i ≥ 3·(|A|+|B|)`` in exact integers, so any pair whose BOUND
    fails the inequality cannot reach the threshold and is dropped
    before the array join. Measured at sf10 (600k docs): 11.2M
    candidates → 25.6k verify pairs (0.23%), turning the verify stage
    from a 9 GB array shuffle into one ∝ true near-matches — which is
    also why the dictionary join downstream is broadcast-sized again
    at every measured scale. The oracle needs no mirror: pruned pairs
    fail the ≥ τ filter identically."""
    docs = _docs(spark, sf_dir)
    # A/B sf0.1 0.09→0.08 / 8.1→26.3 s
    arrs = _shingle_arrays(docs).transform(pin)
    sh = arrs.select("doc_id", F.explode("hs").alias("shash"))
    # one shuffle builds the inverted index; the df-cap becomes a size()
    # filter on the posting list (no separate df aggregation + re-join),
    # and pairs expand in-row from the sorted list instead of a
    # self-join + distinct over the exploded relation: 2 shuffles total
    # (groupBy + distinct) where the join formulation needs 4
    postings = (
        sh.groupBy("shash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= MAX_DOC_FREQ))
    )
    pairs = postings.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda x, i: F.transform(
                        F.slice(F.col("ds"), i + F.lit(2), F.size("ds") - i - 1),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    )
    # shared-shingle count ≥2 — the groupBy replaces the distinct (same
    # single shuffle) and the HAVING prunes the exact-verify input ~100×
    cand = (
        pairs.groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED_SHINGLES)
    )
    # intersection upper bound (docstring theorem): per-doc hot-shingle
    # counts come from a count-shaped aggregate (map-side partials, no
    # lists) + an equi-join back over the exploded relation — hot
    # shingles are rare by definition, so AQE broadcasts hot_keys
    hot_keys = (
        sh.groupBy("shash")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > MAX_DOC_FREQ)
        .select("shash")
    )
    hot_n = (
        sh.join(hot_keys, "shash")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hot"))
    )
    sizes = (
        arrs.select("doc_id", F.size("hs").alias("n"))
        .join(hot_n, "doc_id", "left")
        .fillna(0, ["hot"])
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        F.col("hot").alias("hot_a"),
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.col("hot").alias("hot_b"),
    )
    # τ = 3/10 exactly, so jaccard ≥ τ ⟺ (10+3)·i ≥ 3·(|A|+|B|) in
    # pure integers; testing the bound i_ub instead of i only ever
    # KEEPS extra pairs — never drops a qualifying one
    i_ub = F.col("n_shared") + F.least("hot_a", "hot_b")
    verify = (
        cand.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(F.lit(13) * i_ub >= F.lit(3) * (F.col("n_a") + F.col("n_b")))
        .select("doc_a", "doc_b")
    )
    # verify input is ∝ true near-matches after the bound prune, so the
    # dictionary join is broadcast-sized again (no hint; AQE converts)
    jac = _pair_jaccard(verify, arrs)
    return jac.filter(F.col("jaccard_raw") >= NGRAM_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


# --- connected components over the near-dup pair graph ------------------

# min-label rounds before escalating to the O(log n) star path. Real
# near-dup chains converge in 3-6 rounds across every measured decade
# (SCALE.md r11), so 16 is a 3-5x margin; past it the graph is
# abnormal and each further min-label round is a wasted corpus-scale
# join — escalation produces the identical labels (soundness proof in
# _star_components) at O(log n) rounds instead. r11: was 50, which
# made a deep graph pay 50 dead joins before the escalation kicked in.
MAX_CC_ITERS = 16


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH
    pair graph — the step that turns pairwise matches into keep-one-
    per-cluster decisions (survivor = min doc_id = the component label).

    Min-label propagation to fixpoint: each round every node takes the
    min of its own and its neighbors' labels (one join + one groupBy
    per round); lineage is truncated per round with localCheckpoint.
    Rounds needed = graph diameter — near-dup chains are a handful of
    hops (3-6 observed across decades), so min-label stays the fast
    path. r11 (VERDICT r10 #1): a component whose diameter exceeds
    MAX_CC_ITERS no longer hard-fails — the shared fixpoint ESCALATES
    to the O(log n) alternating large-star/small-star rounds
    (``search._star_components``, Kiveris et al. SoCC'14), whose round
    count is diameter-independent; ``dedup_components_star`` runs that
    engine unconditionally on this same pair graph under the same
    oracle. Convergence is detected by the monotone-decreasing label
    sum (one scalar action per round).
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # pinned once for the per-round joins, so no round's plan carries
    # the minhash pipeline
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .transform(pin)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .transform(pin)
    )
    # shared fixpoint loop (search._min_label_propagate): one join +
    # one min-groupBy per round, localCheckpoint lineage truncation,
    # and the r10 loud-fail on non-convergence (ADVICE r9: silent
    # fall-through shipped unmerged components)
    from .search import _min_label_propagate

    labels = _min_label_propagate(edges, labels, MAX_CC_ITERS)
    w = Window.partitionBy("component_id")
    return (
        labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("component_id"))
        .withColumn("n_members", F.count("*").over(w))
    )


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_components`` with the deep-diameter engine FORCED: the
    alternating large-star/small-star rounds (Kiveris et al. SoCC'14,
    ``search._star_components``) run unconditionally on the same
    MinHash-LSH pair graph, under the same DuckDB oracle — so the
    escalation path ``dedup_components`` falls back to past
    MAX_CC_ITERS is itself driver-grade oracle-checked on real data,
    not only referee-tested on planted chains.

    Same output contract: (doc_id, component_id = min doc_id of the
    component, n_members). Round count grows with log(n) instead of
    graph diameter — the shape that survives a 100 TB corpus whose
    near-dup graph contains a long chain (the one input the min-label
    fast path cannot finish; see SCALE.md r11 chain decades)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    from .search import _star_components

    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = _star_components(edges)
    w = Window.partitionBy("component_id")
    return (
        labels.select(
            F.col("node").alias("doc_id"), F.col("lbl").alias("component_id")
        )
        .withColumn("n_members", F.count("*").over(w))
    )


def minhash_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types, estimated from
    16-permutation minhash signatures of each type's user-id SET, with
    the exact Jaccard alongside as the accuracy audit (same
    sketch-vs-truth pattern as ``countmin_heavy_hitters``).

    Why sketches: each signature component is a ``min`` over an affine
    hash of ``user_id`` — associative + commutative, so it partially
    aggregates map-side and merges across partitions, days, or
    incremental loads. Comparing k audiences costs O(k² · 16) on
    O(k · 16) longs of state, independent of user count. The exact
    intersection is what you DROP at 100 TB; the estimate column is
    what survives, and this query shows the two against each other.

    Shuffle budget (r5 audit — was 6 exchanges: distinct, per-type
    agg, a 2-sided self-equi-join on user_id, and the pair rollup):
    ONE user-scale shuffle, materialized once. ``groupBy(user_id).
    collect_set`` builds each user's type set (map-side partials,
    cached because three plan branches read it), after which both
    sides derive without touching user-scale exchanges again — the
    distinct (user, type) pairs explode from the set in-row (feeding
    the per-type signature agg, whose input partial-aggregates down to
    O(partitions·k) rows), and the exact intersections come from
    generating each user's sorted type PAIRS in-row (k choose 2 per
    user, k = event types ≈ small) and one O(k²)-cardinality rollup —
    the user_id self-equi-join is gone. Pair-estimate comparison stays
    a broadcast of the k-row signature table. Measured at sf0.1: on
    par with the old shape locally (0.4 s both — local[32] shuffles
    are memory-speed) but with 1 user-scale exchange instead of the
    old plan's 4 recomputed ones, which is the term that matters on a
    real cluster's network.

    Affine family (a·uid + b) mod P from ``functions/hashes.py`` —
    products stay < 2^63 for any realistic uid (a < 2^25, uid < 2^38).
    """
    ev = load_table(spark, sf_dir, "events")
    # A/B sf0.1 0.21→0.36 / 1.0→1.2 s, sf1 0.29→0.75 / 1.5→2.1 s
    user_sets = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    ).transform(pin)
    # ^ referenced by sigs (×2 via self-join) and inter: materializes
    # the single user-scale shuffle once instead of three
    # plan-identical recomputes (no ReuseExchange across these shapes)
    du = user_sets.select(
        "user_id", F.explode("types").alias("event_type")
    )
    sigs = du.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        *[
            F.min((F.col("user_id") * H.A[i] + H.B[i]) % H.P).alias(f"mh{i}")
            for i in range(H.NUM_HASHES)
        ],
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")
    )
    matches = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(H.NUM_HASHES)
    )
    type_pairs = F.explode(
        F.flatten(
            F.transform(
                F.col("types"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("types"), i + F.lit(2), F.size(F.col("types"))
                    ),
                    lambda y: F.struct(x.alias("ta"), y.alias("tb")),
                ),
            )
        )
    ).alias("tp")
    inter = (
        user_sets.select(type_pairs)
        .groupBy(F.col("tp.ta").alias("ta"), F.col("tp.tb").alias("tb"))
        .agg(F.count("*").alias("n_common"))
    )
    joined = pairs.join(
        inter,
        (F.col("a.event_type") == F.col("ta"))
        & (F.col("b.event_type") == F.col("tb")),
        "left",
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    return joined.select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n_users").alias("n_a"),
        F.col("b.n_users").alias("n_b"),
        n_common.alias("n_common"),
        (
            n_common.cast("double")
            / (F.col("a.n_users") + F.col("b.n_users") - n_common)
        ).alias("jaccard_exact"),
        matches.cast("long").alias("sketch_matches"),
        (matches.cast("double") / F.lit(float(H.NUM_HASHES))).alias(
            "jaccard_est"
        ),
    )


def dedup_canonical_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-root resolution by parent-pointer chasing, written on
    Spark 4's recursive-CTE surface (``WITH RECURSIVE``): every doc's
    duplicate-of pointer is its SMALLEST directly-verified near-dup
    (min doc_a over the ≥0.5-Jaccard pairs where it is doc_b); roots
    have no pointer. Each doc then follows pointers to its terminal
    root and reports the chain length.

    This is the pointer-chase a dedup pipeline runs after pair
    verification — distinct from ``dedup_components`` (full connected
    components via label propagation): the chain rule only walks
    DIRECT-duplicate links, so a hub that bridges two docs without
    being similar to their union does not merge them.

    Termination is structural, not a guard: the pointer graph is a
    function graph on strictly-decreasing ids (parent < child), so
    recursion depth = longest duplicate chain and UNION ALL recursion
    (the only mode Spark supports) cannot revisit a state. At corpus
    scale raise ``spark.sql.cteRecursionLevelLimit`` (default 100)
    above the expected max chain; each iteration is one equi-join of
    the frontier against the broadcast-sized parent map.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir)
    parent = pairs.groupBy(F.col("doc_b").alias("child")).agg(
        F.min("doc_a").alias("parent")
    )
    # Materialize the parent map BEFORE the recursion: every recursive
    # step joins the frontier against this view, and an unmaterialized
    # view would re-run the whole minhash pipeline once per iteration.
    # localCheckpoint(eager=True) pins it (O(near-dup docs) rows — KB
    # at any corpus size) AND cuts the lineage; on a real cluster a
    # reliable checkpoint() does the same durably.
    parent = parent.transform(pin)
    # WITH RECURSIVE is SQL-only, so the inputs go through temp views;
    # unique names keep concurrent invocations on a shared session from
    # clobbering each other's bindings mid-plan
    tag = uuid.uuid4().hex[:12]
    pview, dview = f"gzk_dup_parent_{tag}", f"gzk_dup_docs_{tag}"
    parent.createOrReplaceTempView(pview)
    _docs(spark, sf_dir).select("doc_id").createOrReplaceTempView(dview)
    return spark.sql(
        f"""
        WITH RECURSIVE chain(doc_id, cur, depth) AS (
            SELECT doc_id, doc_id, 0 FROM {dview}
            UNION ALL
            SELECT c.doc_id, p.parent, c.depth + 1
            FROM chain c JOIN {pview} p ON p.child = c.cur
        )
        SELECT c.doc_id, c.cur AS root_id, c.depth AS chain_len
        FROM chain c LEFT JOIN {pview} p ON p.child = c.cur
        WHERE p.child IS NULL
        """
    )


BLOOM_BITS = 2048  # m: filter size
# 63 usable bits per int64 word: DuckDB raises on 1<<63 (signed
# overflow) where the JVM wraps, so bit 63 is never used — the words
# stay portable across both engines' bigint semantics
BLOOM_WORD_BITS = 63
_BLOOM_SLICES = ((1, 4), (5, 4), (9, 4))  # k=3 hex slices of md5(text)


def _bloom_positions(text_col: F.Column) -> list[F.Column]:
    """k bit positions from disjoint hex slices of md5(text) — the
    portable double-hashing analog both engines rebuild exactly."""
    h = F.md5(text_col)
    return [
        F.conv(F.substring(h, start, ln), 16, 10).cast("bigint")
        % BLOOM_BITS
        for start, ln in _BLOOM_SLICES
    ]


def bloom_novelty_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty check of an incoming batch against a historical corpus
    through a SHARED-NOTHING Bloom filter: the historical side folds
    into ~33 bigint words with ``bit_or`` (mergeable — partials combine
    associatively, so the build is one map-side-combining aggregate no
    matter how many executors), the words broadcast to the probe side,
    and each incoming document tests its k=3 bit positions. The exact
    duplicate check runs beside it so the summary audits the filter's
    false-positive rate against ground truth.

    This is the crawl-ingest front gate at 100 TB: the filter is a few
    KB per billion historical docs (scaled m accordingly), the Bloom
    probe is scan-local (broadcast join on the ≤33-row word relation),
    and on the Bloom path no text crosses the wire — only word indexes
    and masks. The exact-duplicate AUDIT beside it joins the probe
    against all distinct historical digests — an O(corpus-distinct)
    relation that is deliberately NOT broadcast (plain equi-join on the
    digest, so at scale it shuffles instead of OOMing the driver); in
    production the audit is a sampled or offline check — the Bloom gate
    alone is the scan-time path.
    """
    docs = _docs(spark, sf_dir)
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1)

    def positions(df: DataFrame) -> DataFrame:
        # hash once, drop the text immediately: only (doc_id, digest,
        # word index, mask) ever move between stages
        pos = F.explode(F.array(*_bloom_positions(F.col("text")))).alias("pos")
        return df.select(
            "doc_id", F.md5("text").alias("th"), pos
        ).select(
            "doc_id",
            "th",
            F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word_idx"),
            # SQL form: the DataFrame shiftleft() only takes a literal
            # bit count, the SQL function accepts a column
            F.expr(
                f"shiftleft(1L, cast(pos % {BLOOM_WORD_BITS} as int))"
            ).alias("mask"),
        )

    words = (
        positions(hist)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    probes = (
        positions(inc)
        .join(F.broadcast(words), "word_idx", "left")
        .withColumn(
            "hit",
            (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask")))
            == F.col("mask"),
        )
        .groupBy("doc_id", "th")
        .agg(F.min(F.col("hit").cast("int")).alias("all_hit"))
    )
    hist_hashes = hist.select(F.md5("text").alias("th")).distinct()
    flagged = probes.join(
        hist_hashes.withColumnRenamed("th", "hist_th"),
        probes["th"] == F.col("hist_th"),
        "left",
    ).select(
        (F.col("all_hit") == 1).alias("bloom_hit"),
        F.col("hist_th").isNotNull().alias("true_dup"),
    )
    return flagged.agg(
        F.count("*").alias("n_incoming"),
        F.sum(F.col("bloom_hit").cast("bigint")).alias("n_bloom_hits"),
        F.sum(F.col("true_dup").cast("bigint")).alias("n_true_dups"),
        F.sum(
            (F.col("bloom_hit") & ~F.col("true_dup")).cast("bigint")
        ).alias("n_false_positives"),
        # a Bloom filter NEVER misses a real member — this must be 0
        F.sum(
            (~F.col("bloom_hit") & F.col("true_dup")).cast("bigint")
        ).alias("n_missed"),
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "minhash_user_overlap": minhash_user_overlap,
    "dedup_canonical_chain": dedup_canonical_chain,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_components": dedup_components,
    "dedup_components_star": dedup_components_star,
    "bloom_novelty_filter": bloom_novelty_filter,
}


# --- oracle SQL (same constants, same formulas) -------------------------

_TOKS = H.TOKENS_SQL.format(text="text")
_SHINGLES = H.SHINGLES_SQL.format(toks="toks")
_CHAR_HASH_S = H.CHAR_HASH_SQL.format(s="s")

_SH_CTES = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shd AS (
        SELECT doc_id,
               list_distinct(list_transform({_SHINGLES},
                             s -> {_CHAR_HASH_S})) AS hs
        FROM tk
    ),
    sh AS (SELECT doc_id, unnest(hs) AS shash FROM shd)
"""

_MH_COLS = ",\n               ".join(
    f"list_aggregate(list_transform(hs, h -> {H.affine_sql('h', i)}), 'min') AS mh{i}"
    for i in range(H.NUM_HASHES)
)
_BAND_SELECTS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, concat_ws('-', {cols}) AS band_key FROM sig".format(
        b=b,
        cols=",".join(f"mh{b * H.ROWS_PER_BAND + r}" for r in range(H.ROWS_PER_BAND)),
    )
    for b in range(H.NUM_BANDS)
)

_JACCARD_SQL = (
    "len(list_intersect(x.hs, y.hs))::DOUBLE / "
    "len(list_distinct(list_concat(x.hs, y.hs)))"
)

_UID_MH_COLS = ",\n               ".join(
    f"min({H.affine_sql('user_id', i)}) AS mh{i}" for i in range(H.NUM_HASHES)
)
_UID_MATCHES = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
    for i in range(H.NUM_HASHES)
)

ORACLE = {
    "dedup_canonical_chain": f"""
        WITH RECURSIVE pairs AS (
            {_SH_CTES},
            sig AS (
                SELECT doc_id, {_MH_COLS}
                FROM shd WHERE len(hs) > 0
            ),
            bands AS ({_BAND_SELECTS}),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b FROM (
                SELECT doc_a, doc_b, {_JACCARD_SQL} AS j
                FROM cand
                JOIN shd x ON x.doc_id = doc_a
                JOIN shd y ON y.doc_id = doc_b
            ) WHERE j >= {JACCARD_THRESHOLD}
        ),
        parent AS (
            SELECT doc_b AS child, min(doc_a) AS parent
            FROM pairs GROUP BY doc_b
        ),
        chain(doc_id, cur, depth) AS (
            SELECT doc_id, doc_id, 0 FROM documents
            UNION ALL
            SELECT c.doc_id, p.parent, c.depth + 1
            FROM chain c JOIN parent p ON p.child = c.cur
        )
        SELECT c.doc_id, c.cur AS root_id, c.depth AS chain_len
        FROM chain c LEFT JOIN parent p ON p.child = c.cur
        WHERE p.child IS NULL
    """,
    "minhash_user_overlap": f"""
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        sigs AS (
            SELECT event_type, count(*) AS n_users,
               {_UID_MH_COLS}
            FROM du GROUP BY event_type
        ),
        inter AS (
            SELECT x.event_type AS ta, y.event_type AS tb,
                   count(*) AS n_common
            FROM du x JOIN du y USING (user_id)
            WHERE x.event_type < y.event_type
            GROUP BY 1, 2
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.n_users AS n_a, b.n_users AS n_b,
               coalesce(i.n_common, 0) AS n_common,
               coalesce(i.n_common, 0)::DOUBLE
                   / (a.n_users + b.n_users - coalesce(i.n_common, 0))
                   AS jaccard_exact,
               CAST({_UID_MATCHES} AS BIGINT) AS sketch_matches,
               ({_UID_MATCHES})::DOUBLE / {float(H.NUM_HASHES)}
                   AS jaccard_est
        FROM sigs a JOIN sigs b ON a.event_type < b.event_type
        LEFT JOIN inter i
          ON i.ta = a.event_type AND i.tb = b.event_type
    """,
    "dedup_exact": """
        SELECT sha256(text) AS text_sha,
               min(doc_id) AS canonical_id,
               count(*) AS n_copies
        FROM documents GROUP BY sha256(text)
    """,
    "dedup_minhash_lsh": f"""
        {_SH_CTES},
        sig AS (
            SELECT doc_id, {_MH_COLS}
            FROM shd WHERE len(hs) > 0
        ),
        bands AS ({_BAND_SELECTS}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM (
            SELECT doc_a, doc_b, {_JACCARD_SQL} AS j
            FROM cand
            JOIN shd x ON x.doc_id = doc_a
            JOIN shd y ON y.doc_id = doc_b
        ) WHERE j >= {JACCARD_THRESHOLD}
    """,
    "dedup_simhash": f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        th AS (
            SELECT DISTINCT doc_id,
                   {H.CHAR_HASH_SQL.format(s="tok")} AS thash
            FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
        ),
        votes AS (
            SELECT doc_id,
                   {", ".join(f"sum(({H.affine_sql('thash', j)}) % 2 * 2 - 1) AS v{j}" for j in range(SIMHASH_BITS))}
            FROM th GROUP BY doc_id
        ),
        sigs AS (
            SELECT doc_id,
                   CAST({" + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(SIMHASH_BITS))} AS BIGINT) AS simhash
            FROM votes
        )
        SELECT simhash, min(doc_id) AS canonical_id, count(*) AS n_members
        FROM sigs GROUP BY simhash
    """,
    "dedup_components": f"""
        WITH RECURSIVE pairs AS (
            {_SH_CTES},
            sig AS (
                SELECT doc_id, {_MH_COLS}
                FROM shd WHERE len(hs) > 0
            ),
            bands AS ({_BAND_SELECTS}),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b FROM (
                SELECT doc_a, doc_b, {_JACCARD_SQL} AS j
                FROM cand
                JOIN shd x ON x.doc_id = doc_a
                JOIN shd y ON y.doc_id = doc_b
            ) WHERE j >= {JACCARD_THRESHOLD}
        ),
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ),
        nodes AS (SELECT DISTINCT s AS node FROM edges),
        reach AS (
            SELECT node, node AS lbl FROM nodes
            UNION
            SELECT e.d AS node, r.lbl FROM reach r JOIN edges e ON e.s = r.node
        ),
        comp AS (SELECT node AS doc_id, min(lbl) AS component_id FROM reach GROUP BY node)
        SELECT doc_id, component_id,
               count(*) OVER (PARTITION BY component_id) AS n_members
        FROM comp
    """,
    "dedup_ngram_jaccard": f"""
        {_SH_CTES},
        df_ok AS (
            SELECT shash FROM sh GROUP BY shash HAVING count(*) <= {MAX_DOC_FREQ}
        ),
        shc AS (SELECT sh.doc_id, sh.shash FROM sh JOIN df_ok USING (shash)),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM shc a JOIN shc b ON a.shash = b.shash AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= {MIN_SHARED_SHINGLES}
        )
        SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM (
            SELECT doc_a, doc_b, {_JACCARD_SQL} AS j
            FROM cand
            JOIN shd x ON x.doc_id = doc_a
            JOIN shd y ON y.doc_id = doc_b
        ) WHERE j >= {NGRAM_THRESHOLD}
    """,
}

# the star-forced variant computes the IDENTICAL relation — same pair
# graph, same (doc_id, component_id = component min, n_members)
# contract — so it is graded by the same recursive-CTE oracle
ORACLE["dedup_components_star"] = ORACLE["dedup_components"]

ORACLE["bloom_novelty_filter"] = f"""
    WITH pos AS (
        SELECT doc_id, md5(text) AS th, u.p AS pos,
               doc_id % 2 = 0 AS is_hist
        FROM documents,
             LATERAL (
                SELECT unnest([
                    CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT)
                        % {BLOOM_BITS},
                    CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT)
                        % {BLOOM_BITS},
                    CAST(('0x' || substr(md5(text), 9, 4)) AS BIGINT)
                        % {BLOOM_BITS}
                ]) AS p
             ) u
    ),
    cells AS (
        SELECT *, pos // {BLOOM_WORD_BITS} AS word_idx,
               (1::BIGINT << CAST(pos % {BLOOM_WORD_BITS} AS INTEGER)) AS mask
        FROM pos
    ),
    words AS (
        SELECT word_idx, bit_or(mask) AS word
        FROM cells WHERE is_hist GROUP BY word_idx
    ),
    probes AS (
        SELECT c.doc_id, c.th,
               min(CASE WHEN (coalesce(w.word, 0) & c.mask) = c.mask
                        THEN 1 ELSE 0 END) AS all_hit
        FROM cells c LEFT JOIN words w USING (word_idx)
        WHERE NOT c.is_hist
        GROUP BY c.doc_id, c.th
    ),
    hist_hashes AS (
        SELECT DISTINCT md5(text) AS hist_th FROM documents
        WHERE doc_id % 2 = 0
    ),
    flagged AS (
        SELECT p.all_hit = 1 AS bloom_hit,
               h.hist_th IS NOT NULL AS true_dup
        FROM probes p LEFT JOIN hist_hashes h ON p.th = h.hist_th
    )
    SELECT count(*) AS n_incoming,
           CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_hits,
           CAST(sum(CASE WHEN true_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_dups,
           CAST(sum(CASE WHEN bloom_hit AND NOT true_dup THEN 1 ELSE 0 END)
               AS BIGINT) AS n_false_positives,
           CAST(sum(CASE WHEN NOT bloom_hit AND true_dup THEN 1 ELSE 0 END)
               AS BIGINT) AS n_missed
    FROM flagged
"""


# --- r7-staged, registered at round 8: 64-bit SimHash Hamming-banded join -------------
# (registered at the module end, after dedup_two_tier_pipeline)

# r8 widening (VERDICT r7 task 2): the r7 64-bit / 4×16-bit-band form
# went super-linear on the fifth decade (12.77×/decade at sf100 — band
# collision onset at ~76 docs per 16-bit bucket over 5M docs). Per its
# own designed fix, the signature itself is widened: 125 bits packed as
# FIVE 25-bit bands. Each band key now draws from a 2^25 space (512×
# the old 2^16), so expected bucket occupancy at 5M docs falls from
# ~76 to ~0.15; the pigeonhole guarantee is unchanged in form
# (hamming <= bands-1 => at least one clean band).
SIMW_BITS = 125
SIMW_BANDS = 5
SIMW_BAND_BITS = SIMW_BITS // SIMW_BANDS  # 25
SIMW_HAMMING_MAX = SIMW_BANDS - 1  # pigeonhole: <= 4 diff bits => >=1 clean band
# 125 affine families derived deterministically from the base 16 (both
# engines see the same literal constants via the f-string oracle)
SIMW_A = [(H.A[i % 16] * pow(6151, i // 16, H.P)) % H.P for i in range(SIMW_BITS)]
SIMW_B = [(H.B[i % 16] + 1009 * (i // 16)) % H.P for i in range(SIMW_BITS)]


def simhash_hamming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup JOIN on a wide ({SIMW_BITS}-bit) SimHash with banded
    Hamming search — Charikar's simhash taken from per-doc signature
    (``dedup_simhash``) to an actual pair-finding join, the web-scale
    near-dup algorithm of Manku/Jain/Sarma (WWW'07, public literature).

    Signature: {SIMW_BITS} sign-bits, each the majority vote of the
    doc's distinct token hashes under an affine family; packed as FIVE
    {SIMW_BAND_BITS}-bit band values (no single wide pack — >63 bits
    overflows signed bigint, and the bands are what the join keys on
    anyway).

    Candidate generation is Manku's FIRST-MATCHING-BAND formulation:
    five sig×sig equi-joins, one per band, where join k additionally
    requires every band j < k to DIFFER — each qualifying pair is
    produced by exactly ONE join, so no candidate relation is ever
    materialized, deduplicated, or re-joined against a signature
    dictionary (the r7-draft stack→distinct→re-join shape measured
    54 s at sf10; this one 17 s on identical output). Pigeonhole: a
    pair at Hamming distance <= {SIMW_HAMMING_MAX} differs in at most
    {SIMW_HAMMING_MAX} of the {SIMW_BANDS} bands, so at least one
    band matches exactly — ZERO false negatives by construction.
    Verify: hamming = sum of bit_count(XOR) over the five band values,
    in the same join projection.

    Scale — the r8 widening and the MEASURED negative result behind it.
    The r7 form (64 bits, 4×16-bit bands) went super-linear on the
    fifth decade (12.77×/decade at sf100 — ~76 docs per 16-bit bucket
    at 5M docs). Two fixes were on the table. Manku's combo-key
    variant (64 bits in 6 blocks, join on C(6,3)=20 exact-3-block
    ~32-bit keys) was implemented and benchmarked on the sf100 decade
    (5M docs), expecting collisions to fall from n²/2^16 to n²/2^32.
    It ran MINUTES against the banded form's 12 s, for two reasons the
    uniform-key model misses: (a) simhash bits over a small vocabulary
    are heavily correlated — the measured per-combo probe mass over the
    3.8M DISTINCT signatures was ~20M pairs per key family, four
    orders of magnitude above the 1.7k a uniform 2^33 key space
    predicts, so wider COMPOSITE keys over the same 64 biased bits
    bought almost nothing; and (b) exact-signature cliques (max
    measured clique 444 docs; 40M hamming-0 pairs) re-probe in EVERY
    combination — 20× vs the banded form's 4×. The fix that survives
    bit correlation is WIDENING THE SIGNATURE itself — this version:
    {SIMW_BITS} fresh sign-bits, {SIMW_BANDS} bands of
    {SIMW_BAND_BITS} bits, so each band key draws on {SIMW_BAND_BITS}
    INDEPENDENT majority votes (a 512×-larger key space per band with
    new information in it, not a recombination of old bits), same
    pigeonhole argument and the same equi-join shape. Beyond
    collisions the output IS pairwise near-dups, so cost is
    output-bound: a template-heavy corpus (m-doc clusters contribute
    m^2/2 pairs) pays for its own duplication, and the standard
    mitigation at 100 TB is exactly the one ``dedup_components``
    implements downstream: fold pairs into components and keep one
    representative. The signature pass is one scan ({SIMW_BITS}
    integer folds per row, no shuffle)."""
    docs = _docs(spark, sf_dir)
    # r13 quiet-host re-A/B: fan-out reverted with dedup_simhash's
    # (same signature pass; A/B'd below)
    th = (
        docs
        .select(
            "doc_id",
            # distinct tokens first — see dedup_simhash (identical
            # result, the fold runs once per distinct token)
            F.array_distinct(
                F.transform(
                    F.array_distinct(H.tokens_col(F.col("text"))),
                    H.char_hash_col,
                )
            ).alias("ths"),
        )
        .filter(F.size("ths") > 0)
    )

    def _vote(j: int):
        return lambda t: ((t * SIMW_A[j] + SIMW_B[j]) % H.P % 2) * 2 - 1

    votes = th.select(
        "doc_id",
        *[
            F.aggregate(
                F.transform("ths", _vote(j)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias(f"v{j}")
            for j in range(SIMW_BITS)
        ],
    )
    band_cols = []
    for k in range(SIMW_BANDS):
        expr = None
        for r in range(SIMW_BAND_BITS):
            j = k * SIMW_BAND_BITS + r
            bit = F.when(F.col(f"v{j}") > 0, F.lit(2**r)).otherwise(F.lit(0))
            expr = bit if expr is None else expr + bit
        band_cols.append(expr.cast("long").alias(f"b{k}"))
    # A/B sf0.1 0.14→14.15 / 8.9→36.0 s
    sigs = votes.select("doc_id", *band_cols).transform(pin)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{k}").alias(f"a{k}") for k in range(SIMW_BANDS)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{k}").alias(f"bb{k}") for k in range(SIMW_BANDS)],
    )
    ham = None
    for k in range(SIMW_BANDS):
        term = F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"bb{k}")))
        ham = term if ham is None else ham + term
    parts = []
    for k in range(SIMW_BANDS):
        cond = (F.col(f"a{k}") == F.col(f"bb{k}")) & (
            F.col("doc_a") < F.col("doc_b")
        )
        for j in range(k):
            cond = cond & (F.col(f"a{j}") != F.col(f"bb{j}"))
        parts.append(
            a.join(b, cond)
            .withColumn("hamming", ham.cast("long"))
            .filter(F.col("hamming") <= SIMW_HAMMING_MAX)
            .select("doc_a", "doc_b", "hamming")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# The docstring names its constants via {placeholders}; interpolate them
# once at import so help() renders the real numbers, not literal braces.
simhash_hamming_join.__doc__ = simhash_hamming_join.__doc__.format(
    SIMW_BITS=SIMW_BITS,
    SIMW_BANDS=SIMW_BANDS,
    SIMW_BAND_BITS=SIMW_BAND_BITS,
    SIMW_HAMMING_MAX=SIMW_HAMMING_MAX,
)


_VW_COLS = ",\n                   ".join(
    f"sum((thash * {SIMW_A[j]} + {SIMW_B[j]}) % {H.P} % 2 * 2 - 1) AS v{j}"
    for j in range(SIMW_BITS)
)
_BW_COLS = ",\n                   ".join(
    "CAST("
    + " + ".join(
        f"CASE WHEN v{k * SIMW_BAND_BITS + r} > 0 THEN {2**r} ELSE 0 END"
        for r in range(SIMW_BAND_BITS)
    )
    + f" AS BIGINT) AS b{k}"
    for k in range(SIMW_BANDS)
)
_HAMW = " + ".join(
    f"bit_count(xor(x.b{k}, y.b{k}))" for k in range(SIMW_BANDS)
)

ORACLE["simhash_hamming_join"] = f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        th AS (
            SELECT DISTINCT doc_id,
                   {H.CHAR_HASH_SQL.format(s="tok")} AS thash
            FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
        ),
        votes AS (
            SELECT doc_id,
                   {_VW_COLS}
            FROM th GROUP BY doc_id
        ),
        sigs AS (
            SELECT doc_id,
                   {_BW_COLS}
            FROM votes
        ),
        pairs AS (
            {" UNION ALL ".join(
                "SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, "
                f"CAST({_HAMW} AS BIGINT) AS hamming "
                "FROM sigs x JOIN sigs y ON x.b%d = y.b%d "
                "AND x.doc_id < y.doc_id%s" % (
                    k, k,
                    "".join(f" AND x.b{j} <> y.b{j}" for j in range(k)),
                )
                for k in range(SIMW_BANDS)
            )}
        )
        SELECT doc_a, doc_b, hamming FROM pairs
        WHERE hamming <= {SIMW_HAMMING_MAX}
    """


# --- r7-staged, registered at round 8: incremental dedup (new batch vs corpus) ---------

INCR_MOD = 5  # deterministic batch split: doc_id % MOD == SLOT is the
INCR_SLOT = 3  # "incoming" crawl batch; the rest is the standing corpus


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening — the production shape of
    MinHash-LSH dedup: a NEW crawl batch is checked against the
    STANDING corpus (never corpus × corpus), and each incoming doc
    reports how many existing near-dups it has, its canonical match,
    and the best Jaccard. The batch here is the deterministic slice
    ``doc_id % {INCR_MOD} == {INCR_SLOT}`` so the oracle can replay it;
    in production the split is arrival time.

    Scale (the point of the operator): band buckets make the check
    incremental — candidates are incoming×existing WITHIN a bucket, so
    cost is ∝ |batch| × bucket collision rate, independent of corpus²,
    and the standing corpus's signatures would be computed once and
    stored (here both sides recompute because the benchmark is
    stateless — the signature pass is the same zero-shuffle
    ``array_min(transform(...))`` scan either way). The verify join
    ships shingle arrays only for docs in candidate pairs
    (``_pair_jaccard``'s semi-join reduction). Same bands, same
    threshold, same flood caps as ``dedup_minhash_lsh``."""
    docs = _docs(spark, sf_dir)
    # A/B sf0.1 0.07→0.07 / 2.7→11.4 s
    arrs = _shingle_arrays(docs).transform(pin)
    bands = H.minhash_bands(arrs, "hs")
    incoming = bands.filter(
        F.col("doc_id") % INCR_MOD == INCR_SLOT
    ).select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
    existing = bands.filter(
        F.col("doc_id") % INCR_MOD != INCR_SLOT
    ).select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key")
    cand = (
        incoming.join(existing, ["band_idx", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    jac = _pair_jaccard(cand, arrs).filter(
        F.col("jaccard_raw") >= JACCARD_THRESHOLD
    )
    return jac.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("doc_b").alias("match_id"),
        F.max(F.round("jaccard_raw", 6)).alias("best_jaccard"),
    )


ORACLE["dedup_incremental_lsh"] = f"""
    {_SH_CTES},
    sig AS (
        SELECT doc_id, {_MH_COLS}
        FROM shd WHERE len(hs) > 0
    ),
    bands AS ({_BAND_SELECTS}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id % {INCR_MOD} = {INCR_SLOT}
          AND b.doc_id % {INCR_MOD} <> {INCR_SLOT}
    ),
    ver AS (
        SELECT doc_a, doc_b, {_JACCARD_SQL} AS j
        FROM cand
        JOIN shd x ON x.doc_id = doc_a
        JOIN shd y ON y.doc_id = doc_b
    )
    SELECT doc_a AS doc_id,
           count(*) AS n_matches,
           min(doc_b) AS match_id,
           max(round(j, 6)) AS best_jaccard
    FROM ver WHERE j >= {JACCARD_THRESHOLD}
    GROUP BY doc_a
"""


# --- r7-staged, registered at round 8: LSH recall audit ---------------------------------

# θ = TN/TD for the exact ground-truth join (same 0.5 the LSH verify uses)
_RA_TN = 1
_RA_TD = 2
# deterministic audit sample: docs with doc_id % MOD == SLOT (~1/3).
# The exact-truth side is the expensive object — measured to spill-OOM
# at the sf100 decade on the FULL corpus (prefix selectivity collapses
# when every shingle's df grows with n) — so the sample IS the
# production contract, not a test convenience; recall/precision are
# ratio estimates and the sample bounds them at a fraction of the cost.
RECALL_AUDIT_MOD = 3
RECALL_AUDIT_SLOT = 0


def _exact_pairs_ppjoin(arrs: DataFrame) -> DataFrame:
    """ALL (doc_a < doc_b) pairs with shingle-hash Jaccard ≥ θ — the
    prefix-filter method (Vernica et al. SIGMOD'10): the
    ``simjoin.rarity_prefix`` and ``simjoin.prefix_pairs`` stages of
    ``simjoin.similarity_prefix_join``, run over the HASH domain the
    MinHash path signs, so the ground truth is exactly the relation LSH
    approximates). No false negatives: a true pair must share one of
    each side's ``sz - ceil(θ·sz) + 1`` rarest hashes, and the
    positional upper bound + size filter only drop pairs that cannot
    reach θ. Verification is the in-row ``_pair_jaccard`` intersect
    (same filter expression as ``dedup_minhash_lsh``'s verify, so
    truth and LSH agree on the boundary bit-for-bit)."""
    sh = arrs.select("doc_id", F.explode("hs").alias("shash"))
    # both candidate-join sides read the prefix relation, but only
    # inside the job of _pair_jaccard's candidate pin, so a pin of its
    # own paid nothing (build+cold+steady 2.6 → 2.8 s ± 0.5 at sf0.1,
    # 17.6 → 17.2 s ± 2.4 at sf1 without it)
    prefix = rarity_prefix(sh, "shash", _RA_TN, _RA_TD)
    cand = prefix_pairs(prefix, "shash", "doc_a", "doc_b", _RA_TN, _RA_TD)
    return (
        _pair_jaccard(cand, arrs)
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )


# 95% WILSON score half-width in ppm over n_hits successes out of {n}
# trials: z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n) with z = 1.96
# (z² = 3.8416). One shared template keeps the Spark and DuckDB
# expression TEXT identical — every double op is correctly-rounded
# IEEE, so identical association ⇒ bit-identical results.
_WILSON_PPM = (
    "CASE WHEN {n} > 0 THEN round(1960000.0 * sqrt("
    "(CAST(n_hits AS DOUBLE) / {n}) * "
    "(1.0 - CAST(n_hits AS DOUBLE) / {n}) / {n} "
    "+ 3.8416 / (4.0 * {n} * {n})"
    ") / (1.0 + 3.8416 / {n}), 6) ELSE NULL END"
)

# The Wilson interval is centered at p̃ = (hits + z²/2)/(n + z²), NOT
# at the raw ratio p̂ = hits/n (ADVICE r11): applying the half-width
# around p̂ is not the Wilson interval and can extend outside [0, 1]
# at boundary rates. Emitted alongside the ppm ratios so the interval
# is [center − hw, center + hw] with columns the output actually has.
_WILSON_CENTER_PPM = (
    "CASE WHEN {n} > 0 THEN round(1000000.0 * "
    "(CAST(n_hits AS DOUBLE) + 1.9208) / ({n} + 3.8416), 6) "
    "ELSE NULL END"
)


def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall/precision of the banded MinHash-LSH candidate
    stage against exact ground truth — the audit that justifies (or
    re-tunes) the bands×rows trade every time the corpus or threshold
    changes. Both sides run over the SAME deterministic audit sample
    (``doc_id % {RECALL_AUDIT_MOD} == {RECALL_AUDIT_SLOT}``, ~1/3 —
    see the constant's comment: the exact-truth join is the expensive
    object and the sample is the production contract). Ground truth =
    ALL sampled pairs with shingle-hash Jaccard ≥ 0.5 via the
    no-false-negative prefix-filter join; candidates = sampled pairs
    sharing ≥ 1 of the 4 MinHash band buckets (the same banding
    ``dedup_minhash_lsh`` verifies). One summary row: pair counts,
    candidate recall (theory for J ≥ 0.5 at 4×4 bands:
    1-(1-0.5⁴)^4 ≈ 23% per MINIMAL pair — observed is much higher
    because real near-dup Jaccards sit well above θ), and candidate
    precision (how much verify work the buckets waste).

    Scale: both sides are candidate-bounded joins (rarest-prefix /
    band-bucket equi-joins — never corpus²); the audit's own full-outer
    join runs over near-dup-sized relations and the output is O(1).
    All ratios are integer ppm (floor div) — no float aggregation.
    r10: the output STATES ITS OWN UNCERTAINTY (the r8/r9 verdict
    ask): ``doc_sample_rate_ppm`` records the sampling contract, and
    ``recall_ci95_ppm`` / ``precision_ci95_ppm`` carry a 95% binomial
    half-width over each ratio's own denominator — the error bar to
    apply before re-tuning bands from a sampled audit. r11 (ADVICE
    r10): the half-width is the WILSON score interval
    z·√(p(1-p)/n + z²/4n²)/(1 + z²/n), not the Wald form — Wald
    collapses to 0 at p ∈ {0, 1}, so a 100%-recall sample reported
    ZERO uncertainty, the opposite of the column's purpose; Wilson
    stays strictly positive at the boundary (→ z²/(2n+2z²/…) ≈
    z²/2n for large n). r12 (ADVICE r11): the interval is centered at
    p̃ = (hits + z²/2)/(n + z²), not at the raw ratio — the
    ``*_wilson_center_ppm`` columns carry p̃ so the reported interval
    is [center − hw, center + hw] and never leaves [0, 1]; the ppm
    ratios stay the raw point estimates. Caveat, stated here because the number can't
    state it: pairs sharing a sampled doc are cluster-correlated, so
    any i.i.d.-binomial half-width (Wald or Wilson) UNDERSTATES true
    sampling uncertainty — read the columns as a lower bound on the
    error bar, not a guarantee. Operationally this is an AUDIT, not a pipeline
    stage: at 100 TB the sample modulus grows with the corpus (1%
    bounds both ratios to tight confidence intervals at ~1/10⁴ the
    cost — and the CI columns then SAY so); the DuckDB oracle and the
    brute-force referee replay the identical slice."""
    docs = _docs(spark, sf_dir).filter(
        F.col("doc_id") % RECALL_AUDIT_MOD == RECALL_AUDIT_SLOT
    )
    # A/B sf0.1 0.29→4.22 / 2.4→18.8 s
    arrs = _shingle_arrays(docs).transform(pin)
    truth = _exact_pairs_ppjoin(arrs).withColumn("t", F.lit(1))
    cand = _lsh_candidate_pairs(H.minhash_bands(arrs, "hs")).withColumn(
        "c", F.lit(1)
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.count("t").alias("n_true_pairs"),
        F.count("c").alias("n_lsh_candidates"),
        F.count(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)).alias(
            "n_hits"
        ),
    )
    return agg.select(
        "n_true_pairs",
        "n_lsh_candidates",
        "n_hits",
        F.expr(
            "CASE WHEN n_true_pairs > 0 THEN n_hits * 1000000 div n_true_pairs "
            "ELSE NULL END"
        ).alias("recall_ppm"),
        F.expr(
            "CASE WHEN n_lsh_candidates > 0 THEN "
            "n_hits * 1000000 div n_lsh_candidates ELSE NULL END"
        ).alias("precision_ppm"),
        # r10/r11: the audit states its own uncertainty (r8/r9 verdict
        # ask; r11 ADVICE upgraded Wald → Wilson, which never
        # degenerates to 0 at the p ∈ {0, 1} boundary). Each ratio is
        # a binomial proportion over its own denominator; the IEEE
        # double expression text is byte-identical to the oracle's
        # (every op — ÷, ×, +, sqrt — is correctly rounded, so same
        # association ⇒ same bits on both engines), rounded 6dp like
        # every float output.
        F.lit(1_000_000 // RECALL_AUDIT_MOD).cast("long").alias(
            "doc_sample_rate_ppm"
        ),
        F.expr(_WILSON_PPM.format(n="n_true_pairs")).alias(
            "recall_ci95_ppm"
        ),
        F.expr(_WILSON_PPM.format(n="n_lsh_candidates")).alias(
            "precision_ci95_ppm"
        ),
        # r12 (ADVICE r11): the Wilson interval's own center — the
        # half-width above applies around THESE, not around the raw
        # ppm ratios (p̂ ± hw is not the Wilson interval and exceeds
        # [0, 1] at boundary rates; p̃ ± hw never does).
        F.expr(_WILSON_CENTER_PPM.format(n="n_true_pairs")).alias(
            "recall_wilson_center_ppm"
        ),
        F.expr(_WILSON_CENTER_PPM.format(n="n_lsh_candidates")).alias(
            "precision_wilson_center_ppm"
        ),
    )


ORACLE["lsh_recall_audit"] = f"""
    WITH tk AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE doc_id % {RECALL_AUDIT_MOD} = {RECALL_AUDIT_SLOT}
    ),
    shd AS (
        SELECT doc_id,
               list_distinct(list_transform({_SHINGLES},
                             s -> {_CHAR_HASH_S})) AS hs
        FROM tk
    ),
    sh AS (SELECT doc_id, unnest(hs) AS shash FROM shd),
    sz AS (SELECT doc_id, len(hs) AS sz FROM shd),
    dfq AS (SELECT shash, count(*) AS df FROM sh GROUP BY shash),
    ranked AS (
        SELECT s.doc_id, s.shash, z.sz,
               row_number() OVER (PARTITION BY s.doc_id
                                  ORDER BY d.df ASC, s.shash ASC) AS pos
        FROM sh s
        JOIN dfq d ON d.shash = s.shash
        JOIN sz z ON z.doc_id = s.doc_id
    ),
    prefix AS (
        SELECT doc_id, shash, sz, pos FROM ranked
        WHERE pos <= sz - CAST(floor((sz * {_RA_TN} + {_RA_TD - 1})
                                     / {_RA_TD}) AS BIGINT) + 1
    ),
    pcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM prefix a JOIN prefix b ON a.shash = b.shash
        WHERE a.doc_id < b.doc_id
          AND {_RA_TD} * least(a.sz, b.sz)
              >= {_RA_TN} * greatest(a.sz, b.sz)
          AND ({_RA_TN} + {_RA_TD})
              * (1 + least(a.sz - a.pos, b.sz - b.pos))
              >= {_RA_TN} * (a.sz + b.sz)
    ),
    truth AS (
        SELECT doc_a, doc_b
        FROM pcand
        JOIN shd x ON x.doc_id = doc_a
        JOIN shd y ON y.doc_id = doc_b
        WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    ),
    sig AS (
        SELECT doc_id, {_MH_COLS}
        FROM shd WHERE len(hs) > 0
    ),
    bands AS ({_BAND_SELECTS}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ),
    fj AS (
        SELECT t.doc_a AS t_a, c.doc_a AS c_a
        FROM truth t
        FULL OUTER JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    ),
    agg AS (
        SELECT count(t_a) AS n_true_pairs,
               count(c_a) AS n_lsh_candidates,
               count(CASE WHEN t_a IS NOT NULL AND c_a IS NOT NULL
                          THEN 1 END) AS n_hits
        FROM fj
    )
    SELECT n_true_pairs, n_lsh_candidates, n_hits,
           CASE WHEN n_true_pairs > 0
                THEN n_hits * 1000000 // n_true_pairs ELSE NULL END
               AS recall_ppm,
           CASE WHEN n_lsh_candidates > 0
                THEN n_hits * 1000000 // n_lsh_candidates ELSE NULL END
               AS precision_ppm,
           CAST({1_000_000 // RECALL_AUDIT_MOD} AS BIGINT)
               AS doc_sample_rate_ppm,
           {_WILSON_PPM.format(n="n_true_pairs")} AS recall_ci95_ppm,
           {_WILSON_PPM.format(n="n_lsh_candidates")} AS precision_ci95_ppm,
           {_WILSON_CENTER_PPM.format(n="n_true_pairs")}
               AS recall_wilson_center_ppm,
           {_WILSON_CENTER_PPM.format(n="n_lsh_candidates")}
               AS precision_wilson_center_ppm
    FROM agg
"""


# --- round-8: the two-tier near-dup ARCHITECTURE, composed ---------------


def dedup_two_tier_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-tier near-dup architecture composed END-TO-END as one
    batch query (VERDICT r7 task 6): screen-flag → exact-verify →
    survivor decision, one row per document.

    Tier 1 — SCREEN: the batch twin of the streaming band-bucket
    screen (``streaming/dedup_stream.streaming_lsh_screen``; the
    stream processes arrivals in doc_id order within a batch, so
    doc_id IS the batch-expressible arrival order). A doc is flagged
    iff some band bucket it occupies contains an EARLIER doc — bucket
    min + per-doc flag, two aggregates over the band relation, no
    pairs materialized at this tier.

    Tier 2 — VERIFY: only flagged docs are joined against their
    earlier bucket-mates (the ``dedup_incremental_lsh`` shape), then
    exact-jaccard verified at the shared {JACCARD_THRESHOLD}
    threshold via the same ``_pair_jaccard`` semi-join reduction.
    Restricting verification to flagged docs loses NOTHING: a
    verified pair shares a band by construction, so the later doc of
    any qualifying pair is always screen-flagged (screen ⊇ verify —
    the architecture pin of `tests/test_streaming_dedup.py`, here
    made a property the driver grades).

    Decision: a doc SURVIVES iff no earlier near-dup verified;
    otherwise its canonical is the smallest verified earlier match.

    Scale: screen cost is two shuffles of the (doc, band) relation
    (∝ corpus, never pairs); verify cost is ∝ flagged docs × bucket
    collision rate (the incremental-LSH bound); the decision is a
    per-doc left join. At 100 TB the screen tier runs as the always-on
    stream, verify as the batch job over its flags — this query is
    that architecture with the tiers glued, so one driver hash covers
    the composition."""
    docs = _docs(spark, sf_dir)
    # A/B sf0.1 0.45→0.37 / 5.6→16.2 s
    arrs = _shingle_arrays(docs).transform(pin)
    # materialize: bands feeds the bucket-min aggregate, the per-doc
    # flag join, and both candidate sides — left lazy it would
    # re-minhash the corpus four times
    # A/B sf0.1 0.33→0.76 / 5.1→8.5 s, sf1 0.69→3.52 / 23.6→37.8 s
    bands = H.minhash_bands(arrs, "hs").transform(pin)
    bmin = bands.groupBy("band_idx", "band_key").agg(
        F.min("doc_id").alias("first_doc")
    )
    screen = (
        bands.join(bmin, ["band_idx", "band_key"])
        .groupBy("doc_id")
        .agg(
            F.max(
                (F.col("doc_id") > F.col("first_doc")).cast("int")
            ).alias("hit")
        )
    )
    flagged = screen.filter(F.col("hit") == 1).select("doc_id")
    later = bands.join(flagged, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_key"
    )
    earlier = bands.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_key"
    )
    cand = (
        later.join(earlier, ["band_idx", "band_key"])
        .filter(F.col("doc_b") < F.col("doc_a"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ver = _pair_jaccard(cand, arrs).filter(
        F.col("jaccard_raw") >= JACCARD_THRESHOLD
    )
    perdoc = ver.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_verified"),
        F.min("doc_b").alias("canonical_id"),
        F.max(F.round("jaccard_raw", 6)).alias("best_jaccard"),
    )
    return (
        docs.select("doc_id")
        .join(screen.withColumnRenamed("hit", "s_hit"), "doc_id", "left")
        .join(
            perdoc.select(
                "doc_id",
                F.col("n_verified").alias("p_n"),
                F.col("canonical_id").alias("p_canon"),
                F.col("best_jaccard").alias("p_j"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            (F.coalesce(F.col("s_hit"), F.lit(0)) == 1).alias("screen_hit"),
            F.coalesce(F.col("p_n"), F.lit(0)).cast("long").alias("n_verified"),
            F.coalesce(F.col("p_canon"), F.col("doc_id")).alias("canonical_id"),
            F.coalesce(F.col("p_j"), F.lit(0.0)).alias("best_jaccard"),
            F.col("p_n").isNull().alias("is_survivor"),
        )
    )


QUERIES["dedup_two_tier_pipeline"] = dedup_two_tier_pipeline

ORACLE["dedup_two_tier_pipeline"] = f"""
    {_SH_CTES},
    sig AS (
        SELECT doc_id, {_MH_COLS}
        FROM shd WHERE len(hs) > 0
    ),
    bands AS ({_BAND_SELECTS}),
    bmin AS (
        SELECT band_idx, band_key, min(doc_id) AS first_doc
        FROM bands GROUP BY band_idx, band_key
    ),
    screen AS (
        SELECT b.doc_id,
               max(CASE WHEN b.doc_id > m.first_doc THEN 1 ELSE 0 END) AS hit
        FROM bands b JOIN bmin m
          ON m.band_idx = b.band_idx AND m.band_key = b.band_key
        GROUP BY b.doc_id
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND b.doc_id < a.doc_id
        WHERE a.doc_id IN (SELECT doc_id FROM screen WHERE hit = 1)
    ),
    ver AS (
        SELECT doc_a, doc_b, {_JACCARD_SQL} AS j
        FROM cand
        JOIN shd x ON x.doc_id = doc_a
        JOIN shd y ON y.doc_id = doc_b
    ),
    perdoc AS (
        SELECT doc_a AS doc_id,
               CAST(count(*) AS BIGINT) AS n_verified,
               min(doc_b) AS canonical_id,
               max(round(j, 6)) AS best_jaccard
        FROM ver WHERE j >= {JACCARD_THRESHOLD}
        GROUP BY doc_a
    )
    SELECT d.doc_id,
           coalesce(s.hit, 0) = 1 AS screen_hit,
           coalesce(p.n_verified, 0) AS n_verified,
           coalesce(p.canonical_id, d.doc_id) AS canonical_id,
           coalesce(p.best_jaccard, 0.0) AS best_jaccard,
           p.doc_id IS NULL AS is_survivor
    FROM documents d
    LEFT JOIN screen s ON s.doc_id = d.doc_id
    LEFT JOIN perdoc p ON p.doc_id = d.doc_id
"""


# The round-8 cohort registers after dedup_two_tier_pipeline: module
# order breaks ties in the registry's verdict-window ordering.
QUERIES["simhash_hamming_join"] = simhash_hamming_join
QUERIES["dedup_incremental_lsh"] = dedup_incremental_lsh
QUERIES["lsh_recall_audit"] = lsh_recall_audit
