"""Round-6 surface extensions — the SQL features a reference user
reaches for next once the §2.2 matrix is green, each exercised through
the engine's *SQL text* path where that is the surface being claimed:

- ``lateral_topn_customers``: correlated LATERAL subquery with ORDER
  BY + LIMIT (top-N-per-group written the SQL-standard way, not as a
  window filter) — planner support pinned on both engines.
- ``recursive_supplier_chain``: a genuine Spark-side ``WITH
  RECURSIVE`` (Spark 4 recursion; until now recursion appeared only in
  DuckDB oracles, e.g. ``dedup_canonical_chain``). Binary parent walk
  ⇒ depth is O(log max_key): structurally terminating.
- ``moments_mode_median``: deterministic mode / lower-median /
  third-moment skewness from integer power sums — the heavy-stats
  profiling cell (mode tie-break pinned, skewness via +,-,*,/,sqrt
  only so both engines produce bit-identical doubles).
- ``token_budget_plan``: global "fill a token budget in curriculum
  order" cut — the SAME two-phase distributed prefix-sum as
  ``window_distribution_ranks``, at the hardest partition cardinality
  (ONE global ordering, no partition key at all).
- ``cross_lingual_contamination``: shared word-3-gram shingles across
  language pairs — the cross-lingual leakage audit of a multilingual
  training corpus; posting lists are bounded by the language count
  (≤ C(5,2) pairs per shingle), so the join cannot blow up.

The reference (a Kinesis consumer, src/processor.rs) has none of this;
all five are north-star §2.2/§6 scope. Shingle/token/hash primitives
are the engine-portable pair from ``functions/hashes.py``, so values
are bit-identical to the DuckDB oracle by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashes as H
from ..io import fan_out_narrow
from ..io import load_table as _t
from ..persist import pin

TOPN_PER_NATION = 3
TOKEN_BUDGET = 10_000
MOMENT_TYPES_NOTE = "per-value table bounded by the cents DOMAIN"


def lateral_topn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by account balance per nation via a correlated
    LATERAL subquery with ORDER BY + LIMIT — the SQL-standard
    top-N-per-group formulation, pinned through ``spark.sql`` because
    the *planner surface* (lateral correlation + per-group limit
    pushdown) is what this query claims.

    Scale: Catalyst rewrites the lateral into a ranked join — no
    per-nation driver loop, no cartesian; the per-group LIMIT bounds
    the join output at groups × N rows. Integer cents, tie-break on
    custkey, so both engines agree exactly."""
    for name in ("nation", "customer"):
        _t(spark, sf_dir, name).createOrReplaceTempView(f"gzk4_{name}")
    return spark.sql(
        f"""
        SELECT n.n_name AS nation, t.custkey, t.acct_cents
        FROM gzk4_nation n,
        LATERAL (
            SELECT c_custkey AS custkey,
                   CAST(floor(c_acctbal * 100) AS BIGINT) AS acct_cents
            FROM gzk4_customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY acct_cents DESC, custkey
            LIMIT {TOPN_PER_NATION}
        ) t
        """
    )


def recursive_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native ``WITH RECURSIVE``: walk every supplier key up its
    binary parent chain (parent = key div 2) to the root and profile
    the chain population per depth. The shape every hierarchy walk
    (org chart, BOM, thread tree) reduces to; depth is bounded by
    log2(max key), so the recursion provably terminates and the state
    per iteration shrinks geometrically.

    Scale: each recursive step is one self-union + filter over the
    frontier — Spark executes it as iterative plan expansion with the
    frontier shrinking by construction; no driver-side loop in user
    code."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("gzk4_supplier")
    return spark.sql(
        """
        WITH RECURSIVE chain(start_key, cur, depth) AS (
            SELECT s_suppkey, s_suppkey, CAST(0 AS INT) FROM gzk4_supplier
            UNION ALL
            SELECT start_key, cur div 2, depth + 1 FROM chain WHERE cur > 0
        )
        SELECT depth,
               count(*) AS n_nodes,
               min(start_key) AS min_start,
               max(start_key) AS max_start,
               CAST(sum(cur) AS BIGINT) AS sum_cur
        FROM chain GROUP BY depth
        """
    )


def moments_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-stats profile per event type: deterministic mode (most
    frequent cents value, ties to the SMALLEST value), lower median
    (smallest value whose running count reaches ceil(n/2)) and
    population skewness — the three cells a stats profiler adds over
    ``profile_columns``' min/max/avg.

    Determinism across engines: counts/medians are pure integers; the
    power sums s1..s3 are exact decimal(38,0) (cents³ ≈ 10¹⁵ per row —
    headroom to ~10²² rows); skewness is assembled from them with
    +,-,*,/ and sqrt ONLY (all IEEE correctly-rounded, unlike pow),
    so the final doubles are bit-identical before the 6-dp round.

    Scale: one corpus-scale aggregate to the per-(type, cents) table —
    bounded by the value DOMAIN like ``quantile_sketch_audit`` (and
    the same guard applies if the domain were unbounded); mode/median
    derive from that bounded table, moments from one direct agg."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.floor(F.col("value") * 100).cast("bigint").alias("cents")
    )
    d38 = "decimal(38,0)"
    c = F.col("cents").cast(d38)
    moments = base.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(c).alias("s1"),
        F.sum(c * c).alias("s2"),
        F.sum(c * c * c).alias("s3"),
    )
    vc = base.groupBy("event_type", "cents").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    w_mode = Window.partitionBy("event_type").orderBy(
        F.desc("cnt"), F.asc("cents")
    )
    mode = (
        vc.withColumn("rk", F.row_number().over(w_mode))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("cents").alias("mode_cents"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = (
        vc.withColumn("cum", F.sum("cnt").over(w_cum))
        .join(moments.select("event_type", "n_events"), "event_type")
        .filter(F.col("cum") * 2 >= F.col("n_events"))
        .groupBy("event_type")
        .agg(F.min("cents").alias("median_cents"))
    )
    out = moments.join(mode, "event_type").join(med, "event_type")
    nd = F.col("n_events").cast("double")
    x1 = F.col("s1").cast("double") / nd
    x2 = F.col("s2").cast("double") / nd
    x3 = F.col("s3").cast("double") / nd
    m2 = x2 - x1 * x1
    m3 = x3 - F.lit(3.0) * x1 * x2 + F.lit(2.0) * x1 * x1 * x1
    return out.select(
        "event_type",
        "n_events",
        "mode_cents",
        "median_cents",
        F.round(
            F.when(m2 > 0.0, m3 / (m2 * F.sqrt(m2))), 6
        ).alias("skew6"),
    )


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a global token budget in curriculum order (longest
    documents first, doc_id tie-break): how many documents fit under
    ``TOKEN_BUDGET`` whitespace tokens and how many tokens they use —
    the admission cut every fixed-budget training run computes.

    The global running sum is the HARDEST case of the two-phase
    distributed prefix-sum (``window_distribution_ranks``,
    ``interval_concurrency_peak``): there is NO partition key at all,
    so a naive ``Window.orderBy(...)`` would sort the entire corpus in
    one task. Phase 1 ranks within (n_chars div 64) value buckets —
    each sort bounded by one length slice; phase 2 prefix-sums the
    per-bucket token totals (one tiny relation, buckets ordered
    longest-first) and broadcasts the offsets; the final admission
    fold is a single scalar aggregate."""
    # r13 quiet-host re-A/B: fan-out REVERTED (0.48 vs 0.75 fanned)
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.size(H.tokens_col(F.col("text"))).cast("bigint").alias("tok"),
    ).withColumn("vb", F.expr("n_chars div 64"))
    from pyspark.sql import Window

    # within-bucket running sum, curriculum (longest-first) order
    w_in = (
        Window.partitionBy("vb")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = toks.withColumn("cum_in", F.sum("tok").over(w_in))
    totals = toks.groupBy("vb").agg(F.sum("tok").alias("t"))
    w_off = (
        Window.orderBy(F.desc("vb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # over the BUCKET relation only — bounded by the length domain
    offsets = totals.select(
        "vb", F.coalesce(F.sum("t").over(w_off), F.lit(0)).alias("off")
    )
    cum = inner.join(F.broadcast(offsets), "vb").withColumn(
        "c", F.col("off") + F.col("cum_in")
    )
    fits = F.col("c") <= TOKEN_BUDGET
    # coalesce the sums so an empty corpus reports zeros like the
    # oracle's coalesced sums (same latent-empty-parity rule as
    # datafile_zonemap_audit)
    return cum.agg(
        F.lit(TOKEN_BUDGET).cast("bigint").alias("budget_tokens"),
        F.coalesce(F.sum(F.when(fits, 1).otherwise(0)), F.lit(0)).alias(
            "n_included"
        ),
        F.coalesce(F.max(F.when(fits, F.col("c"))), F.lit(0)).alias(
            "tokens_used"
        ),
        F.count("*").alias("n_docs_total"),
        F.coalesce(F.sum("tok"), F.lit(0)).alias("tokens_total"),
    )


def cross_lingual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual leakage audit: for every language pair, how many
    distinct word-3-gram shingles both languages contain, and the
    overlap coefficient |A∩B| / min(|A|,|B|) — high overlap between a
    training language and an eval language is contamination a
    multilingual pipeline must catch (same threat class as
    ``decontaminate_ngram``, measured corpus-wide per language).

    Scale: the corpus collapses to the DISTINCT (lang, shingle-hash)
    relation in one shuffle; the pair join fans out at most
    C(langs, 2) rows per shingle (posting list bounded by the language
    COUNT, not document frequency), and per-language totals broadcast.
    No similarity join, no doc×doc pairs anywhere.

    Hashing: each TOKEN is char-hashed once and shingle hashes are
    composed from three token hashes ((h₁·31² + h₂·31 + h₃) mod P) —
    3-4× less char work than hashing every overlapping shingle string
    (measured 6× end-to-end: 6.7 s → 1.1 s at sf0.1). The token-hash
    array MUST be materialized in its own projection first: Spark does
    no common-subexpression elimination inside higher-order-function
    lambdas, so referencing the transform() expression three times
    per shingle re-evaluates the whole array per reference (measured
    47 s — worse than the naive plan)."""
    # fan out before the per-token char hashing: a single-file scan is
    # one partition and the interpreted HOF then runs one-core (the
    # decontaminate_ngram lesson, SCALE.md r12); no-op on a multi-split
    # scan
    docs = fan_out_narrow(_t(spark, sf_dir, "documents"))
    pre = docs.select(
        "lang",
        F.transform(H.tokens_col(F.col("text")), H.char_hash_col).alias(
            "th"
        ),
    )
    shingle_hs = F.array_distinct(
        F.when(
            F.size("th") >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size("th") - 2),
                lambda i: (
                    F.element_at(F.col("th"), i) * 961
                    + F.element_at(F.col("th"), i + 1) * 31
                    + F.element_at(F.col("th"), i + 2)
                )
                % H.P,
            ),
        ).otherwise(F.array().cast("array<long>"))
    )
    # r13 (guide §2.4): pin the distinct (lang, shash) relation. It is
    # BOUNDED — |languages| × |shingle vocabulary|, independent of how
    # many documents carry each shingle — and the r12 lazy plan
    # re-executed its whole subtree (scan → per-token char-hash HOF →
    # shingle compose → explode → 2-phase distinct) THREE times: once
    # per self-join side and once for the totals
    # (plans/r13/cross_lingual_contamination_before.txt). One pass +
    # replay is strictly less work at every scale.
    # A/B sf0.1 0.22→1.07 / 1.3→3.2 s, sf1 1.03→7.43 / 6.4→17.2 s
    sh = pin(
        pre.select("lang", F.explode(shingle_hs).alias("shash")).distinct()
    )
    totals = sh.groupBy("lang").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("lang").alias("lang_a"), "shash")
    b = sh.select(F.col("lang").alias("lang_b"), F.col("shash").alias("shash_b"))
    pairs = (
        a.join(b, (F.col("shash") == F.col("shash_b")) & (F.col("lang_a") < F.col("lang_b")))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").alias("n_shared"))
    )
    ta = totals.select(F.col("lang").alias("lang_a"), F.col("n_sh").alias("n_a"))
    tb = totals.select(F.col("lang").alias("lang_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "lang_a")
        .join(F.broadcast(tb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("overlap6"),
        )
    )


def groupby_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` dialect surface through ``spark.sql``: order
    counts and integer-cent revenue per (priority, order year) with
    the grouping keys inferred from the select list — the analyst
    shorthand both engines support; pinned so the inference resolves
    identically (all non-aggregate expressions become keys)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("gzk4_orders")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               CAST(year(o_orderdate) AS INT) AS order_year,
               count(*) AS n_orders,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM gzk4_orders
        GROUP BY ALL
        """
    )


TRY_MUL_CONST = 1_000_000_000_000_000  # overflows int64 for cents > ~9223
TRY_SALT_MOD = 97  # registered/benched variant: ~1% error density
TRY_SALT_MOD_DENSE = 3  # pytest semantics pin: ~33% error density


def _try_functions_frame(
    spark: SparkSession, sf_dir: str, salt_mod: int
) -> DataFrame:
    """Shared builder for ``try_functions_audit``: rows where
    ``(cents + ln) % salt_mod == 0`` take all three error paths
    (junk-char parse failure, zero divisor, int64-overflowing
    multiplier); clean rows parse/divide/multiply normally."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    base = (
        li.select(
            cents.alias("cents"),
            F.col("l_linenumber").cast("bigint").alias("ln"),
        )
        .withColumn("is_err", (F.col("cents") + F.col("ln")) % salt_mod == 0)
        .withColumn(
            "s",
            F.concat(
                F.col("cents").cast("string"),
                F.when(F.col("is_err"), F.lit("x")).otherwise(F.lit("")),
            ),
        )
    )
    parsed = F.expr("try_cast(s AS BIGINT)")
    div = F.expr(
        "floor(try_divide(cents,"
        " CASE WHEN is_err THEN CAST(0 AS BIGINT) ELSE ln + 1 END) * 100)"
    ).cast("bigint")
    mul = F.expr(
        "try_multiply(cents,"
        f" CASE WHEN is_err THEN CAST({TRY_MUL_CONST} AS BIGINT)"
        " ELSE CAST(1 AS BIGINT) END)"
    )
    return base.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(parsed.isNull(), 1).otherwise(0)).alias("n_parse_fail"),
        F.sum(parsed).alias("sum_parsed"),
        F.sum(F.when(div.isNull(), 1).otherwise(0)).alias("n_div_null"),
        F.sum(div).alias("sum_div_floor"),
        F.sum(F.when(mul.isNull(), 1).otherwise(0)).alias("n_overflow"),
    )


def try_functions_oracle_sql(salt_mod: int) -> str:
    """DuckDB restatement of ``_try_functions_frame`` at the given salt
    density — shared by the registered ORACLE (``TRY_SALT_MOD``) and
    the error-dense pytest pin (``TRY_SALT_MOD_DENSE``)."""
    return f"""
        WITH base AS (
            SELECT cents, ln,
                   ((cents + ln) % {salt_mod} = 0) AS is_err,
                   concat(CAST(cents AS VARCHAR),
                          CASE WHEN (cents + ln) % {salt_mod} = 0
                               THEN 'x' ELSE '' END) AS s
            FROM (
                SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
                       CAST(l_linenumber AS BIGINT) AS ln
                FROM lineitem
            )
        ),
        x AS (
            SELECT try_cast(s AS BIGINT) AS parsed,
                   CASE WHEN is_err THEN NULL
                        ELSE CAST(floor((CAST(cents AS DOUBLE) / (ln + 1))
                                        * 100) AS BIGINT) END AS div_floor,
                   CASE WHEN NOT is_err THEN cents
                        WHEN CAST(cents AS HUGEINT) * {TRY_MUL_CONST}
                             BETWEEN -9223372036854775808
                                 AND 9223372036854775807
                        THEN cents * {TRY_MUL_CONST} END AS mul
            FROM base
        )
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_parse_fail,
               CAST(sum(parsed) AS BIGINT) AS sum_parsed,
               CAST(sum(CASE WHEN div_floor IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_div_null,
               CAST(sum(div_floor) AS BIGINT) AS sum_div_floor,
               CAST(sum(CASE WHEN mul IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_overflow
        FROM x
    """


def try_functions_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic surface — the ``try_*`` family a curation
    pipeline uses so one malformed record NULLs out instead of failing
    the job: ``try_cast`` on salted numeric strings, ``try_divide``
    with an occasionally-zero divisor, ``try_multiply`` driven into
    int64 overflow. The DuckDB oracle restates each semantic
    explicitly (CASE divisor=0, HUGEINT range check), so this query
    PINS Spark's documented null-on-error behavior rather than
    assuming it.

    Determinism: per-row doubles are floored to bigint before the sum
    (double summation order would otherwise differ between engines);
    everything else is integer. One scan, one aggregate.

    Measured cost model (sf0.1, local[32]): Spark implements try_* by
    catching the underlying JVM exception PER FAILING ROW, so the cost
    is proportional to the ERROR count, not the row count — try_cast
    0.22 s with zero parse errors vs 1.39 s at 33% error density;
    try_multiply 0.15 s clean vs 1.61 s overflow-dense. At production
    error rates (<0.1%) try_* is free; for known-error-dense
    validation scans, pre-filter with a guard predicate (RLIKE / range
    check) and keep try_* as the safety net, not the classifier.

    The registered/benched variant salts ~1% of rows
    (``(cents + ln) % 97 == 0``) so the headline bench
    measures the try_* arithmetic path at a production-shaped error
    rate; the original error-dense 33% variant — where exception
    unwinding IS the workload by construction — stays pinned against
    DuckDB in ``tests/test_relational4.py`` (r6 verdict: an artificial
    worst case shouldn't sit in the headline total)."""
    return _try_functions_frame(spark, sf_dir, TRY_SALT_MOD)


MIN_COLLOC_COUNT = 5
TOP_COLLOCATIONS = 20


def collocation_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by PMI — the corpus-health mining step
    that surfaces boilerplate phrases ("click here", license headers)
    a curation pipeline should strip before training.

    PMI is reported as its *linear-space* lift
    ``p(w1 w2) / (p(w1) p(w2))`` — the exact monotone transform of
    PMI — because ``ln()`` is not correctly rounded cross-engine
    (house rule, see ``ngram_lm_score``). Every lift is a fixed
    sequence of correctly-rounded double divisions of exact counts,
    so ordering and values are bit-identical to the oracle.

    Scale: bigram and unigram counts are two map-side-combinable
    shuffles; the candidate relation is cut to ``c_bg ≥
    {MIN_COLLOC_COUNT}`` *before* the vocab joins; corpus totals
    broadcast as 1-row scalars; the final top-k is TakeOrdered (per-
    partition heaps), never a global sort."""
    # r13 quiet-host re-A/B: fan-out REVERTED (0.77 vs 1.12 fanned)
    toks = _t(spark, sf_dir, "documents").select(
        H.tokens_col(F.col("text")).alias("toks")
    )
    bg = toks.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    uni = toks.select(F.explode("toks").alias("token"))
    cb = bg.groupBy("bigram").agg(F.count("*").alias("c_bg"))
    # referenced twice (w1 and w2 joins) inside one plan; a pin here
    # paid nothing (steady 0.49 → 0.46 s at sf0.1, 1.89 → 2.37 s ± 0.74
    # at sf1 without it)
    cu = uni.groupBy("token").agg(F.count("*").alias("c"))
    # corpus totals come from array SIZES in one scan — no explode, no
    # shuffle, and no recompute of the count relations (folding cb/cu
    # here would re-scan the token stream)
    tot = toks.agg(
        F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).alias("n_bg"),
        F.sum(F.size("toks")).alias("n_uni"),
    )
    w = F.split(F.col("bigram"), " ")
    cand = (
        cb.filter(F.col("c_bg") >= MIN_COLLOC_COUNT)
        .withColumn("w1", w.getItem(0))
        .withColumn("w2", w.getItem(1))
        .join(
            cu.select(F.col("token").alias("w1"), F.col("c").alias("c1")),
            "w1",
        )
        .join(
            cu.select(F.col("token").alias("w2"), F.col("c").alias("c2")),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
    )
    lift = (
        F.col("c_bg").cast("double") / F.col("n_bg").cast("double")
    ) / (
        (F.col("c1").cast("double") / F.col("n_uni").cast("double"))
        * (F.col("c2").cast("double") / F.col("n_uni").cast("double"))
    )
    return (
        cand.select(
            "bigram",
            "c_bg",
            "c1",
            "c2",
            F.round(lift, 6).alias("lift6"),
            lift.alias("_l"),
        )
        .orderBy(F.desc("_l"), F.asc("bigram"))
        .limit(TOP_COLLOCATIONS)
        .drop("_l")
    )


SPAN_N = 8  # exact-substring window length, in tokens


def duplicate_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication audit (the Spark shape of Lee et
    al.'s "Deduplicating Training Data" suffix scan): hash every
    {SPAN_N}-token window, count how many *distinct documents* each
    span appears in, and report the document-frequency histogram —
    ``dup_df = 1`` is unique text; the ``dup_df ≥ 2`` tail is the
    copy-paste mass an exact-substring deduper would cut.

    Span hashes are a Horner fold of per-token char hashes ((…(h_i·31
    + h_{{i+1}})·31…) mod P) — each token's chars are hashed ONCE into
    a materialized array column (Spark does no CSE inside HOF lambdas;
    see ``cross_lingual_contamination``), then every window is 7
    multiply-adds, not a string re-hash.

    Scale: in-row ``array_distinct`` dedups a doc's own repeats before
    the explode, so the shuffled relation is ≤ one row per (doc,
    distinct span); both aggregations are uniform-key hash shuffles
    with map-side combine; output is bounded by the distinct
    document-frequency values. No joins at all."""
    # fan-out: one-core interpreted-HOF hazard on single-file scans
    pre = fan_out_narrow(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.transform(H.tokens_col(F.col("text")), H.char_hash_col).alias(
            "th"
        ),
    )
    spans = F.array_distinct(H.horner_windows_col(F.col("th"), SPAN_N))
    per_span = (
        pre.select(F.explode(spans).alias("shash"))
        .groupBy("shash")
        .agg(F.count("*").alias("dup_df"))
    )
    return (
        per_span.groupBy("dup_df")
        .agg(F.count("*").alias("n_spans"))
        .orderBy("dup_df")
    )


HEAPS_STEPS = 4  # quartile checkpoints over the doc_id range


def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth audit: distinct-vocabulary size at
    doc-id quartile checkpoints of the corpus — the curve a data team
    plots to decide whether more crawl still buys new vocabulary.
    Sub-linear growth (V ∝ N^β, β<1) is healthy; near-linear growth
    flags a corpus still full of novel junk tokens.

    Log-free by design: each token's FIRST document (min doc_id) is
    computed once, and "vocabulary at checkpoint t" is just a
    conditional count of first-occurrences ≤ t — exact integers, no
    cumulative-distinct window, no ln(). Token volume per checkpoint
    folds the same way from per-doc token counts.

    Scale: one vocab-bounded ``groupBy(token).min(doc_id)`` shuffle +
    one scan of per-doc lengths; all {HEAPS_STEPS} checkpoints come
    out of the SAME single-pass conditional aggregates (no per-
    checkpoint rescan); the two 1-row results broadcast-join."""
    # r13 quiet-host re-A/B: fan-out REVERTED (0.22 vs 0.43 fanned)
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", H.tokens_col(F.col("text")).alias("toks")
    )
    mx = toks.agg(F.max("doc_id").alias("mx"))
    dl = toks.select("doc_id", F.size("toks").alias("n")).crossJoin(
        F.broadcast(mx)
    )
    fo = (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(mx))
    )

    def thr(k: int):
        return F.floor(F.col("mx") * k / HEAPS_STEPS)

    doc_side = dl.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("doc_id") <= thr(k), 1)), F.lit(0)
            ).alias(f"d{k}")
            for k in range(1, HEAPS_STEPS + 1)
        ],
        *[
            F.coalesce(
                F.sum(F.when(F.col("doc_id") <= thr(k), F.col("n"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"t{k}")
            for k in range(1, HEAPS_STEPS + 1)
        ],
    )
    vocab_side = fo.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("first_doc") <= thr(k), 1)), F.lit(0)
            ).alias(f"v{k}")
            for k in range(1, HEAPS_STEPS + 1)
        ]
    )
    wide = doc_side.crossJoin(F.broadcast(vocab_side))
    stack_args = ", ".join(
        f"{k * 100 // HEAPS_STEPS}, d{k}, t{k}, v{k}"
        for k in range(1, HEAPS_STEPS + 1)
    )
    return wide.selectExpr(
        f"stack({HEAPS_STEPS}, {stack_args}) AS "
        "(checkpoint_pct, n_docs, n_tokens_cum, vocab_cum)"
    )


QUERIES = {
    "lateral_topn_customers": lateral_topn_customers,
    "recursive_supplier_chain": recursive_supplier_chain,
    "moments_mode_median": moments_mode_median,
    "token_budget_plan": token_budget_plan,
    "cross_lingual_contamination": cross_lingual_contamination,
    "groupby_all_revenue": groupby_all_revenue,
    "try_functions_audit": try_functions_audit,
    "collocation_pmi_top": collocation_pmi_top,
    "duplicate_span_audit": duplicate_span_audit,
    "vocab_growth_heaps": vocab_growth_heaps,
}

_TOKENS = H.TOKENS_SQL.format(text="text")
_CHASH = H.CHAR_HASH_SQL.format(s="s")

ORACLE = {
    "lateral_topn_customers": f"""
        SELECT n.n_name AS nation, t.custkey, t.acct_cents
        FROM nation n,
        LATERAL (
            SELECT c_custkey AS custkey,
                   CAST(floor(c_acctbal * 100) AS BIGINT) AS acct_cents
            FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY acct_cents DESC, custkey
            LIMIT {TOPN_PER_NATION}
        ) t
    """,
    "recursive_supplier_chain": """
        WITH RECURSIVE chain(start_key, cur, depth) AS (
            SELECT s_suppkey, s_suppkey, CAST(0 AS INTEGER) FROM supplier
            UNION ALL
            SELECT start_key, cur // 2, depth + 1 FROM chain WHERE cur > 0
        )
        SELECT depth,
               count(*) AS n_nodes,
               min(start_key) AS min_start,
               max(start_key) AS max_start,
               CAST(sum(cur) AS BIGINT) AS sum_cur
        FROM chain GROUP BY depth
    """,
    "moments_mode_median": """
        WITH base AS (
            SELECT event_type,
                   CAST(floor(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        moments AS (
            SELECT event_type, count(*) AS n_events,
                   sum(CAST(cents AS DECIMAL(38,0))) AS s1,
                   sum(CAST(cents AS DECIMAL(38,0))
                       * CAST(cents AS DECIMAL(38,0))) AS s2,
                   sum(CAST(cents AS DECIMAL(38,0))
                       * CAST(cents AS DECIMAL(38,0))
                       * CAST(cents AS DECIMAL(38,0))) AS s3
            FROM base GROUP BY 1
        ),
        vc AS (
            SELECT event_type, cents, count(*) AS cnt
            FROM base GROUP BY 1, 2
        ),
        mode_t AS (
            SELECT event_type, cents AS mode_cents FROM (
                SELECT event_type, cents,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY cnt DESC, cents) AS rk
                FROM vc
            ) WHERE rk = 1
        ),
        med AS (
            SELECT event_type, min(cents) AS median_cents FROM (
                SELECT v.event_type, v.cents,
                       sum(v.cnt) OVER (PARTITION BY v.event_type
                                        ORDER BY v.cents) AS cum,
                       m.n_events
                FROM vc v JOIN moments m USING (event_type)
            ) WHERE cum * 2 >= n_events GROUP BY 1
        )
        SELECT m.event_type, m.n_events, mo.mode_cents, me.median_cents,
               round(CASE WHEN (CAST(s2 AS DOUBLE) / n_events
                                - (CAST(s1 AS DOUBLE) / n_events)
                                  * (CAST(s1 AS DOUBLE) / n_events)) > 0
                   THEN (CAST(s3 AS DOUBLE) / n_events
                         - 3.0 * (CAST(s1 AS DOUBLE) / n_events)
                               * (CAST(s2 AS DOUBLE) / n_events)
                         + 2.0 * (CAST(s1 AS DOUBLE) / n_events)
                               * (CAST(s1 AS DOUBLE) / n_events)
                               * (CAST(s1 AS DOUBLE) / n_events))
                        / ((CAST(s2 AS DOUBLE) / n_events
                            - (CAST(s1 AS DOUBLE) / n_events)
                              * (CAST(s1 AS DOUBLE) / n_events))
                           * sqrt(CAST(s2 AS DOUBLE) / n_events
                                  - (CAST(s1 AS DOUBLE) / n_events)
                                    * (CAST(s1 AS DOUBLE) / n_events)))
                   END, 6) AS skew6
        FROM moments m
        JOIN mode_t mo USING (event_type)
        JOIN med me USING (event_type)
    """,
    "token_budget_plan": f"""
        WITH toks AS (
            SELECT doc_id, n_chars,
                   CAST(len({_TOKENS}) AS BIGINT) AS tok
            FROM documents
        ),
        cum AS (
            SELECT *, sum(tok) OVER (ORDER BY n_chars DESC, doc_id) AS c
            FROM toks
        )
        SELECT CAST({TOKEN_BUDGET} AS BIGINT) AS budget_tokens,
               CAST(coalesce(sum(CASE WHEN c <= {TOKEN_BUDGET} THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_included,
               CAST(coalesce(max(CASE WHEN c <= {TOKEN_BUDGET} THEN c END), 0)
                    AS BIGINT) AS tokens_used,
               count(*) AS n_docs_total,
               CAST(coalesce(sum(tok), 0) AS BIGINT) AS tokens_total
        FROM cum
    """,
    "groupby_all_revenue": """
        SELECT o_orderpriority AS priority,
               CAST(year(o_orderdate) AS INT) AS order_year,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        GROUP BY ALL
    """,
    "try_functions_audit": try_functions_oracle_sql(TRY_SALT_MOD),
    "cross_lingual_contamination": f"""
        WITH pre AS (
            SELECT lang,
                   list_transform({_TOKENS}, s -> {_CHASH}) AS th
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT lang, unnest(hs) AS shash FROM (
                SELECT lang,
                       list_distinct(CASE WHEN len(th) >= 3 THEN
                           list_transform(generate_series(1, len(th) - 2),
                               i -> (th[i] * 961 + th[i+1] * 31 + th[i+2])
                                    % 2147483647)
                           ELSE CAST([] AS BIGINT[]) END) AS hs
                FROM pre
            )
        ),
        totals AS (SELECT lang, count(*) AS n_sh FROM sh GROUP BY 1),
        pairs AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared
            FROM sh a JOIN sh b ON a.shash = b.shash AND a.lang < b.lang
            GROUP BY 1, 2
        )
        SELECT p.lang_a, p.lang_b, p.n_shared,
               ta.n_sh AS n_a, tb.n_sh AS n_b,
               round(CAST(p.n_shared AS DOUBLE)
                     / CAST(least(ta.n_sh, tb.n_sh) AS DOUBLE), 6) AS overlap6
        FROM pairs p
        JOIN totals ta ON p.lang_a = ta.lang
        JOIN totals tb ON p.lang_b = tb.lang
    """,
    "collocation_pmi_top": f"""
        WITH tk AS (SELECT {_TOKENS} AS toks FROM documents),
        bg AS (
            SELECT unnest(CASE WHEN len(toks) >= 2 THEN
                list_transform(generate_series(1, len(toks) - 1),
                    i -> concat(toks[i], ' ', toks[i+1]))
                ELSE CAST([] AS VARCHAR[]) END) AS bigram
            FROM tk
        ),
        uni AS (SELECT unnest(toks) AS token FROM tk),
        cb AS (SELECT bigram, count(*) AS c_bg FROM bg GROUP BY 1),
        cu AS (SELECT token, count(*) AS c FROM uni GROUP BY 1),
        tot AS (SELECT (SELECT count(*) FROM bg) AS n_bg,
                       (SELECT count(*) FROM uni) AS n_uni),
        cand AS (
            SELECT b.bigram, b.c_bg, u1.c AS c1, u2.c AS c2,
                   (CAST(b.c_bg AS DOUBLE) / CAST(t.n_bg AS DOUBLE))
                   / ((CAST(u1.c AS DOUBLE) / CAST(t.n_uni AS DOUBLE))
                      * (CAST(u2.c AS DOUBLE) / CAST(t.n_uni AS DOUBLE)))
                       AS lift
            FROM cb b
            JOIN cu u1 ON string_split(b.bigram, ' ')[1] = u1.token
            JOIN cu u2 ON string_split(b.bigram, ' ')[2] = u2.token
            CROSS JOIN tot t
            WHERE b.c_bg >= {MIN_COLLOC_COUNT}
        )
        SELECT bigram, c_bg, c1, c2, round(lift, 6) AS lift6
        FROM cand
        ORDER BY lift DESC, bigram
        LIMIT {TOP_COLLOCATIONS}
    """,
    "duplicate_span_audit": f"""
        WITH pre AS (
            SELECT doc_id,
                   list_transform({_TOKENS}, s -> {_CHASH}) AS th
            FROM documents
        ),
        sp AS (
            SELECT unnest(list_distinct(CASE WHEN len(th) >= {SPAN_N} THEN
                list_transform(generate_series(1, len(th) - {SPAN_N - 1}),
                    i -> list_reduce(th[i:i+{SPAN_N - 1}],
                                     (acc, x) -> (acc * 31 + x)
                                                 % 2147483647))
                ELSE CAST([] AS BIGINT[]) END)) AS shash
            FROM pre
        ),
        dfc AS (SELECT shash, count(*) AS dup_df FROM sp GROUP BY 1)
        SELECT dup_df, count(*) AS n_spans FROM dfc GROUP BY 1
    """,
    "vocab_growth_heaps": f"""
        WITH tk AS (
            SELECT doc_id, {_TOKENS} AS toks FROM documents
        ),
        mx AS (SELECT max(doc_id) AS mx FROM tk),
        fo AS (
            SELECT token, min(doc_id) AS first_doc FROM (
                SELECT doc_id, unnest(toks) AS token FROM tk
            ) GROUP BY 1
        ),
        ck AS (
            SELECT k, CAST(floor(mx.mx * k / {HEAPS_STEPS}.0) AS BIGINT)
                       AS t
            FROM generate_series(1, {HEAPS_STEPS}) AS g(k), mx
        )
        SELECT CAST(k * 100 // {HEAPS_STEPS} AS INT) AS checkpoint_pct,
               CAST((SELECT coalesce(sum(CASE WHEN doc_id <= t THEN 1 END),
                                     0) FROM tk) AS BIGINT) AS n_docs,
               CAST((SELECT coalesce(sum(CASE WHEN doc_id <= t
                                     THEN len(toks) END), 0) FROM tk)
                    AS BIGINT) AS n_tokens_cum,
               CAST((SELECT coalesce(sum(CASE WHEN first_doc <= t
                                     THEN 1 END), 0) FROM fo)
                    AS BIGINT) AS vocab_cum
        FROM ck
    """,
}


# --- r7-staged, registered at round 8: exact-substring span SCRUB ---------------------
# (registered at the round-8 merge; see the module-end merge block)

SCRUB_ENC = 1_000_000_000  # (doc_id, pos) -> one bigint first-occurrence key
GREEDY_ENC = 10_000_000  # (last_end, n_removed) -> one bigint fold state


def duplicate_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL plan — the operation behind
    ``duplicate_span_audit``'s histogram (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", public literature):
    every {SPAN_N}-token window whose hash occurred EARLIER in the
    corpus (global order = (doc_id, position)) is a duplicate instance;
    per document, a greedy left-to-right pass removes non-overlapping
    duplicate windows and reports the surviving token mass.

    Determinism: the "first occurrence" of a span is the minimum of the
    encoded key ``doc_id * {SCRUB_ENC} + pos`` (positions are 1-based
    token offsets, bounded far below the encoder base); the greedy pass
    is a sequential fold over the SORTED duplicate positions with the
    pair state packed into ONE bigint ``last_end * {GREEDY_ENC} +
    n_removed`` and a BRANCH-FREE step ``acc += [p >= last_end] ·
    ((p + {SPAN_N} - last_end) · {GREEDY_ENC} + 1)``. Both the packing
    and the branch-freedom are deliberate: DuckDB 1.0's ``list_reduce``
    mis-evaluates lambdas with a conditional pass-through branch
    (CASE/struct forms both reproduced 2/96 rows wrong in bulk
    vectorized evaluation while correct on single filtered rows —
    pinned by ``test_duck_list_reduce_conditional_hazard``), whereas
    the unconditional-arithmetic fold is the same shape as this repo's
    everywhere-green char hash. Decode arithmetic stays exact:
    ``n = acc % {GREEDY_ENC}`` is pure integer, and ``last_end =
    (acc - n) / {GREEDY_ENC}`` divides two exactly-representable
    doubles with an integer quotient — exact while documents stay under
    ~{GREEDY_ENC // SPAN_N:,} tokens (a ~300 MB single document; far
    past any curated corpus row).

    Scale: span instances are one explode away from the token arrays
    (positions kept, so no in-row distinct — a doc repeating its own
    span sees later copies as duplicates too); first-occurrence is ONE
    window-min shuffle keyed on span hash (uniform 2^31 domain); the
    greedy fold runs per doc after a groupBy(doc_id) whose value list
    is the doc's duplicate positions only (∝ duplicated text, not doc
    length). Nothing is quadratic, nothing collects."""
    # fan-out: one-core interpreted-HOF hazard on single-file scans
    pre = fan_out_narrow(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.transform(H.tokens_col(F.col("text")), H.char_hash_col).alias("th"),
    )
    spans = H.horner_windows_col(F.col("th"), SPAN_N)
    # posexplode DIRECTLY from the projection that materializes th: an
    # intermediate select(spans.alias(...)) lets CollapseProject inline
    # the token-hash transform into every span window (re-hashing all
    # tokens per span — measured 90× slower at sf1; the same no-CSE
    # hazard duplicate_span_audit's docstring pins)
    inst = pre.select(
        "doc_id",
        F.size("th").alias("n_tokens"),
        F.posexplode(spans).alias("p0", "shash"),
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("p0") + 1).cast("long").alias("pos"),
        "shash",
    )
    wmin = Window.partitionBy("shash")
    dups = (
        inst.withColumn(
            "first_key",
            F.min(F.col("doc_id") * SCRUB_ENC + F.col("pos")).over(wmin),
        )
        .filter(F.col("doc_id") * SCRUB_ENC + F.col("pos") != F.col("first_key"))
    )
    per_doc = dups.groupBy("doc_id").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.sort_array(F.collect_list("pos")).alias("ps"),
    )
    def _last_end(acc):
        # exact: acc - acc % E is a multiple of E <= 2^53, its quotient
        # by E is an integer double — one exact IEEE division
        return ((acc - acc % GREEDY_ENC) / GREEDY_ENC).cast("long")

    greedy_n = F.aggregate(
        F.col("ps"),
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + (p >= _last_end(acc)).cast("long")
        * ((p + SPAN_N - _last_end(acc)) * GREEDY_ENC + 1),
        lambda acc: acc % GREEDY_ENC,
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.size("ps").cast("long").alias("n_dup_instances"),
        greedy_n.alias("n_spans_removed"),
        (greedy_n * SPAN_N).alias("tokens_removed"),
        (F.col("n_tokens") - greedy_n * SPAN_N).alias("surviving_tokens"),
    )


QUERIES["duplicate_span_scrub"] = duplicate_span_scrub

ORACLE["duplicate_span_scrub"] = f"""
        WITH pre AS (
            SELECT doc_id,
                   list_transform({_TOKENS}, s -> {_CHASH}) AS th
            FROM documents
        ),
        spl AS (
            SELECT doc_id, len(th) AS n_tokens,
                   CASE WHEN len(th) >= {SPAN_N} THEN
                       list_transform(generate_series(1, len(th) - {SPAN_N - 1}),
                           i -> {{'pos': CAST(i AS BIGINT),
                                  'h': list_reduce(th[i:i+{SPAN_N - 1}],
                                       (acc, x) -> (acc * 31 + x)
                                                   % 2147483647)}})
                   ELSE CAST([] AS STRUCT(pos BIGINT, h BIGINT)[]) END AS sp
            FROM pre
        ),
        inst AS (
            SELECT doc_id, n_tokens, s.pos AS pos, s.h AS shash
            FROM (SELECT doc_id, n_tokens, unnest(sp) AS s FROM spl)
        ),
        dups AS (
            SELECT doc_id, n_tokens, pos FROM (
                SELECT doc_id, n_tokens, pos,
                       doc_id * {SCRUB_ENC} + pos AS k,
                       min(doc_id * {SCRUB_ENC} + pos)
                           OVER (PARTITION BY shash) AS first_key
                FROM inst
            ) WHERE k <> first_key
        ),
        per_doc AS (
            SELECT doc_id, min(n_tokens) AS n_tokens,
                   list(pos ORDER BY pos) AS ps
            FROM dups GROUP BY doc_id
        ),
        folded AS (
            -- greedy state packed as last_end * {GREEDY_ENC} + n, with
            -- a BRANCH-FREE step: DuckDB 1.0 list_reduce mis-evaluates
            -- conditional pass-through lambdas in bulk (see the Spark
            -- docstring); the unconditional-arithmetic fold is the
            -- same shape as this repo's everywhere-green char hash
            SELECT doc_id, n_tokens, len(ps) AS n_dup_instances,
                   list_reduce(
                        list_prepend(CAST(0 AS BIGINT), ps),
                        (acc, p) -> acc
                            + CAST(p >= CAST((acc - acc % {GREEDY_ENC})
                                   / {GREEDY_ENC} AS BIGINT) AS BIGINT)
                            * ((p + {SPAN_N}
                                - CAST((acc - acc % {GREEDY_ENC})
                                       / {GREEDY_ENC} AS BIGINT))
                               * {GREEDY_ENC} + 1))
                   % {GREEDY_ENC} AS nrem
            FROM per_doc
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_dup_instances AS BIGINT) AS n_dup_instances,
               nrem AS n_spans_removed,
               nrem * {SPAN_N} AS tokens_removed,
               n_tokens - nrem * {SPAN_N} AS surviving_tokens
        FROM folded
    """
