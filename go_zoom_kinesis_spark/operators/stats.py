"""Corpus-statistics audits a pretraining-data team runs before a
mix decision: leakage-safe target encoding, concentration (Gini),
Zipf rank-frequency fit, source-diversity indices, and inter-filter
agreement (Cohen's kappa).

Reference parity: the reference engine (go-zoom-kinesis, a Kinesis
consumer) has no statistics surface — these are north-star extensions
per SURVEY.md §2.2 "training-data pipeline ops", same family as
quality.py / curation.py.

Scale posture (100 TB):
- every query aggregates to a bounded relation FIRST (source / lang /
  histogram domain), so shuffled bytes are O(domain), not O(rows);
- the only window functions run over grouped histograms (distinct
  n_chars per lang; distinct token frequencies), never raw rows — the
  two-phase pattern the round-5 verdict prescribed for
  low-cardinality partition keys;
- cross-engine hash parity: all sums/counts stay integer (decimal(38,0)
  on Spark / HUGEINT on DuckDB where products can outgrow int64) with
  ONE double division at the end; ln() is applied only to small
  positive integers (token counts), never to hash-derived values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..persist import pin

# exact integer predicates shared by the kappa query (documented in
# ORACLE mirrors character-for-character)
_LEN_THRESHOLD = 300  # filter A: n_chars >= 300 (~50% of the corpus)


def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of ``source`` against the
    ``n_chars`` target: each document's encoded value is the mean
    target of OTHER documents from the same source — the standard
    leakage-free categorical feature for tabular trainers.

    Plan: one bounded groupBy(source) (partial agg map-side), then a
    broadcast join back onto the fact scan — zero wide shuffles of the
    document table itself. loo = (sum - own) / (cnt - 1) stays exact
    integer arithmetic until the single double division.
    """
    docs = load_table(spark, sf_dir, "documents")
    enc = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("src_cnt"),
        F.sum("n_chars").alias("src_sum"),
    )
    out = docs.join(F.broadcast(enc), "source")
    return out.select(
        "doc_id",
        "source",
        "n_chars",
        F.when(
            F.col("src_cnt") > 1,
            (F.col("src_sum") - F.col("n_chars")).cast("double")
            / (F.col("src_cnt") - 1),
        ).alias("loo_mean_chars"),
    )


def gini_doclen_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini coefficient of document lengths — the
    concentration audit behind "is 1% of documents carrying 50% of the
    tokens in this slice?".

    Two-phase distributed rank (the round-5-verdict pattern): ranks
    come from the (lang, n_chars) histogram, never from a window over
    raw rows, so the per-lang sort touches O(distinct lengths) rows
    regardless of corpus size. Within a tie group of c equal values x
    starting after cumulative count f, the textbook sum
    Σ (2i - n - 1)·x over the group collapses to the closed form
    x · c · (2f + c - n) — integer-exact, tie-order free.
    decimal(38,0) keeps the products exact past int64 at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("n_chars")
    dec = "decimal(38,0)"
    hist = hist.withColumn(
        "f", (F.sum("c").over(w) - F.col("c")).cast(dec)
    ).withColumn("c", F.col("c").cast(dec))
    x = F.col("n_chars").cast(dec)
    per_lang = hist.groupBy("lang").agg(
        F.sum("c").cast(dec).alias("n_docs"),
        F.sum(x * F.col("c")).cast(dec).alias("total_chars"),
    )
    hist = hist.join(F.broadcast(per_lang), "lang")
    contrib = x * F.col("c") * (
        F.lit(2).cast(dec) * F.col("f") + F.col("c") - F.col("n_docs")
    )
    out = hist.groupBy("lang").agg(
        F.first("n_docs").alias("n_docs"),
        F.first("total_chars").alias("total_chars"),
        F.sum(contrib).alias("gini_num"),
    )
    return out.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_chars").cast("bigint").alias("total_chars"),
        (
            F.col("gini_num").cast("double")
            / (F.col("n_docs") * F.col("total_chars")).cast("double")
        ).alias("gini"),
    )


def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the whitespace token vocabulary:
    slope of ln(freq) vs ln(rank) — the corpus-health check that
    natural text sits near slope -1.

    Tie-free rank definition: for each distinct frequency f,
    rank(f) = count of tokens with frequency >= f (the rank of the
    LAST token in f's tie block), derived purely from the
    count-of-counts histogram. The global cumulative window runs over
    that histogram (O(distinct frequencies) rows — tens to low
    thousands even at 100 TB), never over the vocabulary itself.
    ln() is applied to small positive integers only.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    coc = vocab.groupBy("freq").agg(F.count(F.lit(1)).alias("n_toks"))
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("freq").desc())
    pts = coc.withColumn("rank", F.sum("n_toks").over(w))
    pts = pts.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    # ln()/regr outputs are rounded to 4dp on BOTH engines: ln is not
    # correctly rounded cross-engine (house rule from collocation_pmi),
    # and 4dp boundaries are 100x sparser than the driver's 6dp hash.
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.regr_slope(F.col("y"), F.col("x")), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(F.col("y"), F.col("x")), 4)
        .alias("zipf_intercept"),
        F.round(F.regr_r2(F.col("y"), F.col("x")), 4).alias("fit_r2"),
    )


def diversity_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language source-diversity indices: Simpson (collision
    probability — exact rational) and Shannon entropy in nats — the
    "is this language slice dominated by one crawl source?" audit.

    One bounded (lang, source) aggregate then a per-lang fold; Simpson
    stays integer until one division; Shannon's ln() sees only small
    positive counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    per = c.groupBy("lang").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("simpson_num"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        .alias("clogc"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_sources",
        F.when(
            F.col("n_docs") > 1,
            F.col("simpson_num").cast("double")
            / (F.col("n_docs") * (F.col("n_docs") - 1)).cast("double"),
        ).alias("simpson"),
        # ln-derived → 4dp on both engines (cross-engine ln house rule)
        F.round(
            F.log(F.col("n_docs").cast("double"))
            - F.col("clogc") / F.col("n_docs"),
            4,
        ).alias("shannon"),
    )


def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent quality filters, per
    language — the calibration check before trusting either filter to
    gate the corpus: A = length filter (n_chars >= 300), B =
    type-token-ratio filter (distinct tokens ≥ half of tokens; the
    ratio test is kept as an exact integer comparison).

    One conditional-aggregate pass over documents; kappa's
    po/pe algebra is carried as decimal(38,0) integer products
    (N² outgrows int64 at 100 TB) with one double division:
    kappa = (N·(n11+n00) − (a1·b1 + a0·b0)) / (N² − (a1·b1 + a0·b0)).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    docs = docs.withColumn("__toks", toks)
    a = (F.col("n_chars") >= _LEN_THRESHOLD).cast("bigint")
    b = (
        F.size(F.array_distinct(F.col("__toks"))) * 2
        >= F.size(F.col("__toks"))
    ).cast("bigint")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(a * b).alias("n11"),
        F.sum(a * (1 - b)).alias("n10"),
        F.sum((1 - a) * b).alias("n01"),
        F.sum((1 - a) * (1 - b)).alias("n00"),
    )
    dec = "decimal(38,0)"
    n = F.col("n").cast(dec)
    a1 = (F.col("n11") + F.col("n10")).cast(dec)
    b1 = (F.col("n11") + F.col("n01")).cast(dec)
    a0 = (F.col("n01") + F.col("n00")).cast(dec)
    b0 = (F.col("n10") + F.col("n00")).cast(dec)
    agree = (F.col("n11") + F.col("n00")).cast(dec)
    pe_num = a1 * b1 + a0 * b0
    denom = n * n - pe_num
    return agg.select(
        "lang",
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        (agree.cast("double") / n.cast("double")).alias("po"),
        (pe_num.cast("double") / (n * n).cast("double")).alias("pe"),
        F.when(
            denom != 0,
            (n * agree - pe_num).cast("double") / denom.cast("double"),
        ).alias("kappa"),
    )


QN_DOMAIN_LIMIT = 100_000  # distinct-value ceiling for the exact path
QN_BUCKETS = 4096  # fallback resolution above the ceiling


def quantile_normalize_over(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Quantile normalization of an integer column across groups: each
    (group, value) maps to the smallest GLOBAL value whose global CDF
    reaches the value's within-group CDF — the classic cross-slice
    distribution aligner (e.g. make per-language length distributions
    comparable before mixing).

    Everything runs on histograms: one groupBy builds the (group,
    value) histogram, the global histogram folds from it (no second
    scan), and the CDF comparison `gcum·n_g ≥ cum·N` stays EXACT
    integer (decimal(38,0)) — no double-CDF boundary ambiguity. The
    candidate join is broadcast histogram × histogram, O(D²) pairs in
    the value domain D; a pre-check coarsens to QN_BUCKETS
    equal-width buckets when the value RANGE (hi − lo + 1, an upper
    bound on D) exceeds QN_DOMAIN_LIMIT.

    The guard is deliberately range-based, not distinct-count-based
    (r7 advice): min/max are exact, so the branch choice is
    deterministic and the DuckDB oracle restates the SAME conditional
    bucketization — parity holds on either side of the threshold. An
    approx_count_distinct guard would flip nondeterministically near
    the limit and had no oracle counterpart. (A sparse domain with a
    wide range bucketizes conservatively — acceptable: the fallback
    is still a valid quantile normalizer at QN_BUCKETS resolution.)
    """
    from pyspark.sql.window import Window

    dom = df.select(
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    ).collect()[0]
    rng = (
        int(dom["hi"]) - int(dom["lo"]) + 1 if dom["hi"] is not None else 0
    )
    if rng > QN_DOMAIN_LIMIT:
        width = max(1, rng // QN_BUCKETS)
        val = (
            F.floor((F.col(value_col) - int(dom["lo"])) / width) * width
            + int(dom["lo"])
        ).alias(value_col)
    else:
        val = F.col(value_col)
    hist = df.select(F.col(group_col).alias("g"), val.alias("v")).groupBy(
        "g", "v"
    ).agg(F.count(F.lit(1)).alias("c"))
    dec = "decimal(38,0)"
    wl = Window.partitionBy("g").orderBy("v")
    lh = (
        hist.withColumn("cum", F.sum("c").over(wl).cast(dec))
        .withColumn("n_g", F.sum("c").over(Window.partitionBy("g")).cast(dec))
    )
    g = hist.groupBy("v").agg(F.sum("c").alias("gc"))
    wg = Window.orderBy("v")
    wall = wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g = (
        g.withColumn("gcum", F.sum("gc").over(wg).cast(dec))
        .withColumn("N", F.sum("gc").over(wall).cast(dec))
        .select(F.col("v").alias("gv"), "gcum", "N")
    )
    joined = lh.join(
        F.broadcast(g),
        g["gcum"] * lh["n_g"] >= lh["cum"] * g["N"],
    )
    out = joined.groupBy("g", "v", "cum", "n_g").agg(
        F.min("gv").alias("norm_v")
    )
    return out.select(
        F.col("g").alias(group_col),
        F.col("v").alias(value_col),
        (F.col("cum").cast("double") / F.col("n_g").cast("double")).alias("q"),
        F.col("norm_v").alias(f"norm_{value_col}"),
    )


def quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface: quantile-normalize ``n_chars`` across
    languages (see quantile_normalize_over for plan + guard)."""
    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalize_over(
        docs.select("lang", "n_chars"), "lang", "n_chars"
    )


QUERIES = {
    "quantile_normalize_lengths": quantile_normalize_lengths,
    "target_encoding_loo": target_encoding_loo,
    "gini_doclen_concentration": gini_doclen_concentration,
    "zipf_slope_fit": zipf_slope_fit,
    "diversity_index_audit": diversity_index_audit,
    "filter_agreement_kappa": filter_agreement_kappa,
}

ORACLE = {
    "quantile_normalize_lengths": f"""
        WITH dom AS (
            SELECT min(n_chars) AS lo, max(n_chars) AS hi,
                   greatest(1, (max(n_chars) - min(n_chars) + 1)
                               // {QN_BUCKETS}) AS w
            FROM documents
        ),
        -- mirrors the Spark-side deterministic range guard: exact
        -- values below the domain limit, equal-width buckets above
        vals AS (
            SELECT lang AS g,
                   CASE WHEN (hi - lo + 1) > {QN_DOMAIN_LIMIT}
                        THEN CAST(floor(CAST(n_chars - lo AS DOUBLE) / w)
                                  AS BIGINT) * w + lo
                        ELSE n_chars END AS v
            FROM documents, dom
        ),
        hist AS (
            SELECT g, v, count(*) AS c FROM vals GROUP BY g, v
        ),
        lh AS (
            SELECT g, v, c,
                   CAST(sum(c) OVER (PARTITION BY g ORDER BY v)
                        AS HUGEINT) AS cum,
                   CAST(sum(c) OVER (PARTITION BY g) AS HUGEINT) AS n_g
            FROM hist
        ),
        gh AS (
            SELECT v AS gv,
                   CAST(sum(sum(c)) OVER (ORDER BY v) AS HUGEINT) AS gcum,
                   CAST(sum(sum(c)) OVER () AS HUGEINT) AS N
            FROM hist GROUP BY v
        )
        SELECT lh.g AS lang, lh.v AS n_chars,
               CAST(lh.cum AS DOUBLE) / CAST(lh.n_g AS DOUBLE) AS q,
               min(gh.gv) AS norm_n_chars
        FROM lh JOIN gh ON gh.gcum * lh.n_g >= lh.cum * gh.N
        GROUP BY lh.g, lh.v, lh.cum, lh.n_g
    """,
    "target_encoding_loo": """
        WITH enc AS (
            SELECT source, count(*) AS src_cnt, sum(n_chars) AS src_sum
            FROM documents GROUP BY source
        )
        SELECT d.doc_id, d.source, d.n_chars,
               CASE WHEN e.src_cnt > 1
                    THEN CAST(e.src_sum - d.n_chars AS DOUBLE)
                         / (e.src_cnt - 1) END AS loo_mean_chars
        FROM documents d JOIN enc e USING (source)
    """,
    "gini_doclen_concentration": """
        WITH hist AS (
            SELECT lang, n_chars, CAST(count(*) AS HUGEINT) AS c
            FROM documents GROUP BY lang, n_chars
        ),
        cum AS (
            SELECT lang, n_chars, c,
                   CAST(sum(c) OVER (PARTITION BY lang ORDER BY n_chars)
                        - c AS HUGEINT) AS f
            FROM hist
        ),
        per AS (
            SELECT lang, sum(c) AS n_docs,
                   sum(CAST(n_chars AS HUGEINT) * c) AS total_chars
            FROM hist GROUP BY lang
        )
        SELECT h.lang,
               CAST(p.n_docs AS BIGINT) AS n_docs,
               CAST(p.total_chars AS BIGINT) AS total_chars,
               CAST(sum(CAST(h.n_chars AS HUGEINT) * h.c *
                        (2 * h.f + h.c - p.n_docs)) AS DOUBLE)
               / CAST(p.n_docs * p.total_chars AS DOUBLE) AS gini
        FROM cum h JOIN per p USING (lang)
        GROUP BY h.lang, p.n_docs, p.total_chars
    """,
    "zipf_slope_fit": """
        WITH toks AS (
            SELECT unnest(string_split(lower(text), ' ')) AS tok
            FROM documents
        ),
        vocab AS (
            SELECT tok, count(*) AS freq FROM toks
            WHERE length(tok) > 0 GROUP BY tok
        ),
        coc AS (SELECT freq, count(*) AS n_toks FROM vocab GROUP BY freq),
        pts AS (
            SELECT ln(CAST(sum(n_toks) OVER (ORDER BY freq DESC)
                           AS DOUBLE)) AS x,
                   ln(CAST(freq AS DOUBLE)) AS y
            FROM coc
        )
        SELECT count(*) AS n_points,
               round(regr_slope(y, x), 4) AS zipf_slope,
               round(regr_intercept(y, x), 4) AS zipf_intercept,
               round(regr_r2(y, x), 4) AS fit_r2
        FROM pts
    """,
    "diversity_index_audit": """
        WITH c AS (
            SELECT lang, source, count(*) AS c
            FROM documents GROUP BY lang, source
        )
        SELECT lang,
               CAST(sum(c) AS BIGINT) AS n_docs,
               count(*) AS n_sources,
               CASE WHEN sum(c) > 1
                    THEN CAST(sum(c * (c - 1)) AS DOUBLE)
                         / CAST(sum(c) * (sum(c) - 1) AS DOUBLE)
               END AS simpson,
               round(ln(CAST(sum(c) AS DOUBLE))
                     - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                       / sum(c), 4)
               AS shannon
        FROM c GROUP BY lang
    """,
    "filter_agreement_kappa": f"""
        WITH flags AS (
            SELECT lang,
                   CASE WHEN n_chars >= {_LEN_THRESHOLD}
                        THEN 1 ELSE 0 END AS a,
                   CASE WHEN len(list_distinct(
                                string_split(lower(text), ' '))) * 2
                             >= len(string_split(lower(text), ' '))
                        THEN 1 ELSE 0 END AS b
            FROM documents
        ),
        agg AS (
            SELECT lang, count(*) AS n,
                   CAST(sum(a * b) AS BIGINT) AS n11,
                   CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                   CAST(sum((1 - a) * b) AS BIGINT) AS n01,
                   CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
            FROM flags GROUP BY lang
        )
        SELECT lang, n, n11, n10, n01, n00,
               CAST(n11 + n00 AS DOUBLE) / n AS po,
               CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                    + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS pe,
               CASE WHEN CAST(n AS HUGEINT) * n
                         - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                            + CAST(n01 + n00 AS HUGEINT) * (n10 + n00))
                         <> 0
                    THEN CAST(CAST(n AS HUGEINT) * (n11 + n00)
                              - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                                 + CAST(n01 + n00 AS HUGEINT)
                                   * (n10 + n00)) AS DOUBLE)
                         / CAST(CAST(n AS HUGEINT) * n
                                - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                                   + CAST(n01 + n00 AS HUGEINT)
                                     * (n10 + n00)) AS DOUBLE)
               END AS kappa
        FROM agg
    """,
}


# --- round 8: KMV (k-minimum-values) distinct sketches -------------------
#
# The mergeable cardinality sketch of Bar-Yossef et al. (RANDOM'02,
# public literature), the exact-integer cousin of HyperLogLog: keep the
# K smallest values of a uniform hash of the key; the K-th minimum m
# over a hash space of size S estimates distinct count as
# (K-1)·S / m. Every quantity is a 64-bit integer on both engines —
# no harmonic means, no floating point, no libm.

KMV_K = 12  # sketch size per group — small enough that the estimator
# ENGAGES (k_used == K) even at the smallest shipped corpus (sf0.001:
# 15 distinct users per event type); production uses K ≥ 1024 for
# ~3% standard error, and nothing in the plan shape depends on K
KMV_HEX = 14  # 14 hex digits = 56-bit hash space; (K-1)·2^56 < 2^63
KMV_SPACE = 1 << (4 * KMV_HEX)
KMV_BUCKET_DIV = 1 << 40  # 65536 value buckets for the two-phase top-K


def _kmv_hash(key) -> F.Column:
    """56-bit integer from the md5 hex of the key's decimal string —
    the same engine-portable construction as sampling's hash bucket,
    widened so the estimator's integer division has resolution."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, KMV_HEX), 16, 10
    ).cast("bigint")


def _kmv_type_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, h): the distinct user hashes per event type — one
    dedup shuffle, ∝ distinct keys."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_type", _kmv_hash(F.col("user_id")).alias("h")).distinct()


def _kmv_topk(rel: DataFrame, keys: list[str]) -> DataFrame:
    """Per-`keys`-group K smallest hashes of a (keys..., h) relation —
    the KMV sketch rows — via the two-phase VALUE-BUCKET discipline
    (the round-5 pattern): per-(group, high-16-bits) bucket counts, a
    cumulative window over that ≤65536-row bounded relation picks the
    cutoff bucket where the running count reaches K, and the per-group
    rank runs only over rows at-or-below the cutoff (≈ K + one
    bucket's width) — never a full per-group sort."""
    from pyspark.sql.window import Window

    rel = rel.withColumn("bucket", F.expr(f"h div {KMV_BUCKET_DIV}"))
    bc = rel.groupBy(*keys, "bucket").agg(F.count("*").alias("c"))
    w_cum = Window.partitionBy(*keys).orderBy("bucket")
    cutoff = (
        bc.withColumn("cum", F.sum("c").over(w_cum))
        .filter(F.col("cum") >= KMV_K)
        .groupBy(*keys)
        .agg(F.min("bucket").alias("cut"))
    )
    kept = rel.join(F.broadcast(cutoff), keys, "left").filter(
        F.col("cut").isNull() | (F.col("bucket") <= F.col("cut"))
    )
    w_rk = Window.partitionBy(*keys).orderBy("h")
    return (
        kept.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= KMV_K)
        .select(*keys, "h")
    )


def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user cardinality via a KMV sketch,
    self-audited against the exact distinct count.

    Scale shape: ONE dedup shuffle of (event_type, h) pairs (∝ distinct
    keys — the cost any exact distinct pays once), then the K smallest
    hashes per type come from ``_kmv_topk``'s two-phase
    value-bucket top-K — never a full per-group sort. At 100 TB the
    sketch rows (K per group) are what a daily job persists; sketches
    MERGE by keeping the K smallest of a union, which is exactly how
    ``kmv_sketch_overlap`` composes them. The exact_distinct column is
    the audit harness (same role as ``lsh_recall_audit``'s truth
    side); production trusts the sketch and drops that branch.

    Estimator: with k_used = K and m = K-th minimum over the 2^{56}
    space, est = (K-1)·2^{56} div m (integer floor); with fewer than K
    distinct hashes the sketch IS the exact set, so est = exact."""
    # A/B sf0.1 0.22→0.53 / 0.9→1.6 s, sf1 0.35→0.92 / 1.7→3.0 s
    dh = _kmv_type_hashes(spark, sf_dir).transform(pin)
    sk = (
        _kmv_topk(dh, ["event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("k_used"), F.max("h").alias("kth_min_hash"))
    )
    exact = dh.groupBy("event_type").agg(
        F.count("*").alias("exact_distinct")
    )
    return (
        sk.join(exact, "event_type")
        .select(
            "event_type",
            "k_used",
            "kth_min_hash",
            F.when(F.col("k_used") < KMV_K, F.col("exact_distinct"))
            .otherwise(
                F.expr(f"(k_used - 1) * {KMV_SPACE} div kth_min_hash")
            )
            .cast("long")
            .alias("est_distinct"),
            "exact_distinct",
        )
        .withColumn(
            # diff*1e6 can overflow int64 when kth_min_hash is
            # pathologically small (est up to (K-1)*2^56 ~ 7.9e17), so
            # compute diff*1e6 div exact via the exact identity
            # q*1e6 + (r*1e6 div exact) with q = diff div exact,
            # r = diff % exact — every term stays far below 2^63 —
            # and saturate at 1e15 ppm (a 1e9x error: unambiguous
            # sentinel) when even q*1e6 would overflow plausibility.
            "err_ppm",
            F.expr(
                "CASE WHEN abs(est_distinct - exact_distinct)"
                " div exact_distinct >= 1000000000"
                " THEN CAST(1000000000000000 AS BIGINT)"
                " ELSE (abs(est_distinct - exact_distinct)"
                "       div exact_distinct) * 1000000"
                "      + ((abs(est_distinct - exact_distinct)"
                "          % exact_distinct) * 1000000)"
                "        div exact_distinct END"
            ),
        )
    )


def kmv_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-segment audience overlap from MERGED KMV sketches — the
    set-operation payoff of KMV (Beyer et al. SIGMOD'07): for each
    event-type pair, merge the two K-row sketches by keeping the K
    smallest hashes of their union; the fraction of merged entries
    present in BOTH input sketches estimates Jaccard(users_a, users_b).
    Reported in exact integer ppm beside the TRUE Jaccard (the audit
    branch — a join over distinct user hashes, which at 100 TB is
    precisely the cost the sketch exists to avoid; production keeps
    the sketch side only).

    Scale shape: the sketches come from ``_kmv_topk``, the two-phase
    value-bucket top-K ``kmv_distinct_sketch`` uses (one dedup
    shuffle, bounded windows); everything pairwise happens on K-row relations
    (T·K rows total; T = event types), so the pair stage is
    O(T²·K) — driver-free and independent of corpus size."""
    from pyspark.sql.window import Window

    # A/B sf0.1 0.27→0.58 / 1.6→2.9 s, sf1 0.33→1.67 / 2.4→6.1 s
    dh = _kmv_type_hashes(spark, sf_dir).transform(pin)
    # A/B sf0.1 0.30→0.68 / 1.6→2.6 s, sf1 0.32→0.88 / 2.8→3.4 s
    sk = _kmv_topk(dh, ["event_type"]).transform(pin)
    # union of the two sketches per ordered pair, flagged by membership
    pairs = (
        sk.select(F.col("event_type").alias("type_a"))
        .distinct()
        .join(
            sk.select(F.col("event_type").alias("type_b")).distinct(),
            F.col("type_a") < F.col("type_b"),
        )
    )
    pa = pairs.join(
        sk.select(F.col("event_type").alias("type_a"), "h"), "type_a"
    ).select("type_a", "type_b", "h", F.lit(1).alias("in_a"))
    pb = pairs.join(
        sk.select(F.col("event_type").alias("type_b"), "h"), "type_b"
    ).select("type_a", "type_b", "h", F.lit(1).alias("in_b"))
    merged = (
        pa.join(pb, ["type_a", "type_b", "h"], "full_outer")
        .select(
            "type_a",
            "type_b",
            "h",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
    )
    w_m = Window.partitionBy("type_a", "type_b").orderBy("h")
    est = (
        merged.withColumn("rk", F.row_number().over(w_m))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("k_merged"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
    )
    # exact-truth audit branch over the distinct-hash relation
    da = dh.select(F.col("event_type").alias("type_a"), "h")
    db = dh.select(F.col("event_type").alias("type_b"), "h")
    inter = (
        da.join(db, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = dh.groupBy("event_type").agg(F.count("*").alias("n"))
    truth = (
        est.join(inter, ["type_a", "type_b"], "left")
        .join(
            sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")),
            "type_a",
        )
        .join(
            sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")),
            "type_b",
        )
    )
    return truth.select(
        "type_a",
        "type_b",
        "k_merged",
        F.col("n_both").cast("long").alias("n_both"),
        F.expr("n_both * 1000000 div k_merged").alias("jaccard_est_ppm"),
        F.coalesce("n_inter", F.lit(0)).cast("long").alias("n_inter_true"),
        F.expr(
            "coalesce(n_inter, 0) * 1000000"
            " div (n_a + n_b - coalesce(n_inter, 0))"
        ).alias("jaccard_true_ppm"),
    )


QUERIES["kmv_distinct_sketch"] = kmv_distinct_sketch
QUERIES["kmv_sketch_overlap"] = kmv_sketch_overlap

_KMV_H = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, "
    f"{KMV_HEX})) AS BIGINT)"
)

_KMV_CTES = f"""
    WITH dh AS (
        SELECT DISTINCT event_type, {_KMV_H} AS h
        FROM events
    ),
    rk AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rk
        FROM dh
    ),
    sk AS (SELECT event_type, h FROM rk WHERE rk <= {KMV_K})
"""

ORACLE["kmv_distinct_sketch"] = f"""
    {_KMV_CTES},
    agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS k_used,
               max(h) AS kth_min_hash
        FROM sk GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
        FROM dh GROUP BY event_type
    )
    SELECT a.event_type, a.k_used, a.kth_min_hash,
           CAST(CASE WHEN a.k_used < {KMV_K} THEN e.exact_distinct
                ELSE (a.k_used - 1) * {KMV_SPACE} // a.kth_min_hash
                END AS BIGINT) AS est_distinct,
           e.exact_distinct,
           CAST(CASE
                WHEN abs(CASE WHEN a.k_used < {KMV_K} THEN e.exact_distinct
                         ELSE (a.k_used - 1) * {KMV_SPACE} // a.kth_min_hash
                         END - e.exact_distinct) // e.exact_distinct
                     >= 1000000000
                THEN 1000000000000000
                ELSE (abs(CASE WHEN a.k_used < {KMV_K} THEN e.exact_distinct
                          ELSE (a.k_used - 1) * {KMV_SPACE} // a.kth_min_hash
                          END - e.exact_distinct) // e.exact_distinct)
                     * 1000000
                   + (abs(CASE WHEN a.k_used < {KMV_K} THEN e.exact_distinct
                          ELSE (a.k_used - 1) * {KMV_SPACE} // a.kth_min_hash
                          END - e.exact_distinct) % e.exact_distinct)
                     * 1000000 // e.exact_distinct
                END AS BIGINT) AS err_ppm
    FROM agg a JOIN ex e ON e.event_type = a.event_type
"""

ORACLE["kmv_sketch_overlap"] = f"""
    {_KMV_CTES},
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM (SELECT DISTINCT event_type FROM sk) a
        JOIN (SELECT DISTINCT event_type FROM sk) b
          ON a.event_type < b.event_type
    ),
    uni AS (
        SELECT p.type_a, p.type_b, s.h,
               max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END)
                   AS in_a,
               max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END)
                   AS in_b
        FROM pairs p JOIN sk s
          ON s.event_type IN (p.type_a, p.type_b)
        GROUP BY p.type_a, p.type_b, s.h
    ),
    mrk AS (
        SELECT type_a, type_b, h, in_a, in_b,
               row_number() OVER (PARTITION BY type_a, type_b
                                  ORDER BY h) AS rk
        FROM uni
    ),
    est AS (
        SELECT type_a, type_b,
               CAST(count(*) AS BIGINT) AS k_merged,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_both
        FROM mrk WHERE rk <= {KMV_K}
        GROUP BY type_a, type_b
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM dh a JOIN dh b
          ON a.h = b.h AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    ),
    sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM dh GROUP BY event_type
    )
    SELECT e.type_a, e.type_b, e.k_merged, e.n_both,
           CAST(e.n_both * 1000000 // e.k_merged AS BIGINT)
               AS jaccard_est_ppm,
           coalesce(i.n_inter, 0) AS n_inter_true,
           CAST(coalesce(i.n_inter, 0) * 1000000
                // (sa.n + sb.n - coalesce(i.n_inter, 0)) AS BIGINT)
               AS jaccard_true_ppm
    FROM est e
    LEFT JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
    JOIN sizes sa ON sa.event_type = e.type_a
    JOIN sizes sb ON sb.event_type = e.type_b
"""


def _kmv_day_prefilter(it):
    """Map-side EXACT k-min pre-filter for the merge rollup (the r8
    verdict's headroom item): within one input partition, keep only
    the {KMV_K} smallest DISTINCT hashes per (event_type, day). Safe
    by the subset-rank argument — if h is among a group's K smallest
    distinct hashes globally, then in any partition where it appears
    it competes against a SUBSET of the group's hashes, so its rank
    there is <= its global rank <= K; hence the per-partition k-min is
    a superset of every group's global top-K (and of the per-TYPE
    top-K too: a type's K smallest hashes each rank <= K within their
    own (type, day) group by the same argument). The in-partition
    dedup before head(K) matters: K copies of one hash must not crowd
    out the (K+1)-th distinct value. State is carried ACROSS Arrow
    batches so the filter is per-PARTITION (bounded at groups x K
    rows), not per-batch."""
    import pandas as pd

    state = None
    for pdf in it:
        cur = pd.concat([state, pdf]) if state is not None else pdf
        cur = cur.drop_duplicates(["event_type", "day", "h"])
        cur = cur.sort_values("h", kind="mergesort")
        state = cur.groupby(["event_type", "day"], sort=False).head(KMV_K)
    if state is not None:
        yield state


def kmv_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeability PROOF of the KMV sketch family, as an
    oracle-checked query: per-(event_type, day) sketches are MERGED
    (k smallest of the union of the per-day K-row sketches) and
    compared against the DIRECT global sketch — and unlike HLL
    (``hll_sketch_rollup`` deliberately claims only tolerance),
    KMV merge is EXACT: every hash among a type's global k smallest
    belongs to some day, and within that day it is among the day's k
    smallest, so merged == direct as set equality, estimator
    included. ``merged_equals_direct`` is therefore a contract (the
    oracle computes it independently), not an observation.

    This is the daily-rollup production shape at 100 TB: each day's
    job persists T×K sketch rows; any window of days re-aggregates
    with one tiny k-min merge — no rescan of history. Plan: the
    per-day and direct sketches both use the two-phase value-bucket
    top-K (windows over bucket-bounded relations only); the merge
    ranks T×D×K rows."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    # day travels as epoch-seconds (date_trunc'd, so exact) — the
    # output never shows it, grouping on the long is bijective with
    # grouping on the timestamp, and the Arrow pre-filter stays on
    # pure int64/string columns. The mapInPandas k-min pre-filter
    # (bit-identical result — see _kmv_day_prefilter) shrinks the
    # exact-distinct shuffle from the full corpus to
    # <= partitions x groups x K rows.
    raw = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("long").alias("day"),
        _kmv_hash(F.col("user_id")).alias("h"),
    )
    pre = raw.mapInPandas(
        _kmv_day_prefilter, schema="event_type string, day long, h long"
    )
    # A/B sf0.1 0.32→0.90 / 1.6→3.2 s, sf1 0.37→3.43 / 2.6→8.3 s
    dh_day = pre.distinct().transform(pin)
    day_sk = _kmv_topk(dh_day, ["event_type", "day"])
    # merge: k smallest of the union of per-day sketch rows (distinct:
    # one user can appear in many days' sketches)
    w_m = Window.partitionBy("event_type").orderBy("h")
    merged = (
        day_sk.select("event_type", "h")
        .distinct()
        .withColumn("rk", F.row_number().over(w_m))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("k_used_m"),
            F.max("h").alias("kth_min_merged"),
        )
    )
    direct = _kmv_topk(
        dh_day.select("event_type", "h").distinct(), ["event_type"]
    ).groupBy("event_type").agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_min_direct"),
    )

    def _est(k_col: str, kth_col: str):
        return (
            F.when(F.col(k_col) < KMV_K, F.col(k_col))
            .otherwise(
                F.expr(f"({k_col} - 1) * {KMV_SPACE} div {kth_col}")
            )
            .cast("long")
        )

    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            "k_used",
            "kth_min_merged",
            "kth_min_direct",
            _est("k_used_m", "kth_min_merged").alias("est_merged"),
            _est("k_used", "kth_min_direct").alias("est_direct"),
            (
                (F.col("k_used_m") == F.col("k_used"))
                & (F.col("kth_min_merged") == F.col("kth_min_direct"))
            ).alias("merged_equals_direct"),
        )
    )


QUERIES["kmv_merge_rollup"] = kmv_merge_rollup

ORACLE["kmv_merge_rollup"] = f"""
    WITH dhd AS (
        SELECT DISTINCT event_type, date_trunc('day', ts) AS day,
               {_KMV_H} AS h
        FROM events
    ),
    day_rk AS (
        SELECT event_type, day, h,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY h) AS rk
        FROM dhd
    ),
    day_sk AS (SELECT event_type, day, h FROM day_rk WHERE rk <= {KMV_K}),
    mu AS (SELECT DISTINCT event_type, h FROM day_sk),
    m_rk AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rk
        FROM mu
    ),
    merged AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS k_used_m,
               max(h) AS kth_min_merged
        FROM m_rk WHERE rk <= {KMV_K} GROUP BY event_type
    ),
    du AS (SELECT DISTINCT event_type, h FROM dhd),
    d_rk AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rk
        FROM du
    ),
    direct AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS k_used,
               max(h) AS kth_min_direct
        FROM d_rk WHERE rk <= {KMV_K} GROUP BY event_type
    )
    SELECT m.event_type, d.k_used, m.kth_min_merged, d.kth_min_direct,
           CAST(CASE WHEN m.k_used_m < {KMV_K} THEN m.k_used_m
                ELSE (m.k_used_m - 1) * {KMV_SPACE} // m.kth_min_merged
                END AS BIGINT) AS est_merged,
           CAST(CASE WHEN d.k_used < {KMV_K} THEN d.k_used
                ELSE (d.k_used - 1) * {KMV_SPACE} // d.kth_min_direct
                END AS BIGINT) AS est_direct,
           m.k_used_m = d.k_used AND m.kth_min_merged = d.kth_min_direct
               AS merged_equals_direct
    FROM merged m JOIN direct d ON d.event_type = m.event_type
"""


# --- round 9: split-conformal threshold calibration -----------------------

CONF_ALPHA_PCT = 90  # target coverage: 90% of in-distribution scores
CONF_CAL_CUT = 0x8000  # md5 16-bit bucket < this → calibration split


def conformal_threshold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal anomaly threshold per event type (Vovk et al. /
    the distribution-free conformal-prediction literature — public):
    a deterministic hash split carves a CALIBRATION half out of the
    stream; the nonconformity score |value − calibration mean| is
    computed for every event; the per-type threshold is the exact
    {CONF_ALPHA_PCT}th percentile of calibration scores; and the audit
    reports the realized coverage of that threshold on the held-out
    TEST half — the conformal guarantee says coverage ≈
    {CONF_ALPHA_PCT}% regardless of the value distribution, and the
    referee test pins it within finite-sample slack.

    Determinism: values are ≤6dp, so scores live in exact fixed-point
    bigints (score_fp = |v_fp − Σv_fp // n|, integer ops only — both
    operands nonneg, so Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree); the only float steps are the percentile
    interpolation (both engines use the (n−1)·p rank convention —
    pinned by ``percentile_stats``) and two final round(…, 6)s on
    exact-integer-derived doubles.

    Plan shape: one scan → per-type calibration sums (5-row broadcast)
    → score projection → an exact TWO-PHASE percentile (per-(type,
    score) counts, then a cumulative window over that bounded
    relation and the two bracketing order statistics — scores are
    fixed-point integers over a bounded distinct domain, so no task
    ever buffers a type's raw scores; same value-bucket move as
    ``purged_timefold_assign``) → 5-row broadcast back onto the test
    half for the coverage counts. Two scans of the facts, tiny
    broadcasts, no corpus shuffle beyond keyed aggregates — exact AND
    100 TB-shaped. (For a continuous unbounded score domain, bucket
    the scores first or use the sketch tier; with ≤6dp values the
    domain is bounded by construction.)
    """.format(CONF_ALPHA_PCT=CONF_ALPHA_PCT)
    # r13 quiet-host re-A/B: the batch-3 fan-out REVERTED (0.80
    # unfanned vs 1.08 fanned) — the md5 split hash is too light per
    # row to pay for the exchange on this host.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    v_fp = F.round(F.col("value") * 1e6).cast("long")
    bucket = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    base = ev.select(
        "event_type",
        v_fp.alias("v_fp"),
        (bucket < CONF_CAL_CUT).alias("is_cal"),
    )
    # r13 (guide §2.4): pin the per-type calibration means — bounded at
    # |event types| rows. Lazy, this subtree was re-inlined under every
    # reference to `scored`, and since `thr` is itself built FROM
    # `scored`, the final plan executed the base scan+md5 projection
    # FOUR times (scored×2 × cal_mean-inside-each). With the 5-row pin
    # the plan runs the two scans the docstring designs: one for the
    # calibration histogram, one for the test-coverage rollup.
    # A/B sf0.1 0.68→0.85 / 1.9→2.2 s, sf1 1.46→2.30 / 3.8→6.6 s
    cal_mean = pin(
        base.filter("is_cal")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_cal"),
            F.expr("sum(v_fp) div count(*)").alias("mean_fp"),
        )
    )
    scored = base.join(F.broadcast(cal_mean), "event_type").select(
        "event_type",
        "is_cal",
        "n_cal",
        F.abs(F.col("v_fp") - F.col("mean_fp")).alias("score_fp"),
    )
    # exact percentile WITHOUT per-group buffering: scores are
    # fixed-point integers over a bounded distinct domain (≤ distinct
    # |v_fp − mean| values), so an exact two-phase value histogram
    # works at any corpus size — group counts per (type, score), one
    # cumulative window over that bounded relation, then the two
    # bracketing order statistics and the (n−1)·p interpolation done
    # in integer rationals (R100 = (n−1)·pct, index = R100 div 100,
    # frac = (R100 mod 100)/100 — exact for ANY integer percent, not
    # just multiples of 10; the r9 draft's `(n−1)·(pct//10)` silently
    # computed the wrong percentile for e.g. pct = 95 on BOTH engines)
    # written identically on both engines. This replaces the r9 draft's
    # percentile() aggregate, which buffers every calibration score of
    # a type in one task.
    from pyspark.sql import Window

    hist = (
        scored.filter("is_cal")
        .groupBy("event_type", "score_fp")
        .agg(F.count("*").alias("c"))
    )
    w_t = Window.partitionBy("event_type")
    cum = (
        hist.withColumn(
            "cum",
            F.sum("c").over(
                w_t.orderBy("score_fp").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .withColumn("n", F.sum("c").over(w_t))
        .withColumn("r100", (F.col("n") - 1) * CONF_ALPHA_PCT)
    )
    thr = cum.groupBy("event_type").agg(
        (
            F.min(
                F.when(
                    F.col("cum") >= F.expr("r100 div 100") + 1,
                    F.col("score_fp"),
                )
            ).cast("double")
            + (
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.expr("r100 div 100")
                        + F.when(F.col("r100") % 100 > 0, 2).otherwise(1),
                        F.col("score_fp"),
                    )
                ).cast("double")
                - F.min(
                    F.when(
                        F.col("cum") >= F.expr("r100 div 100") + 1,
                        F.col("score_fp"),
                    )
                ).cast("double")
            )
            * ((F.max("r100") % 100).cast("double") / 100.0)
        ).alias("thr_fp")
    )
    test = scored.filter(~F.col("is_cal")).join(
        F.broadcast(thr), "event_type"
    )
    return test.groupBy("event_type").agg(
        F.max("n_cal").alias("n_cal"),
        F.count("*").alias("n_test"),
        F.round(F.max("thr_fp") / 1e6, 6).alias("threshold"),
        F.count_if(
            F.col("score_fp").cast("double") <= F.col("thr_fp")
        ).alias("n_covered"),
        F.round(
            F.count_if(F.col("score_fp").cast("double") <= F.col("thr_fp"))
            / F.count("*"),
            6,
        ).alias("coverage"),
    )


QUERIES["conformal_threshold_audit"] = conformal_threshold_audit

_CONF_BUCKET = (
    "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4))"
    "::BIGINT AS BIGINT)"
)

ORACLE["conformal_threshold_audit"] = f"""
    WITH base AS (
        SELECT event_type,
               CAST(round(value * 1000000.0) AS BIGINT) AS v_fp,
               {_CONF_BUCKET} < {CONF_CAL_CUT} AS is_cal
        FROM events
    ),
    cal_mean AS (
        SELECT event_type, count(*) AS n_cal,
               sum(v_fp) // count(*) AS mean_fp
        FROM base WHERE is_cal GROUP BY event_type
    ),
    scored AS (
        SELECT b.event_type, b.is_cal, m.n_cal,
               abs(b.v_fp - m.mean_fp) AS score_fp
        FROM base b JOIN cal_mean m USING (event_type)
    ),
    hist AS (
        SELECT event_type, score_fp, count(*) AS c
        FROM scored WHERE is_cal GROUP BY event_type, score_fp
    ),
    cum AS (
        SELECT event_type, score_fp,
               sum(c) OVER (PARTITION BY event_type ORDER BY score_fp
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n,
               (sum(c) OVER (PARTITION BY event_type) - 1)
                   * {CONF_ALPHA_PCT} AS r100
        FROM hist
    ),
    thr AS (
        SELECT event_type,
               CAST(min(CASE WHEN cum >= r100 // 100 + 1
                             THEN score_fp END) AS DOUBLE)
               + (CAST(min(CASE WHEN cum >= r100 // 100
                                + (CASE WHEN r100 % 100 > 0
                                        THEN 2 ELSE 1 END)
                                THEN score_fp END) AS DOUBLE)
                  - CAST(min(CASE WHEN cum >= r100 // 100 + 1
                                  THEN score_fp END) AS DOUBLE))
               * (CAST(max(r100) % 100 AS DOUBLE) / 100.0) AS thr_fp
        FROM cum GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(max(s.n_cal) AS BIGINT) AS n_cal,
           count(*) AS n_test,
           round(max(t.thr_fp) / 1000000.0, 6) AS threshold,
           count(*) FILTER (CAST(s.score_fp AS DOUBLE) <= t.thr_fp)
               AS n_covered,
           round(CAST(count(*) FILTER (
                     CAST(s.score_fp AS DOUBLE) <= t.thr_fp) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS coverage
    FROM scored s JOIN thr t USING (event_type)
    WHERE NOT s.is_cal
    GROUP BY s.event_type
"""
