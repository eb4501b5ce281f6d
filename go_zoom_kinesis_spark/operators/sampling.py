"""Deterministic distributed sampling — training-data-pipeline
operators (north-star extension; the reference has no sampling at all,
its only row-dropping is the hard-failure skip at
/root/reference/src/processor.rs:1511-1514).

Random `df.sample()` is seeded-deterministic within one engine but not
portable across engines (and not stable under repartitioning), so a
100 TB pipeline that must *reproduce* its training subsets samples by
content hash instead: a row is in the sample iff
``int(md5(key)[:4], 16) < rate * 0xffff``. Same rows selected on any
engine, any partitioning, any day — and the driver can hash-compare
results exactly, which seeded sampling can never offer.

Both entries are single-scan, shuffle-free selections (the filter is a
pure projection predicate, pushed to the scan's batch evaluation), so
at 100 TB they cost one pass with no data movement before the
downstream aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..persist import pin

DEC = "decimal(25,6)"

SAMPLE_PCT = 10  # ~10% of the 16-bit hash space
STRATA_PCT = 25  # per-language document sample


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _hash_bucket(key: F.Column) -> F.Column:
    """16-bit bucket from the md5 of the key's decimal string — the
    engine-portable deterministic sampler (conv hex→int is JVM-side)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast(
        "bigint"
    )


def sample_hash_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample of events by content-hash of the
    event id, then the standard per-type rollup over the sample."""
    ev = _t(spark, sf_dir, "events")
    keep = _hash_bucket(F.col("event_id")) < int(SAMPLE_PCT / 100 * 0xFFFF)
    return (
        ev.filter(keep)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language (per-stratum) ~25% deterministic sample of
    documents — equal-rate strata keep the language mix of the corpus
    while cutting volume; counts + mean length audit the result."""
    docs = _t(spark, sf_dir, "documents")
    keep = _hash_bucket(F.col("doc_id")) < int(STRATA_PCT / 100 * 0xFFFF)
    return (
        docs.filter(keep)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(F.length("text").cast("bigint")).alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


WEIGHTED_K = 5  # docs kept per language


def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis shape):
    each document draws a reproducible uniform from the md5 of its id
    and competes on priority u/weight — lower priority wins, so heavier
    (longer) documents are monotonically more likely to be kept. The
    fixed-size per-language sample is the exact-k companion to the
    rate-based strata sampler above.

    The classic ES key is u^(1/w); this uses the linearized integer
    form floor(u·10⁹ / w) — still strictly monotone in weight for a
    fixed draw, but every value either engine compares is a 64-bit
    integer (no `pow`, whose last-ulp differences across libm
    implementations could flip a selection). NOTE the linearization is
    NOT distribution-equivalent to true ES sampling: inclusion
    probability is weight-biased but not proportional to weight — the
    trade accepted for cross-engine bit-exactness.

    Scale: one window shuffle on ``lang``; at 100 TB the same rank
    runs after a per-partition top-k pre-filter (TakeOrdered shape) so
    no task ever sorts a whole mega-stratum.
    """
    docs = _t(spark, sf_dir, "documents")
    u = _hash_bucket(F.col("doc_id")) + 1  # 1..65536, never zero
    pri = F.expr(
        "(u * 1000000000L) div greatest(n_chars, 1L)"
    )
    from pyspark.sql import Window

    ranked = (
        docs.select("lang", "doc_id", "n_chars", u.alias("u"))
        .withColumn("priority", pri)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy("priority", "doc_id")
            ),
        )
    )
    return ranked.filter(F.col("rk") <= WEIGHTED_K).select(
        "lang", "rk", "doc_id", "n_chars", "priority"
    )




N_EPOCHS = 3  # training epochs to plan shuffle orders for
EPOCH_HEAD = 3  # verification sample: first docs per (epoch, lang)


def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-epoch shuffle orders — the data-loader
    guarantee a multi-epoch training run needs: every epoch visits the
    corpus in a DIFFERENT order, yet each order is a pure function of
    (doc_id, epoch), so any worker on any engine can recompute its
    slice without coordination or a stored permutation. The order key
    is the md5 bucket of ``doc_id:epoch``; the query emits the first
    EPOCH_HEAD documents per (epoch, lang) as the verification sample
    plus each stratum's size — enough for a trainer to assert "epoch 2
    starts where the plan says" before burning GPU time.

    One window shuffle keyed on (epoch, lang); the epoch fan-out is an
    in-row explode of a 3-element sequence (N_EPOCHS x data is the
    honest cost of planning N epochs at once — plan one epoch at a
    time at 100 TB and it is a single pass each).
    """
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ep = docs.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), F.lit(N_EPOCHS - 1))).alias("epoch"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.col("doc_id").cast("string"), F.col("epoch"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("epoch", "lang").orderBy("bucket", "doc_id")
    ranked = ep.withColumn("bucket", bucket).withColumn(
        "rn", F.row_number().over(w)
    )
    wn = Window.partitionBy("epoch", "lang")
    return (
        ranked.withColumn("stratum_size", F.count("*").over(wn))
        .filter(F.col("rn") <= EPOCH_HEAD)
        .select("epoch", "lang", "rn", "doc_id", "bucket", "stratum_size")
    )


def stratified_split_assign(
    df: DataFrame, stratum_col: str, id_col: str
) -> DataFrame:
    """Exact-quota stratified train/val/test assignment over any
    DataFrame: within each stratum, rows are ordered by content hash
    of the id and the first ⌈0.8n⌉ go to train, the next ⌈0.1n⌉ to
    val, the rest to test — EXACT per-stratum proportions
    (hash-threshold splits only hit quotas in expectation),
    reproducible on any engine and any partitioning. Returns the
    input columns plus ``split``.

    The per-stratum rank is two-phase (the round-5-verdict pattern for
    low-cardinality partition keys): rows bucket by the hash's leading
    byte, per-(stratum, bucket) counts broadcast back as cumulative
    offsets, and the in-bucket row_number runs over stratum×256
    partitions instead of one multi-terabyte sort per stratum. The
    hex-prefix bucket preserves lexicographic md5 order, so
    offset + in-bucket rank == the global per-stratum rank. Quotas use
    integer ceil ((8n+9) div 10) — no float boundary ambiguity.
    """
    from pyspark.sql import Window

    d = df.withColumn(
        "__h", F.md5(F.col(id_col).cast("string"))
    ).withColumn(
        "__bucket", F.conv(F.substring("__h", 1, 2), 16, 10).cast("int")
    )
    cnt = d.groupBy(stratum_col, "__bucket").agg(
        F.count(F.lit(1)).alias("__c")
    )
    woff = Window.partitionBy(stratum_col).orderBy("__bucket")
    off = cnt.withColumn("__off", F.sum("__c").over(woff) - F.col("__c"))
    tot = cnt.groupBy(stratum_col).agg(F.sum("__c").alias("__n"))
    d = d.join(
        F.broadcast(off.select(stratum_col, "__bucket", "__off")),
        [stratum_col, "__bucket"],
    ).join(F.broadcast(tot), stratum_col)
    rk = F.col("__off") + F.row_number().over(
        Window.partitionBy(stratum_col, "__bucket").orderBy("__h", id_col)
    )
    train_q = F.expr("(8 * __n + 9) div 10")
    val_q = F.expr("(__n + 9) div 10")
    return d.withColumn(
        "split",
        F.when(rk <= train_q, "train")
        .when(rk <= train_q + val_q, "val")
        .otherwise("test"),
    ).drop("__h", "__bucket", "__off", "__n")


def stratified_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface: exact-quota train/val/test over documents,
    stratified by language (see stratified_split_assign)."""
    docs = _t(spark, sf_dir, "documents")
    return stratified_split_assign(
        docs.select("doc_id", "lang"), "lang", "doc_id"
    ).select("doc_id", "lang", "split")


K_FOLDS = 5  # grouped cross-validation folds


def group_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped k-fold assignment audit — the CV-split discipline that
    prevents domain leakage: ALL documents of a source land in the
    same fold (fold = hash(source) % K), so no fold ever trains on a
    domain its validation twin contains. The audit reports per-fold
    document/source/char masses and the doc share in integer ppm —
    the trainer's check that hash-assignment didn't produce a
    pathologically unbalanced fold.

    One map-side expression (fold is a pure function of ``source``)
    plus a single bounded groupBy — zero joins, K-row output, the
    shape survives 100 TB unchanged.
    """
    docs = _t(spark, sf_dir, "documents")
    fold = (_hash_bucket(F.col("source")) % K_FOLDS).cast("int")
    agg = docs.withColumn("fold", fold).groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
    )
    total = agg.agg(F.sum("n_docs").alias("N"))
    return (
        agg.join(F.broadcast(total))
        .select(
            "fold",
            "n_docs",
            "n_sources",
            "total_chars",
            F.expr("1000000 * n_docs div N").alias("share_ppm"),
        )
    )


NEYMAN_BUDGET = 1000  # eval-set rows to allocate across language strata


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (variance-proportional) stratified-sampling allocation:
    split an eval-set budget of {NEYMAN_BUDGET} rows across language
    strata as ``n_h ∝ N_h·S_h`` — the allocation that minimizes the
    variance of the stratified mean (Neyman 1934), vs the equal-rate
    allocation of ``sample_stratified_documents``. High-variance
    strata (heterogeneous doc lengths) get more eval rows; a
    zero-variance stratum needs only its mean and gets none.

    Cross-engine determinism is integer-exact end to end: the weight
    ``N_h·S_h = sqrt(N_h·Σx² − (Σx)²)`` (population SD) is ONE IEEE
    sqrt of an exactly-computed decimal(38,0)/HUGEINT integer, then
    quantized to a bigint at 1e-4 (``round`` to an integer-valued
    double before the cast, so both engines cast exactly). Base
    shares are integer ``div``/``%`` against the exact bigint weight
    total, and the leftover goes to the largest integer remainders
    (ties broken by lang asc) — no float ever crosses an aggregation
    whose order an engine could choose.

    Scale: the corpus-scale work is ONE map-side-combining aggregate
    to K = |languages| rows; every window/join after it is K-row
    (broadcast). At extreme corpus sizes (N_h·Σx² past ~1e38) swap
    the exact decimal for a double Gram — the allocation tolerates
    sub-ulp weight error by construction (remainders are re-ranked).
    Zero-variance corpora (total weight 0) allocate nothing, by
    definition of the method."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_stratum"),
        F.sum(F.col("n_chars").cast("bigint")).alias("s1"),
        F.sum(
            (F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)")
        ).alias("s2"),
    )
    w2 = F.col("n_stratum").cast("decimal(38,0)") * F.col("s2") - F.col(
        "s1"
    ).cast("decimal(38,0)") * F.col("s1").cast("decimal(38,0)")
    w_dbl = F.sqrt(w2.cast("double"))
    per = per.select(
        "lang",
        "n_stratum",
        F.round(w_dbl / F.col("n_stratum"), 4).alias("sd_chars"),
        F.when(w2 <= 0, F.lit(0))
        .otherwise(F.round(w_dbl * 10000).cast("bigint"))
        .alias("w_scaled"),
    )
    tot = per.agg(F.sum("w_scaled").alias("totw"))
    per = per.join(F.broadcast(tot)).select(
        "lang",
        "n_stratum",
        "sd_chars",
        "w_scaled",
        F.expr(
            f"CASE WHEN totw > 0 THEN ({NEYMAN_BUDGET} * w_scaled) div totw"
            " ELSE 0 END"
        ).alias("base"),
        F.expr(
            f"CASE WHEN totw > 0 THEN ({NEYMAN_BUDGET} * w_scaled) % totw"
            " ELSE 0 END"
        ).alias("rem"),
    )
    lsum = per.agg(F.sum("base").alias("bsum"), F.sum("w_scaled").alias("tw"))
    w = Window.orderBy(F.desc("rem"), F.asc("lang"))
    return (
        per.join(F.broadcast(lsum))
        .withColumn("rk", F.row_number().over(w))
        .select(
            "lang",
            "n_stratum",
            "sd_chars",
            "w_scaled",
            (
                F.col("base")
                + F.when(
                    (F.col("tw") > 0)
                    & (F.col("rk") <= NEYMAN_BUDGET - F.col("bsum")),
                    1,
                ).otherwise(0)
            ).alias("n_alloc"),
        )
    )


QUERIES = {
    "epoch_shuffle_plan": epoch_shuffle_plan,
    "sample_hash_events": sample_hash_events,
    "sample_stratified_documents": sample_stratified_documents,
    "sample_weighted_priority": sample_weighted_priority,
    "stratified_split_exact": stratified_split_exact,
    "group_kfold_assign": group_kfold_assign,
    "sample_neyman_allocation": sample_neyman_allocation,
}

_BUCKET = "CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 4)) AS INTEGER)"

ORACLE = {
    "sample_hash_events": f"""
        SELECT event_type,
               count(*) AS n_sampled,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
               min(event_id) AS min_event_id,
               max(event_id) AS max_event_id
        FROM events
        WHERE {_BUCKET.format(key="event_id")} < {int(SAMPLE_PCT / 100 * 0xFFFF)}
        GROUP BY event_type
    """,
    "sample_stratified_documents": f"""
        SELECT lang,
               count(*) AS n_sampled,
               CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
               min(doc_id) AS min_doc_id
        FROM documents
        WHERE {_BUCKET.format(key="doc_id")} < {int(STRATA_PCT / 100 * 0xFFFF)}
        GROUP BY lang
    """,
    "sample_weighted_priority": f"""
        WITH pri AS (
            SELECT lang, doc_id, n_chars,
                   ((CAST({_BUCKET.format(key="doc_id")} AS BIGINT) + 1)
                    * 1000000000)
                   // greatest(n_chars, 1) AS priority
            FROM documents
        ),
        ranked AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY priority, doc_id
                   ) AS rk
            FROM pri
        )
        SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, n_chars,
               CAST(priority AS BIGINT) AS priority
        FROM ranked WHERE rk <= {WEIGHTED_K}
    """,
}

ORACLE["epoch_shuffle_plan"] = f"""
    WITH ep AS (
        SELECT doc_id, lang, unnest(generate_series(0, {N_EPOCHS - 1})) AS epoch
        FROM documents
    ),
    ranked AS (
        SELECT epoch, lang, doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                    || CAST(epoch AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket,
               row_number() OVER (
                   PARTITION BY epoch, lang
                   ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                       || ':' || CAST(epoch AS VARCHAR)), 1, 8)) AS BIGINT),
                       doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY epoch, lang) AS stratum_size
        FROM ep
    )
    SELECT epoch, lang, rn, doc_id, bucket,
           CAST(stratum_size AS BIGINT) AS stratum_size
    FROM ranked WHERE rn <= {EPOCH_HEAD}
"""

ORACLE["stratified_split_exact"] = """
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN rk <= (8 * n + 9) // 10 THEN 'train'
                WHEN rk <= (8 * n + 9) // 10 + (n + 9) // 10 THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
"""

ORACLE["group_kfold_assign"] = f"""
    WITH folds AS (
        SELECT {_BUCKET.format(key='source')} % {K_FOLDS} AS fold,
               source, n_chars
        FROM documents
    ),
    agg AS (
        SELECT fold, count(*) AS n_docs,
               count(DISTINCT source) AS n_sources,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM folds GROUP BY fold
    )
    SELECT CAST(fold AS INTEGER) AS fold,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sources AS BIGINT) AS n_sources,
           total_chars,
           CAST((1000000 * n_docs)
                // (SELECT sum(n_docs) FROM agg) AS BIGINT) AS share_ppm
    FROM agg
"""

ORACLE["sample_neyman_allocation"] = f"""
    WITH per AS (
        SELECT lang,
               count(*) AS n_stratum,
               CAST(sum(CAST(n_chars AS BIGINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS s2
        FROM documents GROUP BY lang
    ),
    wq AS (
        SELECT lang, n_stratum,
               round(sqrt(CAST(n_stratum * s2 - s1 * s1 AS DOUBLE))
                     / n_stratum, 4) AS sd_chars,
               CASE WHEN n_stratum * s2 - s1 * s1 <= 0 THEN 0
                    ELSE CAST(round(sqrt(CAST(n_stratum * s2 - s1 * s1
                                              AS DOUBLE)) * 10000) AS BIGINT)
               END AS w_scaled
        FROM per
    ),
    tot AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS totw FROM wq),
    base AS (
        SELECT lang, n_stratum, sd_chars, w_scaled, totw,
               CASE WHEN totw > 0
                    THEN CAST(({NEYMAN_BUDGET} * w_scaled) // totw AS BIGINT)
                    ELSE 0 END AS base,
               CASE WHEN totw > 0
                    THEN CAST(({NEYMAN_BUDGET} * w_scaled) % totw AS BIGINT)
                    ELSE 0 END AS rem
        FROM wq, tot
    ),
    l AS (SELECT CAST(sum(base) AS BIGINT) AS bsum FROM base)
    SELECT lang,
           CAST(n_stratum AS BIGINT) AS n_stratum,
           sd_chars,
           w_scaled,
           CAST(base + CASE WHEN totw > 0
                             AND row_number() OVER (ORDER BY rem DESC, lang)
                                 <= {NEYMAN_BUDGET} - bsum
                            THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
    FROM base, l
"""


# --- r7-staged, registered at round 8: domain frequency capping ------------------------

DOMAIN_CAP = 15  # max documents kept per source domain


def domain_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping (the CCNet / RefinedWeb crawl-
    hygiene step, public literature): keep at most {DOMAIN_CAP}
    documents per ``source``, preferring longer documents (n_chars
    DESC), and report the per-domain kept/dropped budget — the audit a
    crawl team reads before a heavy domain floods the training mix.
    Sibling of the registered ``domain_cap_documents`` (behavior.py),
    which keeps a RANDOM md5-priority sample via a per-row row_number
    window; this one keeps the LONGEST docs and exists to pin the
    skew-proof plan shape for that policy (value buckets, no per-domain
    row sort) — the two policies are both in the crawl literature and
    their plans differ materially, which is the point.

    Scale shape: NOT a per-domain row_number window — ranking a hot
    domain's rows in one task is exactly the skew this operator exists
    to police. Instead the two-phase prefix-sum pattern
    (``stratified_split_assign``): rows collapse to (source, n_chars)
    value buckets first (one map-side-combining aggregate), the
    cumulative count runs over per-source DISTINCT VALUE buckets
    (bounded by the char-length domain, never by rows), and the kept
    mass from the boundary bucket is ``CAP - count_above`` — exact
    because every doc in a bucket has the same n_chars, so WHICH
    tie-break wins cannot change any reported sum. One shuffle to the
    bucket aggregate, one value-domain window, K-row output.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    buckets = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"))
    cum = buckets.withColumn(
        "above", F.sum("cnt").over(w) - F.col("cnt")
    )
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cnt"), F.lit(DOMAIN_CAP) - F.col("above")),
    )
    per_bucket = cum.select(
        "source",
        "n_chars",
        "cnt",
        kept.alias("kept"),
    )
    return per_bucket.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum("kept").cast("long").alias("n_kept"),
        (F.sum("cnt") - F.sum("kept")).cast("long").alias("n_dropped"),
        F.sum(F.col("cnt") * F.col("n_chars")).cast("long").alias("total_chars"),
        F.sum(F.col("kept") * F.col("n_chars")).cast("long").alias("kept_chars"),
    )


QUERIES["domain_frequency_cap"] = domain_frequency_cap

# oracle: the naive per-domain rank formulation — any tie-break among
# equal n_chars keeps the same counts and char sums, so row_number's
# arbitrary order within ties cannot diverge from the bucket math
ORACLE["domain_frequency_cap"] = f"""
        WITH ranked AS (
            SELECT source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id ASC)
                       AS rk
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN rk <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN rk > {DOMAIN_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN rk <= {DOMAIN_CAP} THEN n_chars
                             ELSE 0 END) AS BIGINT) AS kept_chars
        FROM ranked GROUP BY source
    """


# --- r7-staged, registered at round 8: purged time-series CV folds ----------------------

TIMEFOLD_K = 5  # chronological folds
TIMEFOLD_EMBARGO_HOURS = 12  # purge zone on each side of the test fold
_HOUR_US = 3_600_000_000


def purged_timefold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged chronological K-fold audit over ``events`` — the
    time-series CV discipline (de Prado's purged k-fold, public
    literature): folds are CONTIGUOUS time ranges with near-equal
    event counts, and for each test fold an EMBARGO of
    {TIMEFOLD_EMBARGO_HOURS} h on both sides is purged from its
    training set, so serial correlation across the boundary cannot
    leak the test period into training. Output: one row per fold with
    test/embargo/train event accounting and the fold's hour range —
    the audit a temporal-model trainer reads before trusting CV
    scores. Complements the split family: ``stratified_split_exact``
    (random, exact quotas), ``group_kfold_assign`` (group-hash) — this
    one is the temporal axis.

    Scale shape (the two-phase value-bucket discipline): events
    collapse to HOUR buckets first (one map-side-combining aggregate,
    bounded by the time span, never by event rows); the cumulative
    count + fold assignment run as windows over that bounded bucket
    relation; and the per-fold test/embargo/train classification is a
    K×buckets broadcast join — no event row is ever windowed, sorted,
    or joined. Fold boundaries land on bucket (hour) edges by
    contract, which also makes the embargo arithmetic exact integer
    hour math in both engines."""
    ev = _t(spark, sf_dir, "events")
    # exact integer FLOOR division (a - pmod(a, h)) div h, matching
    # DuckDB's // for negative (pre-1970) timestamps too — double
    # division + cast-to-long truncates toward zero instead
    hb = (
        ev.select(
            F.expr(
                f"(unix_micros(ts) - pmod(unix_micros(ts), {_HOUR_US}))"
                f" div {_HOUR_US}"
            ).alias("hour")
        )
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    w_cum = Window.orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    # pin the bounded bucket relation: it feeds four plan branches
    # (fold ranges, the embargo classification's bucket side, and the
    # corpus total) — unpinned, each branch would re-scan events
    # A/B sf0.1 0.17→0.28 / 0.6→0.8 s, sf1 0.26→0.41 / 1.1→1.6 s
    hb2 = (
        hb.select(
            "hour",
            "cnt",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("total"),
        )
        .select(
            "hour",
            "cnt",
            F.expr(f"(cum - 1) * {TIMEFOLD_K} div total").alias("fold"),
        )
        .transform(pin)
    )
    fr = hb2.groupBy("fold").agg(
        F.min("hour").alias("h0"),
        F.max("hour").alias("h1"),
        F.sum("cnt").alias("n_test"),
    )
    cls = F.broadcast(fr).join(
        hb2.select(F.col("hour").alias("bh"), F.col("cnt").alias("bcnt")),
        (F.col("bh") >= F.col("h0") - TIMEFOLD_EMBARGO_HOURS)
        & (F.col("bh") <= F.col("h1") + TIMEFOLD_EMBARGO_HOURS),
    )
    emb = cls.filter(
        (F.col("bh") < F.col("h0")) | (F.col("bh") > F.col("h1"))
    ).groupBy("fold").agg(F.sum("bcnt").alias("n_embargo"))
    return (
        fr.join(emb, "fold", "left")
        .crossJoin(
            F.broadcast(
                hb2.agg(F.sum("cnt").alias("n_total"))
            )
        )
        .select(
            "fold",
            F.col("h0").alias("test_start_hour"),
            F.col("h1").alias("test_end_hour"),
            "n_test",
            F.coalesce("n_embargo", F.lit(0)).cast("long").alias("n_embargo"),
            (
                F.col("n_total")
                - F.col("n_test")
                - F.coalesce("n_embargo", F.lit(0))
            )
            .cast("long")
            .alias("n_train"),
        )
    )


QUERIES["purged_timefold_assign"] = purged_timefold_assign

ORACLE["purged_timefold_assign"] = f"""
    WITH hb AS (
        SELECT epoch_us(ts) // {_HOUR_US} AS hour, count(*) AS cnt
        FROM events GROUP BY 1
    ),
    hb2 AS (
        SELECT hour, cnt,
               (sum(cnt) OVER (ORDER BY hour
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - 1)
               * {TIMEFOLD_K} // (sum(cnt) OVER ()) AS fold
        FROM hb
    ),
    fr AS (
        SELECT fold, min(hour) AS h0, max(hour) AS h1,
               CAST(sum(cnt) AS BIGINT) AS n_test
        FROM hb2 GROUP BY fold
    ),
    emb AS (
        SELECT f.fold, CAST(sum(b.cnt) AS BIGINT) AS n_embargo
        FROM fr f JOIN hb2 b
          ON b.hour >= f.h0 - {TIMEFOLD_EMBARGO_HOURS}
         AND b.hour <= f.h1 + {TIMEFOLD_EMBARGO_HOURS}
         AND (b.hour < f.h0 OR b.hour > f.h1)
        GROUP BY f.fold
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM hb)
    SELECT CAST(f.fold AS BIGINT) AS fold,
           f.h0 AS test_start_hour,
           f.h1 AS test_end_hour,
           f.n_test,
           coalesce(e.n_embargo, 0) AS n_embargo,
           t.n_total - f.n_test - coalesce(e.n_embargo, 0) AS n_train
    FROM fr f LEFT JOIN emb e ON e.fold = f.fold, tot t
"""
