"""Data-quality operators — column profiling and declarative constraint
validation (the deequ/great-expectations layer of a training-data
pipeline: the gate a 100 TB ingest runs BEFORE anything downstream
trusts the data).

The reference's only data-quality surface is the per-batch pre-commit
validation hook (/root/reference/src/processor.rs, batch validation
before checkpoint); these operators generalize it to declarative,
driver-verifiable table checks.

Every output is integer/string/boolean — no float representation can
diverge from the DuckDB oracle.

Scale notes: ``profile_columns`` is ONE pass per table (all per-column
aggregates fused into a single HashAggregate; distinct counts are the
only shuffle-bearing members and Spark computes them via partial
expand). ``validate_constraints`` unions five single-aggregate checks,
each either a scan-level aggregate or a broadcast/keyed anti-join —
nothing quadratic, nothing collected.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fan_out_narrow, load_table

PROFILE_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_quantity",
    "l_returnflag",
    "l_shipdate",
)


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of ``lineitem``: one row per profiled
    column with row/null/distinct counts and min/max rendered as
    strings (lexicographic — the cast precedes the extremum).

    Plan (r14, VERDICT r13 #1 / guide §2.3-§2.4): pin the 5-column
    projection once, then run
    FIVE NARROW TYPED per-value aggregates — one ``groupBy(col).count``
    per profiled column, each a whole-stage-codegen hash aggregate
    keyed by the column's NATIVE type with map-side combine — union
    the five deduped (column_name, value-as-string, cnt) relations,
    and finish with the same per-column rollup as before (n_distinct
    is a plain count over the deduped values). The r4-r13 shape
    unpivoted first: a 5-way explode + string-cast of every value
    (3M struct rows at sf0.1) feeding ONE wide string-keyed aggregate
    — the explode + mixed-type first-level hash aggregate was the
    measured dominant cost (both typed-unpivot variants failed to
    remove it in r13: 5-slot struct key slower, 2-slot +11%). The
    typed branches cast to string only AFTER the dedup (Σ|distinct|
    casts, not 3M) and keep map-side partials per branch. The pin
    preserves the single-scan property the unpivot existed for (five
    lazy branches would re-scan parquet per branch — columnar I/O
    equal in bytes, but 5x the file opens at 100 TB); eager pins
    materialize at build like every other pinned operator.

    Float edge values: grouping on a native double merges ``-0.0``
    with ``0.0`` and folds every NaN into one canonical NaN (Spark
    normalizes floating grouping keys), while the oracle casts to
    string first and keeps ``-0.0`` and ``0.0`` apart. On a column
    holding such values, n_distinct and the rendered min/max can
    diverge from the oracle; TPC-H ``lineitem`` holds none.

    History of measured alternatives at sf0.1: fused
    multi-countDistinct (Expand ×6) 9.0 s, five independent scans
    1.1 s, string-unpivot 1.8 s (r4), + projection/fan-out 1.32 s
    (r13), this form measured against the r13 one in
    OPTIMIZATION_r14.md."""
    from ..persist import pin

    raw = load_table(spark, sf_dir, "lineitem").select(*PROFILE_COLS)
    # A/B sf0.1 0.39→1.19 / 1.7→3.0 s, sf1 1.73→1.65 / 4.7→3.8 s
    li = pin(fan_out_narrow(raw))
    per_val = reduce(
        DataFrame.unionByName,
        [
            li.groupBy(c)
            .agg(F.count("*").alias("cnt"))
            .select(
                F.lit(c).alias("column_name"),
                F.col(c).cast("string").alias("v"),
                "cnt",
            )
            for c in PROFILE_COLS
        ],
    )
    return per_val.groupBy("column_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)
        ).alias("n_nulls"),
        F.count("v").alias("n_distinct"),  # count() skips null values
        F.min("v").alias("min_str"),
        F.max("v").alias("max_str"),
    )


def validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named constraint suite over the star schema — each row is one
    check with its violation count and verdict:

    - ``pk_unique_orders``:      o_orderkey is unique
    - ``fk_lineitem_orders``:    every l_orderkey exists in orders
    - ``nonneg_quantity``:       l_quantity > 0
    - ``discount_range``:        0 <= l_discount <= 1
    - ``returnflag_enum``:       l_returnflag within its enum

    Scan budget (the 100 TB concern): the three scalar checks are ONE
    conditional-sum pass over lineitem — a single 1-row agg whose three
    counters are unpivoted with ``stack`` — not three separate scans
    (the r4 shape this replaces). Total: 2 fact scans (fused scalars +
    the FK anti-join, which needs its own join anyway) + the
    dimension-side PK scan; partial aggregation makes each scan's
    exchange a handful of longs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    pk_dups = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("v"))
        .select(F.lit("pk_unique_orders").alias("constraint_name"), "v")
    )
    fk_orphans = (
        li.join(orders.select("o_orderkey"),
                li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count("*").alias("v"))
        .select(F.lit("fk_lineitem_orders").alias("constraint_name"), "v")
    )
    scalar = li.agg(
        F.sum((~(F.col("l_quantity") > 0)).cast("bigint")).alias("nonneg"),
        F.sum(
            (~((F.col("l_discount") >= 0) & (F.col("l_discount") <= 1))).cast(
                "bigint"
            )
        ).alias("drange"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("bigint")
        ).alias("renum"),
    ).selectExpr(
        "stack(3, 'nonneg_quantity', nonneg, 'discount_range', drange, "
        "'returnflag_enum', renum) AS (constraint_name, v)"
    )
    checks = reduce(DataFrame.unionByName, [pk_dups, fk_orphans, scalar])
    return checks.select(
        "constraint_name",
        F.col("v").alias("n_violations"),
        (F.col("v") == 0).alias("passed"),
    )


def chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between ``lang`` and ``source`` on
    documents — the drift/segmentation check a corpus pipeline runs to
    catch a source whose language mix shifted.

    Observed counts are one groupBy; marginals are window sums over the
    ≤ R×C cell table (tiny); expected = row·col/n and the statistic
    folds (o−e)²/e in (lang, source) order so the double sum is
    bit-identical to the oracle. Counts up to ~2^26 keep row·col exact
    in a double; past that (≫ 100 TB cells) compute e in decimal.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wg = Window.partitionBy()
    with_marg = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(wl).alias("rl"),
        F.sum("o").over(ws).alias("cs"),
        F.sum("o").over(wg).alias("n"),
    )
    contrib = with_marg.select(
        "lang",
        "source",
        "o",
        (
            (F.col("o") - F.col("rl") * F.col("cs") / F.col("n"))
            * (F.col("o") - F.col("rl") * F.col("cs") / F.col("n"))
            / (F.col("rl") * F.col("cs") / F.col("n"))
        ).alias("x"),
    )
    folded = contrib.groupBy().agg(
        F.count("*").alias("n_cells"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("lang", "source", "x"))),
                lambda s: s.x,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("chi2"),
    )
    return folded.select(
        "n_cells",
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
        "chi2",
    )


DRIFT_BUCKET = 50  # n_chars histogram width for drift comparison


def distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: L1 distance between each source's
    document-length histogram and the corpus-wide histogram — the
    monitoring check that catches a source whose content shifted
    (length is the cheapest canary; swap in any bucketed feature).

    The comparison runs over a zero-filled source×bucket grid (a
    missing bucket still contributes |0 − p_global|), built by
    cross-joining the two tiny dimension sets — never the fact table.
    Shares are single correctly-rounded divisions of exact counts and
    the per-source sum folds in bucket order, so the double distance
    hashes identically on both engines. L1 avoids PSI's ln(), which is
    not correctly-rounded cross-engine.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(
        "source", F.floor(F.col("n_chars") / DRIFT_BUCKET).cast("bigint").alias("b")
    )
    cells = binned.groupBy("source", "b").agg(F.count("*").alias("c"))
    sources = cells.select("source").distinct()
    buckets = cells.select("b").distinct()
    grid = sources.crossJoin(buckets)
    filled = grid.join(cells, ["source", "b"], "left").select(
        "source", "b", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    wsrc = Window.partitionBy("source")
    wb = Window.partitionBy("b")
    wg = Window.partitionBy()
    terms = filled.select(
        "source",
        "b",
        "c",
        F.sum("c").over(wsrc).alias("ns"),
        F.sum("c").over(wb).alias("cg"),
        F.sum("c").over(wg).alias("ng"),
    ).select(
        "source",
        "b",
        "c",
        "ns",
        F.abs(F.col("c") / F.col("ns") - F.col("cg") / F.col("ng")).alias("t"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("ns").alias("n_docs"),
            F.count("*").alias("n_buckets"),
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("b", "t"))),
                    lambda s: s.t,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("drift_l1"),
        )
    )


def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per event type: exact P1/P99 over
    integer cents (Spark ``percentile`` and DuckDB ``quantile_cont``
    share the (n−1)·p convention), values clamped to those bounds, and
    the winsorized sum carried through decimal(25,6) so the aggregate
    is order-independent. Reports how many observations each tail
    clipped — the outlier-capping stage of a feature pipeline.

    Scale: two aggregate passes over the facts on the same low-
    cardinality key (bounds, then clamped rollup) with the bounds
    broadcast back — the same shape as ``robust_outliers_mad``. At
    100 TB the exact percentile swaps for ``approx_percentile``.
    """
    # r13 (guide §2.3): one percentile(cents, array(...)) value→count
    # map instead of two. Quiet-host re-A/B: the batch-3 fan-out
    # REVERTED (0.39 unfanned vs 0.47 fanned) — cents are
    # domain-bounded, so the partial map is small and the exchange
    # costs more than the one-core build.
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    vals = ev.select("event_type", cents.alias("cents"))
    pct = F.expr("percentile(cents, array(0.01, 0.99))")
    bounds = vals.groupBy("event_type").agg(
        pct.getItem(0).alias("p01"),
        pct.getItem(1).alias("p99"),
    )
    clamped = vals.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "p01",
        "p99",
        "cents",
        F.when(F.col("cents") < F.col("p01"), F.col("p01"))
        .when(F.col("cents") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("cents").cast("double"))
        .alias("w_cents"),
    )
    return clamped.groupBy("event_type", "p01", "p99").agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("cents") < F.col("p01")).cast("bigint")).alias(
            "n_clipped_lo"
        ),
        F.sum((F.col("cents") > F.col("p99")).cast("bigint")).alias(
            "n_clipped_hi"
        ),
        F.sum(F.col("w_cents").cast("decimal(25,6)"))
        .cast("double")
        .alias("winsorized_sum_cents"),
    )


QUERIES = {
    "profile_columns": profile_columns,
    "validate_constraints": validate_constraints,
    "chi_square_lang_source": chi_square_lang_source,
    "distribution_drift": distribution_drift,
    "winsorize_values": winsorize_values,
}

_PROFILE_PAIRS = " UNION ALL ".join(
    f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS v FROM lineitem"
    for c in PROFILE_COLS
)

_PROFILE_SQL = f"""
    WITH pairs AS ({_PROFILE_PAIRS}),
    per_val AS (
        SELECT column_name, v, count(*) AS cnt
        FROM pairs GROUP BY column_name, v
    )
    SELECT column_name,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0) AS BIGINT)
               AS n_nulls,
           count(v) AS n_distinct,
           min(v) AS min_str,
           max(v) AS max_str
    FROM per_val GROUP BY column_name
"""

ORACLE = {
    "profile_columns": _PROFILE_SQL,
    "validate_constraints": """
        WITH checks AS (
            SELECT 'pk_unique_orders' AS constraint_name,
                   CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS v
            FROM (SELECT o_orderkey, count(*) AS n FROM orders
                  GROUP BY o_orderkey HAVING count(*) > 1)
            UNION ALL
            SELECT 'fk_lineitem_orders',
                   CAST(count(*) AS BIGINT)
            FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)
            UNION ALL
            SELECT 'nonneg_quantity',
                   CAST(sum(CASE WHEN NOT (l_quantity > 0)
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'discount_range',
                   CAST(sum(CASE WHEN NOT (l_discount >= 0
                                           AND l_discount <= 1)
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'returnflag_enum',
                   CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R')
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
        )
        SELECT constraint_name, v AS n_violations, v = 0 AS passed
        FROM checks
    """,
    "chi_square_lang_source": """
        WITH cells AS (
            SELECT lang, source, count(*) AS o
            FROM documents GROUP BY lang, source
        ),
        marg AS (
            SELECT lang, source, o,
                   sum(o) OVER (PARTITION BY lang) AS rl,
                   sum(o) OVER (PARTITION BY source) AS cs,
                   sum(o) OVER () AS n
            FROM cells
        ),
        contrib AS (
            SELECT lang, source,
                   (o - rl * cs / n) * (o - rl * cs / n)
                       / (rl * cs / n) AS x
            FROM marg
        )
        SELECT count(*) AS n_cells,
               CAST((count(DISTINCT lang) - 1)
                    * (count(DISTINCT source) - 1) AS BIGINT) AS dof,
               list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(x ORDER BY lang, source)),
                   (acc, v) -> acc + v) AS chi2
        FROM contrib
    """,
    "distribution_drift": f"""
        WITH cells AS (
            SELECT source,
                   CAST(floor(n_chars / {DRIFT_BUCKET}) AS BIGINT) AS b,
                   count(*) AS c
            FROM documents GROUP BY 1, 2
        ),
        grid AS (
            SELECT s.source, bb.b
            FROM (SELECT DISTINCT source FROM cells) s
            CROSS JOIN (SELECT DISTINCT b FROM cells) bb
        ),
        filled AS (
            SELECT g.source, g.b, coalesce(c.c, 0) AS c
            FROM grid g LEFT JOIN cells c
              ON c.source = g.source AND c.b = g.b
        ),
        terms AS (
            SELECT source, b, c,
                   sum(c) OVER (PARTITION BY source) AS ns,
                   sum(c) OVER (PARTITION BY b) AS cg,
                   sum(c) OVER () AS ng
            FROM filled
        )
        SELECT source,
               CAST(max(ns) AS BIGINT) AS n_docs,
               count(*) AS n_buckets,
               list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(abs(c / ns - cg / ng) ORDER BY b)),
                   (acc, v) -> acc + v) AS drift_l1
        FROM terms GROUP BY source
    """,
}

ORACLE["winsorize_values"] = """
    WITH vals AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    bounds AS (
        SELECT event_type,
               quantile_cont(cents, 0.01) AS p01,
               quantile_cont(cents, 0.99) AS p99
        FROM vals GROUP BY event_type
    )
    SELECT v.event_type, b.p01, b.p99,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN v.cents < b.p01 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_lo,
           CAST(sum(CASE WHEN v.cents > b.p99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_hi,
           CAST(sum(CAST(
               CASE WHEN v.cents < b.p01 THEN b.p01
                    WHEN v.cents > b.p99 THEN b.p99
                    ELSE CAST(v.cents AS DOUBLE) END
               AS DECIMAL(25,6))) AS DOUBLE) AS winsorized_sum_cents
    FROM vals v JOIN bounds b USING (event_type)
    GROUP BY v.event_type, b.p01, b.p99
"""
