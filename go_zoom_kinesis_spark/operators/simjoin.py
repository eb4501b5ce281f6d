"""Exact-threshold set-similarity join with prefix filtering (PPJoin
shape) — all document pairs with 3-shingle Jaccard ≥ θ, NO false
negatives (unlike the MinHash-LSH near-dup path in ``dedup.py``, which
trades recall for candidate sparsity; on this corpus both find the
same 25 near-dup pairs, which is itself a useful cross-check).

The prefix-filter principle (Vernica et al., SIGMOD'10 — public
literature): order every document's distinct shingles by global rarity
(document frequency asc); if two sets have Jaccard ≥ θ, each must
contain one of the other's first ``|s| - ceil(θ·|s|) + 1`` shingles.
Candidates are generated by an equi-join on PREFIX shingles only — and
because prefixes hold the RAREST shingles, fan-out stays near-linear
(at sf0.01: 772 candidate pairs from 125k possible). A size filter
(``θ·max ≤ min``) prunes before exact verification.

Set elements are word 3-shingles (`functions/hashes.shingles_col`, the
same relation the MinHash path hashes) rather than unigrams: the
synthetic corpus has a ~31-word vocabulary, so unigram prefixes are
non-selective; 3-shingles give a ~10⁴ element space. Real corpora show
the same effect, just less extreme.

The Jaccard threshold test is pure integer arithmetic
(``DEN·|∩| ≥ NUM·|∪|``) — no float comparison can diverge between
engines.

Scale notes (100 TB):
- shingle document frequency is a bounded aggregate with map-side
  combine; the df join back onto the shingle relation is equi on the
  shingle key (same shuffle the MinHash path already pays).
- the candidate join is equi on rare shingles; hot shingles never
  enter prefixes by construction, so there is no hub blow-up to cap
  (contrast MAX_DOC_FREQ in dedup.py's LSH verify).
- verification is two equi-joins on (doc_id, shingle) restricted to
  surviving candidates — nothing pairwise beyond them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashes as H
from ..io import fan_out_narrow, load_table
from ..persist import pin

# Jaccard threshold θ = NUM/DEN (integer arithmetic only)
THETA_NUM = 1
THETA_DEN = 2


def _shingle_arr_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact per-doc distinct-shingle arrays — ONE row per document.

    r13: the shared upstream for both the exploded shingle stream and
    the verification dictionary. Shingling is the CPU-heavy interpreted
    HOF; computing it once on the compact (doc_id, arr) shape and
    pinning THAT (instead of the exploded stream the r11/r12 A/Bs
    rejected — one row per shingle, read back thrice) lets every
    downstream consumer — the ranked/prefix window chain AND the
    in-row array_intersect verify — replay the arrays instead of
    re-running the HOF per reference. Docs with <n tokens carry an
    EMPTY array here (kept, NOT filtered: a ``filter(size(arr) > 0)``
    on the same projection re-inlines the whole shingling expression
    into the pushed-down predicate — measured 0.74 s → 6.4 s for the
    bare pass at sf0.1. Results are unaffected either way: shingle-less
    docs never reach the candidate relation, so the verify joins can
    never look them up)."""
    docs = fan_out_narrow(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        H.shingles_col(H.tokens_col(F.col("text"))).alias("arr"),
    )


def rarity_prefix(sh: DataFrame, elem: str, num: int, den: int) -> DataFrame:
    """The PPJoin prefix of every set in ``sh`` (doc_id, ``elem``; one
    row per distinct element): each doc's elements ranked by global
    rarity (document frequency asc, then element), kept while
    ``pos <= sz - ceil(θ·sz) + 1`` for θ = ``num``/``den``, in exact
    integers. Adds ``df``, ``sz`` and ``pos``. df and sz are window
    counts over the SAME relation — two exchanges total (one per
    partition key) instead of two groupBy-aggregate shuffles plus
    their joins back."""
    w_doc = Window.partitionBy("doc_id")
    ranked = (
        sh.withColumn("df", F.count("*").over(Window.partitionBy(elem)))
        .withColumn("sz", F.count("*").over(w_doc))
        .withColumn(
            "pos",
            F.row_number().over(w_doc.orderBy(F.asc("df"), F.asc(elem))),
        )
    )
    ceil_theta = F.floor((F.col("sz") * num + (den - 1)) / den)
    return ranked.filter(F.col("pos") <= F.col("sz") - ceil_theta + 1)


def prefix_pairs(
    prefix: DataFrame, elem: str, a_id: str, b_id: str, num: int, den: int
) -> DataFrame:
    """Distinct candidate pairs (``a_id`` < ``b_id``) of a
    ``rarity_prefix`` relation: prefixes sharing an element that pass
    the size filter ``θ·max(|a|,|b|) ≤ min(|a|,|b|)`` and the PPJoin
    positional filter, all in integers.

    Overlap needed for J ≥ θ: (NUM+DEN)·|∩| ≥ NUM·(|a|+|b|). Elements
    of ∩ can only come from THIS match plus what remains after
    positions (a_pos, b_pos) in the shared rarity order, so
    |∩| ≤ 1 + min(a_sz − a_pos, b_sz − b_pos). A true pair satisfies
    the bound at every witness, so filtering each match row keeps
    completeness while cutting candidates ~100× at θ=0.5 (the bare
    prefix filter keeps half of every set)."""
    a = prefix.select(
        F.col("doc_id").alias(a_id),
        elem,
        F.col("sz").alias("a_sz"),
        F.col("pos").alias("a_pos"),
    )
    b = prefix.select(
        F.col("doc_id").alias(b_id),
        elem,
        F.col("sz").alias("b_sz"),
        F.col("pos").alias("b_pos"),
    )
    ub = 1 + F.least(
        F.col("a_sz") - F.col("a_pos"), F.col("b_sz") - F.col("b_pos")
    )
    return (
        a.join(b, elem)
        .filter(F.col(a_id) < F.col(b_id))
        .filter(den * F.least("a_sz", "b_sz") >= num * F.greatest("a_sz", "b_sz"))
        .filter((num + den) * ub >= num * (F.col("a_sz") + F.col("b_sz")))
        .select(a_id, b_id)
        .distinct()
    )


def intersect_sizes(cand: DataFrame, arrs: DataFrame) -> DataFrame:
    """(a_id, b_id, size_a, size_b, inter_size) for candidate pairs,
    verified without the pair×shingle blow-up: candidates join each
    side's COMPACT shingle array by doc key, and the exact intersection
    runs in-row (array_intersect, JVM hash set) — the
    explode-and-regroup form shuffles |cand|·|set| rows where this
    shuffles |cand| rows carrying bounded arrays. Same shape at
    100 TB: two equi-joins keyed on doc_id, nothing pairwise beyond
    the surviving candidates. Callers pass the pinned compact array
    relation as ``arrs`` — no second shingling pass, no collect_list
    re-group, and the two verify-join sides replay pinned blocks
    instead of each re-running scan→HOF→explode→ObjectHashAggregate
    (the r12 plan's duplicated subtree)."""
    return (
        cand.join(
            arrs.select(F.col("doc_id").alias("a_id"), F.col("arr").alias("a_arr")),
            "a_id",
        )
        .join(
            arrs.select(F.col("doc_id").alias("b_id"), F.col("arr").alias("b_arr")),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            F.size("a_arr").alias("size_a"),
            F.size("b_arr").alias("size_b"),
            F.size(F.array_intersect("a_arr", "b_arr")).alias("inter_size"),
        )
    )


def similarity_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verification uses the whole-corpus dictionary, r13 shape: the
    compact per-doc shingle-array relation is pinned once and feeds
    BOTH the prefix chain and the verify joins (one shingling pass per
    execution instead of three; A/B table in OPTIMIZATION_r13.md)."""
    # r13 (guide §2.3/§2.4): the corpus shingles ONCE — the compact
    # per-doc array relation is pinned and both the ranked/prefix chain
    # (via explode of the pinned arrays) and the verification
    # dictionary read it back. The r12 shape ran the interpreted
    # shingling HOF three times per execution (once under the prefix
    # pin, once per verify-join side: the dictionary subtree appeared
    # twice in the physical plan with no exchange reuse —
    # plans/r13/similarity_prefix_join_before.txt) and paid a
    # collect_list re-group the array relation IS. What the r11 A/B
    # rejected was pinning the EXPLODED stream (one row per shingle,
    # read back thrice: 0.9 -> 3.7 s); the compact form is |docs| rows
    # and replaces HOF re-execution, not cheap scans.
    # A/B sf0.1 1.67→3.71 / 6.3→22.9 s
    arrs = pin(_shingle_arr_rel(spark, sf_dir))
    sh = arrs.select("doc_id", F.explode("arr").alias("sh"))
    # A/B sf0.1 2.05→3.85 / 7.2→10.6 s
    prefix = rarity_prefix(sh, "sh", THETA_NUM, THETA_DEN).transform(pin)
    cand = prefix_pairs(prefix, "sh", "a_id", "b_id", THETA_NUM, THETA_DEN)
    # r13 (guide §2.5 flavor of the one-partition hazard): the
    # candidate relation is ~125k rows at sf0.1 but only ~2 MB, so AQE
    # coalesces the post-distinct exchange to ONE partition — and with
    # the dictionary broadcast (pinned arrs have exact stats), every
    # downstream stage inherits that single partition, one-coring the
    # array_intersect verification (~3.7 s of CPU in one task; 2.50 ->
    # 0.75 s isolated when spread). Partition-count coalescing tracks
    # BYTES, not CPU cost — re-spread the cheap rows before the
    # expensive projection. Scale-adaptive: defaultParallelism, not a
    # constant; hash on a_id so the layout is deterministic.
    cand = cand.repartition(spark.sparkContext.defaultParallelism, "a_id")
    inter = intersect_sizes(cand, arrs)
    union = F.col("size_a") + F.col("size_b") - F.col("inter_size")
    return (
        inter.withColumn("union_size", union)
        .filter(
            THETA_DEN * F.col("inter_size") >= THETA_NUM * F.col("union_size")
        )
        .select(
            "a_id",
            "b_id",
            "size_a",
            "size_b",
            "inter_size",
            "union_size",
            F.floor(F.col("inter_size") * 1000000 / F.col("union_size"))
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


QUERIES = {
    "similarity_prefix_join": similarity_prefix_join,
}

_SHINGLES = H.SHINGLES_SQL.format(
    toks=H.TOKENS_SQL.format(text="text")
)

ORACLE = {
    "similarity_prefix_join": f"""
        WITH sh AS (
            SELECT doc_id, unnest({_SHINGLES}) AS sh
            FROM documents
        ),
        dfreq AS (
            SELECT sh, count(*) AS df FROM sh GROUP BY sh
        ),
        sizes AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
        ),
        ranked AS (
            SELECT t.doc_id, t.sh, s.sz,
                   row_number() OVER (
                       PARTITION BY t.doc_id ORDER BY d.df ASC, t.sh ASC
                   ) AS pos
            FROM sh t
            JOIN dfreq d ON d.sh = t.sh
            JOIN sizes s ON s.doc_id = t.doc_id
        ),
        prefix AS (
            SELECT doc_id, sh, sz FROM ranked
            WHERE pos <= sz - CAST(floor((sz * {THETA_NUM}
                       + {THETA_DEN - 1}) / {THETA_DEN}) AS BIGINT) + 1
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM prefix a JOIN prefix b ON a.sh = b.sh
            WHERE a.doc_id < b.doc_id
              AND {THETA_DEN} * least(a.sz, b.sz)
                  >= {THETA_NUM} * greatest(a.sz, b.sz)
        ),
        inter AS (
            SELECT c.a_id, c.b_id, count(*) AS inter_size
            FROM cand c
            JOIN sh ta ON ta.doc_id = c.a_id
            JOIN sh tb ON tb.doc_id = c.b_id AND tb.sh = ta.sh
            GROUP BY c.a_id, c.b_id
        )
        SELECT i.a_id, i.b_id,
               sa.sz AS size_a, sb.sz AS size_b,
               i.inter_size,
               sa.sz + sb.sz - i.inter_size AS union_size,
               CAST(floor(i.inter_size * 1000000
                          / (sa.sz + sb.sz - i.inter_size)) AS BIGINT)
                   AS jaccard_ppm
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a_id
        JOIN sizes sb ON sb.doc_id = i.b_id
        WHERE {THETA_DEN} * i.inter_size
              >= {THETA_NUM} * (sa.sz + sb.sz - i.inter_size)
    """,
}


# --- asymmetric containment join ----------------------------------------

# containment threshold t = CONT_NUM/CONT_DEN (|a ∩ b| / |a| ≥ t)
CONT_NUM = 4
CONT_DEN = 5


def similarity_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ordered pairs (a, b) where b covers ≥ 80% of a's 3-shingle
    set — the ASYMMETRIC dedup relation Jaccard misses: a short
    document quoted/embedded inside a longer one scores near-zero
    Jaccard but full containment. The curation action differs too
    (drop the contained doc, keep the container).

    Prefix filtering adapts: only the CONTAINED side can be
    prefix-pruned (containment puts no lower bound on |b|), so
    candidates come from a's rarity-ordered prefix joined against the
    FULL shingle relation. Prefixes hold each set's rarest shingles,
    so per-shingle fan-out stays bounded; verification reuses the
    in-row array_intersect form. No false negatives: if
    |∩| ≥ ceil(t·|a|), a's first |a| − ceil(t·|a|) + 1 rarity-ordered
    shingles cannot all avoid b.

    Scale: same equi-join shuffles as the Jaccard prefix join; the
    b-side relation is the raw shingle stream (no extra pass).

    Persist shape (r13 rework; supersedes the r12 all-lazy A/B): the
    COMPACT per-doc shingle-array relation is pinned once (|docs|
    rows — not the exploded stream r11 pinned and r12 rightly
    removed) and feeds the shingle stream, the prefix chain, and both
    verify-dictionary sides; ``a_pref`` is pinned too (its window
    chain otherwise re-executes every run); and the candidate
    relation is re-spread after its distinct (same one-partition
    AQE-coalescing hazard as prefix_join — bytes-based coalescing
    one-cores the CPU-heavy array_intersect verify). r13 A/B at sf0.1
    (min-of-3 steady / first / build, rows identical 512): r12
    all-lazy 4.69 / 70.9 / 2.3 s — the "AQE prunes the dictionary
    build" theory the r12 comment relied on never materialized, every
    run re-ran the shingling HOF for both dictionary sides; pinned
    arrs + spread 3.46 / 4.2 / 1.7 s; + pinned a_pref
    1.13 / 1.9 / 2.7 s. The pinned shape wins steady AND end-to-end
    by ~10x, and the pinned blocks are |docs|- and |prefix|-bounded
    (the compact array relation is the dedup-pipeline working set,
    not a corpus-scale explode)."""
    # A/B sf0.1 2.02→18.42 / 7.3→55.3 s
    arrs_full = pin(_shingle_arr_rel(spark, sf_dir))
    sh = arrs_full.select("doc_id", F.explode("arr").alias("sh"))
    # pinned: the two-window rarity chain is the second-most expensive
    # subtree here and a_pref is re-read every execution (r13 A/B in
    # the docstring — 3.46 -> 1.13 s steady)
    # A/B sf0.1 2.04→4.15 / 7.3→11.3 s
    a_pref = pin(
        rarity_prefix(sh, "sh", CONT_NUM, CONT_DEN).select(
            F.col("doc_id").alias("a_id"),
            "sh",
            F.col("sz").alias("a_sz"),
            F.col("pos").alias("a_pos"),
        )
    )
    b_all = sh.select(F.col("doc_id").alias("b_id"), "sh")
    # positional bound per witness: shingles of ∩ beyond a_pos number at
    # most a_sz − a_pos, so |∩| ≤ 1 + a_sz − a_pos; a true pair passes
    # at every witness, so filtering each match row keeps completeness
    ub = 1 + F.col("a_sz") - F.col("a_pos")
    cand = (
        a_pref.join(b_all, "sh")
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(CONT_DEN * ub >= CONT_NUM * F.col("a_sz"))
        .select("a_id", "b_id")
        .distinct()
        # re-spread after the distinct: AQE's bytes-based coalescing
        # collapses the small-in-bytes candidate relation to one
        # partition and one-cores the array_intersect verify below
        # (guide §2.5-adjacent; measured on prefix_join: 2.50 ->
        # 0.75 s isolated). defaultParallelism, not a constant.
        .repartition(spark.sparkContext.defaultParallelism, "a_id")
    )
    # the verify dictionary IS the pinned compact array relation — no
    # second shingling pass, no collect_list re-group (r13; A/B in
    # the docstring)
    inter = intersect_sizes(cand, arrs_full)
    return inter.filter(
        CONT_DEN * F.col("inter_size") >= CONT_NUM * F.col("size_a")
    ).withColumn(
        "containment_ppm",
        F.floor(F.col("inter_size") * 1000000 / F.col("size_a")).cast("bigint"),
    )


QUERIES["similarity_containment_join"] = similarity_containment_join

ORACLE["similarity_containment_join"] = f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS sh
        FROM documents
    ),
    dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    ranked AS (
        SELECT t.doc_id, t.sh, s.sz,
               row_number() OVER (
                   PARTITION BY t.doc_id ORDER BY d.df ASC, t.sh ASC
               ) AS pos
        FROM sh t
        JOIN dfreq d ON d.sh = t.sh
        JOIN sizes s ON s.doc_id = t.doc_id
    ),
    a_pref AS (
        SELECT doc_id, sh FROM ranked
        WHERE pos <= sz - CAST(floor((sz * {CONT_NUM}
                   + {CONT_DEN - 1}) / {CONT_DEN}) AS BIGINT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM a_pref a JOIN sh b ON a.sh = b.sh
        WHERE a.doc_id <> b.doc_id
    ),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS inter_size
        FROM cand c
        JOIN sh ta ON ta.doc_id = c.a_id
        JOIN sh tb ON tb.doc_id = c.b_id AND tb.sh = ta.sh
        GROUP BY c.a_id, c.b_id
    )
    SELECT i.a_id, i.b_id,
           sa.sz AS size_a, sb.sz AS size_b, i.inter_size,
           CAST(floor(i.inter_size * 1000000 / sa.sz) AS BIGINT)
               AS containment_ppm
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE {CONT_DEN} * i.inter_size >= {CONT_NUM} * sa.sz
"""
