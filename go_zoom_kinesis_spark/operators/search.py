"""Document-search primitives over ``documents`` — inverted-index
build, BM25-style ranked retrieval, and exact heavy hitters. The
retrieval side of a training-data pipeline (find near-query documents
for eval-set decontamination, rank corpus slices for curriculum mix).

Determinism rules as elsewhere in the repo: integer statistics stay
integral; the BM25 score uses only IEEE-mandated ops (+ - * /) over
values derived from integers, with the per-term partial scores summed
in a *pinned order* (term-sorted fold) so the double total is
bit-identical across engines. The classic ``ln``-idf is swapped for
the linear ``N/df`` variant for the same reason as
``text_tfidf_topterms`` — ``ln`` is not correctly-rounded-mandated
and a 1-ulp engine gap could flip a ranking tie; at 100 TB swap the
log form in freely.

Scale notes:
- ``search_inverted_postings``: explode → one (doc,token) aggregate →
  one token aggregate. Postings are capped at the first 10 sorted
  doc_ids per token (the df counter keeps the true frequency), so no
  unbounded per-key state.
- ``search_bm25_topk``: the query-term filter lands BEFORE the tf
  aggregate, so only matching (doc, term) pairs shuffle; doc-length
  and N/avgdl are single-row broadcasts; final top-k is
  TakeOrderedAndProject (no global sort materialization).
- ``search_heavy_hitters``: map-side partial aggregation then a
  25-row ordered take — the exact two-phase top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashes as H
from ..io import fan_out_narrow, load_table
from ..persist import pin, unpin

POSTINGS_CAP = 10
MIN_DF = 5
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ["batch", "table", "vector", "window"]
TOP_K_DOCS = 20
HEAVY_HITTER_K = 25


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 quiet-host re-A/B: the batch-3 fan-out REVERTED — every
    # measured consumer pays more for the round-robin exchange than the
    # spread tokenize saves (bm25 0.35->0.64, heavy_hitters 0.33->0.53,
    # hybrid_rrf 0.58->0.83, inverted_postings 0.74->0.82 fanned);
    # countmin's token table is pinned at build time either way
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(H.tokens_col(F.col("text"))).alias("token")
    )


def search_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: per token, document frequency, total term
    frequency, and the first POSTINGS_CAP sorted doc_ids rendered as a
    comma string (driver-hashable scalar)."""
    tf = _doc_tokens(spark, sf_dir).groupBy("doc_id", "token").agg(
        F.count("*").alias("tf")
    )
    postings = F.array_join(
        F.transform(
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, POSTINGS_CAP),
            lambda d: d.cast("string"),
        ),
        ",",
    )
    return (
        tf.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("total_tf"),
            postings.alias("postings_head"),
        )
        .filter(F.col("df") >= MIN_DF)
    )


def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (linear-idf) top-K documents for a fixed conjunctive-OR
    term set. score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    b·dl/avgdl)) with idf = N/df, summed over terms in sorted order.

    Because the query-term set is a compile-time constant, per-term
    tfs pivot into ONE conditional aggregation per document and the
    corpus statistics (N, Σdl, per-term df) collapse into ONE
    single-row aggregate broadcast back — 2 shuffles total where the
    relational shape (tf ⋈ df ⋈ dl ⋈ corpus + fold) took 7. The score
    is bit-identical to the oracle's term-sorted fold: terms are added
    in the same sorted order and absent terms contribute an exact 0.0
    (guarded, so a df=0 term can never inject Inf·0 = NaN)."""
    docs = load_table(spark, sf_dir, "documents")
    folded = _bm25_scored(spark, sf_dir)
    return (
        folded.join(docs.select("doc_id", "source"), "doc_id")
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(TOP_K_DOCS)
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25_score, n_terms_hit) for every document matching
    ≥1 query term — the shared scoring core of search_bm25_topk and
    hybrid_search_rrf."""
    toks = _doc_tokens(spark, sf_dir)
    terms = sorted(BM25_TERMS)
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("token") == t, 1)).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    j = per_doc.join(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def term_score(i: int):
        tf_d = F.col(f"tf_{i}").cast("double")
        dl_d = F.col("dl").cast("double")
        idf = F.col("n_docs").cast("double") / F.col(f"df_{i}")
        s = idf * (
            tf_d
            * (BM25_K1 + 1)
            / (tf_d + BM25_K1 * (1 - BM25_B + BM25_B * (dl_d / avgdl)))
        )
        return F.when(F.col(f"tf_{i}") > 0, s).otherwise(F.lit(0.0))

    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + term_score(i)
    n_hit = None
    for i in range(len(terms)):
        hit = (F.col(f"tf_{i}") > 0).cast("long")
        n_hit = hit if n_hit is None else n_hit + hit
    folded = j.select(
        "doc_id",
        score.alias("bm25_score"),
        n_hit.alias("n_terms_hit"),
    ).filter(F.col("n_terms_hit") >= 1)
    return folded


RRF_K = 60  # standard reciprocal-rank-fusion damping constant


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical top-20 with the
    cosine-embedding top-20 (query = vector 0) by reciprocal-rank
    fusion — score(d) = Σ_lists 1/(60 + rank_d). The standard way a
    RAG stack merges keyword and vector hits without score
    calibration; ranks are integers, so the fused score is the same
    IEEE double on every engine.

    Scale: each list is produced with orderBy().limit(k) — Spark's
    TakeOrdered, a per-partition top-k + driver merge of k·P rows,
    never a global sort — and the rank window then runs on ≤k rows.
    The fusion join is a 20×20-row full outer join."""
    from pyspark.sql import Window

    from .similarity import _dot, _emb, _with_norm

    text_top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(TOP_K_DOCS)
    )
    wt = Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
    tr = text_top.select(
        F.col("doc_id").alias("item_id"),
        F.row_number().over(wt).cast("bigint").alias("text_rank"),
    )
    emb = _with_norm(_emb(spark, sf_dir))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("q_emb"), F.col("norm").alias("q_norm")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .withColumn(
            "c",
            _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm")),
        )
    )
    vec_top = scored.orderBy(F.desc("c"), F.asc("vec_id")).limit(TOP_K_DOCS)
    wv = Window.orderBy(F.desc("c"), F.asc("vec_id"))
    vr = vec_top.select(
        F.col("vec_id").alias("item_id"),
        F.row_number().over(wv).cast("bigint").alias("vec_rank"),
    )
    fused = tr.join(vr, "item_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("text_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0))
    return fused.select("item_id", "text_rank", "vec_rank", rrf.alias("rrf_score"))


def search_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global heavy hitters: top-K tokens by corpus frequency
    with corpus share. Two-phase (partial-agg then 25-row ordered
    take); ties broken on the token itself."""
    counts = _doc_tokens(spark, sf_dir).groupBy("token").agg(
        F.count("*").alias("cnt")
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "token",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(HEAVY_HITTER_K)
    )


FUZZY_MAX_DIST = 2


def _keyed_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy part pairs WITH their blocking key. Each part has
    exactly ONE block — the key (last name word, size) is a function
    of the row — so every matched pair lives inside one block; the
    key columns let downstream consumers exploit that (see
    ``entity_resolution_pipeline``)."""
    # r13 (guide §2.5): the single-file part scan is ONE partition, so
    # the probe side of the (broadcast) block self-join — pair
    # generation plus every banded-levenshtein evaluation — serialized
    # onto one core. Fan the 20k raw rows out first; no-op at
    # production split counts.
    part = fan_out_narrow(load_table(spark, sf_dir, "part"))
    noun = F.element_at(F.split(F.col("p_name"), " "), -1)
    keyed = part.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("name"),
        noun.alias("block_noun"),
        F.col("p_size").alias("block_size"),
    )
    a = keyed.select(
        F.col("pk").alias("pk_a"),
        F.col("name").alias("name_a"),
        "block_noun",
        "block_size",
    )
    b = keyed.select(
        F.col("pk").alias("pk_b"),
        F.col("name").alias("name_b"),
        "block_noun",
        "block_size",
    )
    pairs = a.join(b, ["block_noun", "block_size"]).filter(
        F.col("pk_a") < F.col("pk_b")
    )
    # r10: BANDED levenshtein — the 3-arg threshold form computes an
    # O(len·k) diagonal band (length-gap early exit included) instead
    # of the O(len²) full matrix, returning the EXACT distance when
    # ≤ k and -1 otherwise; the filter keeps the same pairs with the
    # same distances bit-for-bit, but every non-match (the vast
    # majority of block pairs) costs ~k·len instead of len². The
    # oracle keeps the unbounded form — output identical.
    dist = F.levenshtein("name_a", "name_b", FUZZY_MAX_DIST)
    return (
        pairs.withColumn("edit_dist", dist)
        .filter(
            (F.col("edit_dist") >= 0)
            & (F.col("edit_dist") <= FUZZY_MAX_DIST)
        )
        .select(
            "block_noun",
            "block_size",
            "pk_a",
            "pk_b",
            "name_a",
            "name_b",
            "edit_dist",
        )
    )


def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching: candidate part pairs share a
    blocking key (last name word + size) and match when full-name edit
    distance ≤ 2 — the classic entity-resolution blocking pattern.
    The block join bounds pair expansion to within-block quadratics
    (blocks here are noun × size, dozens of rows each); levenshtein is
    a codegen'd JVM intrinsic on both engines. No blocking key ⇒ n²
    corpus pairs ⇒ never do that at 100 TB."""
    return _keyed_fuzzy_pairs(spark, sf_dir).select(
        "pk_a", "pk_b", "name_a", "name_b", "edit_dist"
    )


CM_DEPTH = 4  # count-min hash rows (affine families 0..3)
CM_WIDTH = 256  # buckets per row
CM_TOP_K = 10  # exact heavy hitters to audit against the sketch


def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream, audited against exact
    counts for the top-CM_TOP_K tokens.

    The sketch is CM_DEPTH×CM_WIDTH counters built in ONE keyed
    aggregate (explode each token into its CM_DEPTH (row, bucket)
    cells, then groupBy-count — map-side partials make the shuffle
    ≤ depth×width rows per partition). Counters are pure sums, so
    sketches merge across partitions, days, or streams by cell-wise
    addition — the mergeability that makes CM the 100 TB frequency
    structure. The estimate for a token is the min over its depth
    cells; CM never underestimates, so ``overcount = cm_est - exact``
    is the audited error (0 when no collision). Hashing uses the
    repo's portable char-fold + affine families, so the DuckDB oracle
    rebuilds the identical sketch and the audit is integer-exact.
    """
    # r13 (guide §2.3 aggregate-before-shuffle, §1.2): the lazy form
    # ran TWO corpus passes per execution (cells for the sketch, the
    # exact counts) and char-hashed every token INSTANCE. Collapse to
    # per-distinct-token counts once — bounded by the vocabulary, so
    # pinned (the ngram_lm_score/cal_mean discipline) — and hash each
    # distinct token exactly once. The sketch counter for a cell is
    # then the SUM of exact counts of the tokens hashing into it —
    # integer-identical to counting instances — and the exact top-K is
    # a TakeOrdered over the same pinned relation.
    # A/B sf0.1 0.13→0.31 / 0.8→1.1 s, sf1 0.12→0.69 / 1.5→2.1 s
    tok_counts = pin(
        _doc_tokens(spark, sf_dir)
        .groupBy("token")
        .agg(F.count("*").alias("exact_count"))
        .select("token", "exact_count", H.char_hash_col(F.col("token")).alias("th"))
    )
    # one (d, bucket) cell per depth for each token hash: the sketch
    # counts through it and the top-K probes read through it
    cell = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (H.affine_col(F.col("th"), d) % CM_WIDTH).alias("bucket"),
                )
                for d in range(CM_DEPTH)
            ]
        )
    ).alias("cell")

    def _cells(df: DataFrame, *keep: str) -> DataFrame:
        return df.select(*keep, cell).select(
            *keep, F.col("cell.d").alias("d"), F.col("cell.bucket").alias("bucket")
        )

    sketch = _cells(tok_counts, "exact_count").groupBy("d", "bucket").agg(
        F.sum("exact_count").alias("c")
    )

    exact = (
        tok_counts.select("token", "th", "exact_count")
        .orderBy(F.col("exact_count").desc(), F.col("token").asc())
        .limit(CM_TOP_K)
    )
    probes = _cells(exact, "token", "exact_count")
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.select(
        "token",
        "exact_count",
        "cm_est",
        (F.col("cm_est") - F.col("exact_count")).alias("overcount"),
    )


QUERIES = {
    "search_inverted_postings": search_inverted_postings,
    "search_bm25_topk": search_bm25_topk,
    "search_heavy_hitters": search_heavy_hitters,
    "fuzzy_match_parts": fuzzy_match_parts,
    "countmin_heavy_hitters": countmin_heavy_hitters,
}

_TOKS = H.TOKENS_SQL.format(text="text")
_TERMS_SQL = ", ".join(f"'{t}'" for t in sorted(BM25_TERMS))

ORACLE = {
    "search_inverted_postings": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM toks GROUP BY 1, 2
        )
        SELECT token,
               count(*) AS df,
               CAST(sum(tf) AS BIGINT) AS total_tf,
               array_to_string(
                   list_sort(list(doc_id))[1:{POSTINGS_CAP}], ',')
                   AS postings_head
        FROM tf GROUP BY token
        HAVING count(*) >= {MIN_DF}
    """,
    "search_bm25_topk": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        corpus AS (
            SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
            FROM dl
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM toks WHERE token IN ({_TERMS_SQL})
            GROUP BY 1, 2
        ),
        dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        per_term AS (
            SELECT t.doc_id, t.token,
                   (CAST(c.n_docs AS DOUBLE) / f.df)
                   * (CAST(t.tf AS DOUBLE) * ({BM25_K1} + 1)
                      / (CAST(t.tf AS DOUBLE)
                         + {BM25_K1} * (1 - {BM25_B}
                            + {BM25_B} * (CAST(d.dl AS DOUBLE)
                               / (CAST(c.sum_dl AS DOUBLE) / c.n_docs)))))
                   AS term_score
            FROM tf t
            JOIN dfreq f USING (token)
            JOIN dl d USING (doc_id)
            CROSS JOIN corpus c
        ),
        folded AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(0.0, list_transform(
                           list_sort(list({{'token': token,
                                            'term_score': term_score}})),
                           s -> s.term_score)),
                       (acc, x) -> acc + x) AS bm25_score,
                   count(*) AS n_terms_hit
            FROM per_term GROUP BY doc_id
        )
        SELECT f.doc_id, f.bm25_score, f.n_terms_hit, d.source
        FROM folded f JOIN documents d USING (doc_id)
        ORDER BY f.bm25_score DESC, f.doc_id ASC
        LIMIT {TOP_K_DOCS}
    """,
    "fuzzy_match_parts": f"""
        WITH keyed AS (
            SELECT p_partkey AS pk, p_name AS name,
                   list_extract(string_split(p_name, ' '), -1)
                       AS block_noun,
                   p_size AS block_size
            FROM part
        )
        SELECT a.pk AS pk_a, b.pk AS pk_b,
               a.name AS name_a, b.name AS name_b,
               levenshtein(a.name, b.name) AS edit_dist
        FROM keyed a
        JOIN keyed b
          ON a.block_noun = b.block_noun
         AND a.block_size = b.block_size
         AND a.pk < b.pk
        WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
    """,
    "search_heavy_hitters": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
        SELECT token, cnt,
               CAST(cnt AS DOUBLE) / total AS share
        FROM counts CROSS JOIN total
        ORDER BY cnt DESC, token ASC
        LIMIT {HEAVY_HITTER_K}
    """,
    "countmin_heavy_hitters": f"""
        WITH toks AS (
            SELECT unnest({_TOKS}) AS token FROM documents
        ),
        th AS (
            SELECT token,
                   {H.CHAR_HASH_SQL.format(s='token')} AS th
            FROM toks
        ),
        cells AS (
            {" UNION ALL ".join(
                f"SELECT {d} AS d, ({H.affine_sql('th', d)}) % {CM_WIDTH} "
                f"AS bucket FROM th"
                for d in range(CM_DEPTH)
            )}
        ),
        sketch AS (
            SELECT d, bucket, count(*) AS c FROM cells GROUP BY d, bucket
        ),
        exact AS (
            SELECT token, th, count(*) AS exact_count
            FROM th GROUP BY token, th
            ORDER BY exact_count DESC, token ASC
            LIMIT {CM_TOP_K}
        ),
        probes AS (
            {" UNION ALL ".join(
                f"SELECT token, exact_count, {d} AS d, "
                f"({H.affine_sql('th', d)}) % {CM_WIDTH} AS bucket FROM exact"
                for d in range(CM_DEPTH)
            )}
        )
        SELECT token, exact_count,
               min(c) AS cm_est,
               min(c) - exact_count AS overcount
        FROM probes JOIN sketch USING (d, bucket)
        GROUP BY token, exact_count
    """,
}


QUERIES["hybrid_search_rrf"] = hybrid_search_rrf

from .similarity import _DOT as _VDOT  # noqa: E402
from .similarity import _EMB_D as _VEMB  # noqa: E402
from .similarity import _NORM as _VNORM  # noqa: E402

ORACLE["hybrid_search_rrf"] = f"""
    WITH bm AS ( {ORACLE['search_bm25_topk']} ),
    bmr AS (
        SELECT doc_id AS item_id,
               CAST(row_number() OVER (
                   ORDER BY bm25_score DESC, doc_id ASC) AS BIGINT)
                   AS text_rank
        FROM bm
    ),
    e AS (SELECT vec_id, {_VEMB} AS emb FROM embeddings),
    en AS (SELECT vec_id, emb, {_VNORM.format(a='emb')} AS norm FROM e),
    qv AS (SELECT emb AS q_emb, norm AS q_norm FROM en WHERE vec_id = 0),
    vs AS (
        SELECT en.vec_id,
               {_VDOT.format(a='en.emb', b='q_emb')} / (en.norm * q_norm) AS c
        FROM en, qv WHERE en.vec_id <> 0
    ),
    vtop AS (SELECT vec_id, c FROM vs ORDER BY c DESC, vec_id ASC LIMIT {TOP_K_DOCS}),
    vr AS (
        SELECT vec_id AS item_id,
               CAST(row_number() OVER (ORDER BY c DESC, vec_id ASC) AS BIGINT)
                   AS vec_rank
        FROM vtop
    )
    SELECT coalesce(b.item_id, v.item_id) AS item_id,
           b.text_rank, v.vec_rank,
           coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + b.text_rank),
                    CAST(0 AS DOUBLE))
           + coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + v.vec_rank),
                      CAST(0 AS DOUBLE)) AS rrf_score
    FROM bmr b FULL OUTER JOIN vr v ON b.item_id = v.item_id
"""


# --- round 9: entity resolution pipeline (blocked match -> components) ----

ER_MAX_ITERS = 50  # min-label rounds >= component diameter (chains are short)
ER_UF_BUCKETS = 128  # union-find task granularity (component ⊆ block ⊆ bucket)


# Auto-sizing for the star rounds' shuffles (r12, VERDICT r11 #5): the
# per-round relation peaks at nbrs = 2x the oriented edge set, and a
# round's groupBy/join partitions plus the pin write must fit the
# executor heap. The r11 1e8-node deep-chain bed needed HAND-set knobs
# (128 partitions + 48 GB heap; 64/16 GB OOM'd in the checkpoint
# write — SCALE.md r11 bed note); this target derives the partition
# count from the measured-green boundary instead: 128 green partitions
# at 2e8 nbrs rows under 48 GB ≈ 1.6M rows/partition at 3x the default
# heap → 500k rows/partition to hold the same per-task residency at
# the 16 GB default. AQE coalesces any overshoot, so erring high is
# cheap; erring low is the OOM.
STAR_ROWS_PER_PARTITION = 500_000
STAR_MAX_PARTITIONS = 32_768  # 16e9 nbrs rows before this clamps

STAR_MAX_ROUNDS = 40  # full large+small alternations. Kiveris et al.
# prove O(log^2 n) rounds worst-case for the large-star/small-star
# alternation; the O(log n) behavior we measure (SCALE.md: flat 11
# alternations from 1e4 to 1e8 planted deep-chain nodes) is empirical,
# not a theorem. 40 is sized to that measured envelope with ~4x slack;
# if a real input ever needs more, the loud-fail RuntimeError below
# reports it rather than looping — the cap is a backstop, not a
# convergence guarantee.


def _star_components(
    edges: DataFrame,
    max_rounds: int = STAR_MAX_ROUNDS,
    _stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    "Connected Components in MapReduce and Beyond", ACM SoCC 2014 —
    public literature; the reference engine has no CC operator, its
    nearest analog is the fixpoint retry loop src/processor.rs:1490-
    1525). Rounds needed grow with log(n), NOT with the graph
    diameter — this is the deep-diameter path ``_min_label_propagate``
    escalates to when a component's diameter exceeds its O(d) round
    budget (VERDICT r10 #1: at 100 TB a diameter > 50 component was a
    hard RuntimeError; now it converges).

    ``edges`` is (src, dst) in any orientation (duplicates/self-loops
    tolerated). Returns (node, lbl) over every edge endpoint, lbl =
    the component's minimum node id — the same contract the min-label
    fixpoint converges to on identity-seeded labels.

    Per full round, in DataFrame primitives only:
    - large-star: every node u emits (v, m(u)) for each STRICTLY
      LARGER neighbor v, where m(u) = min(Γ(u) ∪ {u}) — one
      symmetrized groupBy(min) + one equi-join;
    - small-star: over the now big→small-oriented edges, every node u
      emits (u, m(u)) and (v, m(u)) for its smaller neighbors v ≠
      m(u) — one groupBy(min) + one equi-join.
    Convergence probe and its soundness. L(x) = min(x, min adjacent
    endpoint) is monotone non-increasing under both operators (x
    always retains an edge to something ≤ its current minimum:
    large-star replaces x's edge to its min neighbor v* by (x, L(v*)),
    L(v*) ≤ v*; small-star emits (x, m(x)) = (x, L(x)) directly), so
    ΣL over the fixed endpoint set is non-increasing and "ΣL unchanged
    over one FULL alternation" ⟹ L pointwise unchanged through both
    halves. That implies, for every current edge {a, b} with a > b:
    (i) large-star emitted (a, L(b)), so stability gives L(a) ≤ L(b);
    (ii) small-star then emitted (L(b), L(a)) from a's group (L(b) is
    a's smaller neighbor after (i)'s rewiring), so stability gives
    L(L(b)) ≤ L(a). Now let r = min id of a component C and
    S = {x ∈ C : L(x) = r} ∋ r. A boundary edge {a, b} with the
    SMALLER endpoint b ∈ S forces a ∈ S by (i). So if S ≠ C, some
    boundary edge has only its larger endpoint a ∈ S; then by (ii)
    the node c = L(b) has L(c) ≤ L(a) = r, i.e. c ∈ S with c < b —
    but c is b's min NEIGHBOR, so {b, c} is a boundary edge whose
    smaller endpoint IS in S, pulling b into S by (i). Contradiction:
    at stability S = C, i.e. every label is its component min.
    (Half-round stability is NOT sufficient — E = {(3,1),(3,2)} is a
    large-star fixpoint with L(2) = 2 ≠ 1; the referee pins that the
    probe only compares across full alternations.)

    The probe needs NO join: edges stay (u > v)-oriented, so
    ΣL = Σ_src min(v) + (Σ_all nodes − Σ_src u) — the second term
    re-uses the constant node sum and subtracts the src set's own ids
    (non-src nodes are their own minimum). One groupBy + one O(1)
    scalar action per round; ``localCheckpoint`` truncates lineage
    exactly like the min-label loop; the (node, lbl) relation is only
    materialized ONCE, after convergence.

    Shuffle auto-sizing (r12, VERDICT r11 #5): one count of ``edges``
    derives the loop's ``spark.sql.shuffle.partitions`` from the
    peak per-round relation (nbrs = 2x the oriented edges) at
    ``STAR_ROWS_PER_PARTITION`` rows per partition — the r11 1e8-node
    bed's hand-tuned 128-partition knob, computed. The conf is scoped
    (set/restored around the loop); when it actually resizes, the
    final label relation is pinned inside the scope so its lazy
    shuffles can't execute at the restored too-small default. Tiny
    graphs (every registered query) never resize and keep the exact
    prior plan.

    Concurrency note (ADVICE r12): when a resize fires, the
    set/restore of ``spark.sql.shuffle.partitions`` mutates the SHARED
    session conf for the loop's duration — a concurrent query on the
    same SparkSession observes the inflated value, and two overlapping
    resized runs can restore mid-loop of each other (perf/OOM risk,
    never wrong results). Callers running star decades concurrently
    should isolate with ``spark.newSession()``; the driver/bench
    harness runs one query at a time."""
    spark = edges.sparkSession
    # ---- shuffle auto-sizing (r12, VERDICT r11 #5) -------------------
    # one cheap count of the input (callers pass pinned or
    # near-pinned relations; the pair-graph queries pay one extra
    # verify pass) decides the loop's shuffle partitioning — the 1e8
    # bed's hand-set 128-partitions/48 GB knobs derived automatically.
    n_edges = edges.count()
    old_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = -(-2 * max(n_edges, 1) // STAR_ROWS_PER_PARTITION)  # ceil
    n_part = max(old_parts, min(want, STAR_MAX_PARTITIONS))
    resized = n_part != old_parts
    if _stats is not None:
        _stats["n_edges"] = n_edges
        _stats["shuffle_partitions"] = n_part

    # block format for the loop's pins: resized graphs switch to
    # SERIALIZED memory+disk blocks — the default deserialized level
    # inflates each row into a Java object array AND re-promotes disk
    # blocks back into memory values on read
    # (maybeCacheDiskValuesInMemory), which is what OOM'd the 1e8 bed
    # at the 16 GB default heap even with right-sized partitions
    # (SCALE.md r12); serialized blocks stay compact and evict under
    # pressure instead. Tiny graphs keep the default (deserialized
    # re-reads are faster, and their residency is trivial).
    if resized:
        from pyspark import StorageLevel

        _level = StorageLevel.MEMORY_AND_DISK  # serialized in PySpark
    else:
        _level = None

    def _pin(d: DataFrame) -> DataFrame:
        return pin(d, storage_level=_level)

    def _run() -> DataFrame:
        cur = (
            edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"),
            )
            .distinct()
            .transform(_pin)
        )
        # node set from the RAW relation, so endpoints that only appear in
        # self-loops still come back (as their own singleton component)
        # A/B (dedup_components_star) sf0.1 0.11→0.15 / 5.3→5.5 s, sf1 0.15→0.24 / 35.2→33.7 s
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
            .transform(_pin)
        )

        def _labels(e: DataFrame) -> DataFrame:
            # L(x) = min(x, min incident endpoint); edges oriented u > v,
            # so only the u side can lower a node's minimum
            per_u = e.groupBy("u").agg(F.min("v").alias("mn"))
            return nodes.join(
                per_u, nodes.node == per_u.u, "left"
            ).select("node", F.coalesce("mn", F.col("node")).alias("lbl"))

        node_sum = nodes.agg(F.sum("node")).collect()[0][0]
        if node_sum is None:  # empty graph
            return _labels(cur)

        def _probe(e: DataFrame) -> int:
            # ΣL without a join (docstring): Σ_src min(v) + Σ_{non-src} id
            row = e.groupBy("u").agg(F.min("v").alias("mn")).agg(
                F.sum("mn").alias("sm"), F.sum("u").alias("su")
            ).collect()[0]
            sm = row["sm"] or 0
            su = row["su"] or 0
            return sm + (node_sum - su)

        prev_sum = _probe(cur)
        prev_pin = cur  # ADVICE r12: release each round's pin once
        # its successor is materialized (under strategy=cache every
        # round otherwise leaks a CacheManager strong ref)
        for rnd in range(max_rounds):
            # large-star: symmetrize, take per-node minima, re-point every
            # strictly-larger neighbor at the minimum
            nbrs = cur.union(
                cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            lm = (
                nbrs.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("u", "mn").alias("m"))
            )
            # NO distinct here (r11 A/B: −29% on the deep bracket at 10⁶
            # nodes, 42.2 → 30.0 s): duplicates are harmless to small-star
            # — its groupBy(min) and the round's final distinct absorb
            # them — so the extra exchange bought nothing
            ls = (
                nbrs.join(lm, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            # small-star: edges are now strictly big→small; fold each
            # node's smaller neighbors onto its minimum
            sm = ls.groupBy("u").agg(F.min("v").alias("m"))
            cur = (
                ls.join(sm, "u")
                .filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(sm.select("u", F.col("m").alias("v")))
                .distinct()
                .transform(_pin)
            )
            # the new pin is eager, so the previous round's blocks
            # have no remaining consumer (cache keeps lineage, so even
            # an evicted successor recomputes)
            unpin(prev_pin)
            prev_pin = cur
            cur_sum = _probe(cur)
            if cur_sum == prev_sum:
                if _stats is not None:
                    _stats["rounds"] = rnd + 1
                return _labels(cur)
            prev_sum = cur_sum
        raise RuntimeError(
            f"large-star/small-star still changing after {max_rounds} "
            f"alternations (last label sum {prev_sum}); this needs a graph "
            f"with ~2^{max_rounds} nodes — check the edge relation"
        )

    try:
        if resized:
            spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        out = _run()
        # under a resized scope the result must materialize INSIDE it:
        # the label relation's own groupBy/join execute lazily, and
        # after the conf restore they would run at the too-small
        # session default — the exact OOM the sizing exists to avoid.
        # Unresized (every registered query: tiny graphs) the labels
        # stay lazy exactly as before.
        return pin(out, storage_level=_level) if resized else out
    finally:
        if resized:
            spark.conf.set("spark.sql.shuffle.partitions", str(old_parts))


def _min_label_propagate(
    edges: DataFrame,
    labels: DataFrame,
    max_iters: int = ER_MAX_ITERS,
    deep_fallback: bool = True,
) -> DataFrame:
    """Min-label propagation to a fixpoint over ``edges`` (src, dst),
    starting from ``labels`` (node, lbl). One equi-join + one
    min-groupBy per round, ``localCheckpoint`` lineage truncation, and
    an O(1) scalar convergence probe (sum of labels is strictly
    decreasing until the fixpoint). Rounds cost O(diameter) — the
    right trade for the shallow chains real near-dup graphs have
    (3-6 hops observed; see SCALE.md r11 for the measured crossover).

    Past ``max_iters`` the component diameter exceeds the round
    budget; r10 (ADVICE r9) made that a loud RuntimeError instead of
    silently returning UNMERGED components. r11 (VERDICT r10 #1)
    closes the failure mode entirely: with ``deep_fallback`` (the
    default) a non-converged graph ESCALATES to the O(log n)
    large-star/small-star rounds (``_star_components``), whose round
    count is diameter-independent, then maps each component onto the
    minimum INITIAL label it contains — exactly the fixpoint this
    loop would have reached, at any diameter. ``deep_fallback=False``
    keeps the r10 loud-fail contract (used by referees to pin that
    the cap still trips)."""
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    cur_sum = prev_sum
    prev_pin = None  # ADVICE r12: this loop's OWN pins only — the
    # caller's input `labels` is not ours to unpersist
    for _ in range(max_iters):
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "lbl"
        )
        labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .transform(pin)
        )
        if prev_pin is not None:
            unpin(prev_pin)
        prev_pin = labels
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        if not deep_fallback:
            raise RuntimeError(
                f"min-label propagation still changing after {max_iters} "
                f"rounds (last label sum {cur_sum}); component diameter "
                f"exceeds the iteration cap"
            )
        # deep-diameter escalation: star components over the same edge
        # relation, then per-component min of the (partially
        # propagated) labels — intermediate mins of initial labels, so
        # the per-component min over them equals the per-component min
        # over the INITIAL labels. The loop above has already folded
        # every reachable endpoint into ``labels``, so the left side
        # covers the node set; isolated nodes keep their own label.
        comp = _star_components(edges).withColumnRenamed("lbl", "comp")
        tagged = labels.join(comp, "node", "left").withColumn(
            "comp", F.coalesce("comp", F.col("node"))
        )
        cmin = tagged.groupBy("comp").agg(F.min("lbl").alias("clbl"))
        labels = tagged.join(cmin, "comp").select(
            "node", F.col("clbl").alias("lbl")
        )
    return labels


def entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed entity-resolution architecture as one driver-graded
    query: blocked fuzzy matching (``fuzzy_match_parts``: block on
    (last name word, size), match on edit distance ≤ FUZZY_MAX_DIST) →
    connected components over the match graph (min-label propagation —
    the ``dedup_components`` primitive on a different edge relation) →
    one canonical ENTITY row per component: id = min part key, the
    canonical name, member count, and the component's worst intra-pair
    edit distance (the cluster-quality signal reviewers audit). Only
    multi-member entities appear — singletons need no resolution.
    Pairwise matchers answer "are these two the same?"; the entity
    table answers "how many REAL products does the catalog hold?" —
    the same pairs→components→survivor promotion ``dedup_components``
    gives near-dup pairs, composed here with the string-similarity
    matcher instead.

    Scale (r10 rewrite): the blocking key (last name word, size) is a
    FUNCTION of the row, so every part belongs to exactly one block,
    every matched pair lives inside one block, and components can
    NEVER span blocks. Connected components therefore need no global
    iteration at all: pairs shuffle ONCE into ER_UF_BUCKETS
    block-keyed buckets (a component ⊆ its block ⊆ its bucket, so the
    partition respects components) and a per-bucket union-find in
    ``applyInPandas`` emits the finished per-entity aggregates —
    per-bucket memory is pairs/buckets, there are zero driver-side
    actions, zero caches, zero checkpoints. The r9 draft ran the
    generic min-label propagation (6 rounds × a 221M-edge join at the
    sf100 decade = 321 s measured); this form is the blocked-ER
    special case the literature runs when blocking is single-key.
    ``dedup_components`` KEEPS the iterative ``_min_label_propagate``
    — its LSH band graph genuinely spans buckets, so global
    propagation is required there (and is this pipeline's fallback
    under multi-key blocking).

    The canonical-name join back is keyed on the entity id."""
    pairs = _keyed_fuzzy_pairs(spark, sf_dir).select(
        "block_noun", "block_size", "pk_a", "pk_b", "edit_dist"
    )
    bucketed = pairs.withColumn(
        "bucket",
        F.pmod(F.hash("block_noun", "block_size"), F.lit(ER_UF_BUCKETS)),
        # r13 (guide §2.5, the one-partition hazard): the pair relation
        # is ~110k rows but only a few MB, so AQE's bytes-based
        # coalescing collapsed the bucket exchange to ONE partition —
        # serializing every per-bucket union-find through one Python
        # worker (the 4 single-task stages in the job view). Explicit
        # hash repartition on the bucket key satisfies applyInPandas's
        # clustering requirement (no second exchange) and is not
        # AQE-coalescible; defaultParallelism, not a constant.
    ).repartition(
        spark.sparkContext.defaultParallelism, "bucket"
    )

    def _resolve(pdf):
        import pandas as pd

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        av = pdf["pk_a"].to_numpy()
        bv = pdf["pk_b"].to_numpy()
        dv = pdf["edit_dist"].to_numpy()
        for x, y in zip(av.tolist(), bv.tolist()):
            parent.setdefault(x, x)
            parent.setdefault(y, y)
            rx, ry = find(x), find(y)
            if rx != ry:
                # union-by-min keeps every root = its component's min
                # part key — the entity id, no relabeling pass needed
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        members: dict[int, int] = {}
        for x in parent:
            r = find(x)
            members[r] = members.get(r, 0) + 1
        stats: dict[int, list[int]] = {}
        for x, d in zip(av.tolist(), dv.tolist()):
            r = find(x)
            s = stats.setdefault(r, [0, 0])
            s[0] += 1
            s[1] = max(s[1], d)
        rows = [
            (r, members[r], s[0], s[1]) for r, s in stats.items()
        ]
        out = pd.DataFrame(
            rows,
            columns=[
                "entity_id",
                "n_members",
                "n_matched_pairs",
                "max_intra_edit_dist",
            ],
        )
        return out.astype(
            {
                "entity_id": "int64",
                "n_members": "int64",
                "n_matched_pairs": "int64",
                "max_intra_edit_dist": "int32",
            }
        )

    ents = bucketed.groupBy("bucket").applyInPandas(
        _resolve,
        schema=(
            "entity_id long, n_members long, "
            "n_matched_pairs long, max_intra_edit_dist int"
        ),
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("entity_id"),
        F.col("p_name").alias("canonical_name"),
    )
    # canonical-name join-back pinned to shuffle-hash: part is
    # corpus-scale and ents grows with it — at the sf100 decade the
    # optimizer's post-filter estimate flipped this to a ~0.5 GB
    # broadcast that GC-thrashed the driver (measured failure); an
    # equi-join of two keyed relations must stay a shuffled join
    return ents.hint("shuffle_hash").join(part, "entity_id").select(
        "entity_id",
        "canonical_name",
        "n_members",
        "n_matched_pairs",
        "max_intra_edit_dist",
    )


QUERIES["entity_resolution_pipeline"] = entity_resolution_pipeline

ORACLE["entity_resolution_pipeline"] = f"""
    WITH RECURSIVE keyed AS (
        SELECT p_partkey AS pk, p_name AS name,
               list_extract(string_split(p_name, ' '), -1) AS block_noun,
               p_size AS block_size
        FROM part
    ),
    fpairs AS (
        SELECT a.pk AS pk_a, b.pk AS pk_b,
               levenshtein(a.name, b.name) AS edit_dist
        FROM keyed a
        JOIN keyed b
          ON a.block_noun = b.block_noun
         AND a.block_size = b.block_size
         AND a.pk < b.pk
        WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
    ),
    edges AS (
        SELECT pk_a AS s, pk_b AS d FROM fpairs
        UNION
        SELECT pk_b AS s, pk_a AS d FROM fpairs
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach AS (
        SELECT node, node AS lbl FROM nodes
        UNION
        SELECT e.d AS node, r.lbl FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
    ent AS (
        SELECT lbl, count(*) AS n_members FROM comp GROUP BY lbl
    ),
    qual AS (
        SELECT c.lbl AS entity_id,
               max(f.edit_dist) AS max_intra_edit_dist,
               count(*) AS n_matched_pairs
        FROM fpairs f JOIN comp c ON c.node = f.pk_a
        GROUP BY c.lbl
    )
    SELECT e.lbl AS entity_id,
           p.p_name AS canonical_name,
           CAST(e.n_members AS BIGINT) AS n_members,
           CAST(q.n_matched_pairs AS BIGINT) AS n_matched_pairs,
           CAST(q.max_intra_edit_dist AS BIGINT) AS max_intra_edit_dist
    FROM ent e
    JOIN part p ON p.p_partkey = e.lbl
    JOIN qual q ON q.entity_id = e.lbl
"""
