"""Corpus-curation operators for a training-data pipeline — round-3
north-star extensions over ``documents`` / ``embeddings``:

- curriculum_quantile_bins: per-language quantile binning (ntile) for
  curriculum scheduling — which docs train first.
- tokenizer_vocab_coverage:  top-K corpus vocabulary, then per-source
  out-of-vocabulary token accounting (tokenizer-fit audit).
- split_leakage_audit:       deterministic hash train/holdout split +
  exact cross-split contamination counts (the eval-integrity gate).
- ngram_lm_score:            corpus bigram model, add-one smoothing,
  per-document likelihood in linear space via ordered folds.
- embedding_quantize_error:  symmetric int8 quantization of each
  embedding with reconstruction-error accounting.

The reference (a Kinesis consumer, /root/reference/src/processor.rs)
has no curation layer; these extend SURVEY.md §2.3. Every output
column is either integer-exact or produced by IEEE-exact-rounded ops
(÷, ×, −) in a deterministic fold order, so the DuckDB oracle hashes
identically — no log()/round() whose last-ulp behavior differs across
engines.

Scale notes (100 TB): every stage is a keyed shuffle or a broadcast of
a bounded relation (top-K vocab, 1-row scalars). The token explode is
map-side partial-aggregated before its shuffle; the leakage join keys
on the content hash (group sizes = duplicate multiplicity); the
quantization pass is a pure per-row projection (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashes as H
from ..io import fan_out_narrow, load_table
from ..persist import pin

N_BINS = 4  # curriculum stages
VOCAB_K = 100  # tokenizer vocabulary size
TRAIN_PCT = 80  # hash-split: bucket < 80% of 16-bit space → train
_TRAIN_CUT = int(TRAIN_PCT / 100 * 0xFFFF)
INT8_MAX = 127


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 quiet-host re-A/B: loader-level fan-out REVERTED — the
    # _docs-only consumers all lose (curriculum_quantile_bins
    # 0.10->0.35, split_leakage_audit 0.30->0.57, quality_model_filter
    # 0.39->0.53 fanned); winners keep their own call-site wrappers
    # (ngram_lm_score, dsir_importance_weights, filter_overlap_matrix)
    return load_table(spark, sf_dir, "documents")


# --- curriculum binning -------------------------------------------------


def curriculum_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ntile(N_BINS) by (n_chars, doc_id): curriculum
    stage 1 holds the shortest quartile, stage N the longest. The
    tiebreak on doc_id makes the tiling a total order, so both engines
    place every row in the same bin. One window shuffle on lang; at
    100 TB a per-language sort — the partition key is the language,
    never the whole corpus.
    """
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    binned = docs.select(
        "lang", "doc_id", "n_chars", F.ntile(N_BINS).over(w).alias("bin")
    )
    return binned.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


# --- tokenizer vocabulary coverage --------------------------------------


def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit a top-VOCAB_K whitespace-token vocabulary on the corpus
    (ties broken by token text — a total order, so top-K is exact),
    then audit each source's out-of-vocabulary rate.

    Plan shape: explode → map-side partial count → one shuffle for the
    global counts → TakeOrdered top-K (never a global sort) → broadcast
    the K-row vocab back over the token stream → per-source aggregate.
    """
    # r13 quiet-host re-A/B: fan-out REVERTED (0.49 vs 0.60 fanned)
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "source", F.explode(H.tokens_col(F.col("text"))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = (
        counts.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    cov = toks.join(F.broadcast(vocab), "tok", "left")
    oov = F.col("in_vocab").isNull()
    return cov.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(oov.cast("bigint")).alias("n_oov"),
        F.countDistinct(F.when(oov, F.col("tok"))).alias("n_oov_types"),
    )


# --- train/holdout split + leakage audit --------------------------------


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (md5-bucket of doc_id, TRAIN_PCT% →
    train) and an exact cross-split contamination audit: a holdout doc
    is *leaked* when its full text also appears in train. Reports, per
    source of the holdout doc, the holdout size, leaked-doc count and
    total cross-split duplicate pairs.

    The audit joins on the content hash, so group sizes are bounded by
    duplicate multiplicity — at 100 TB this is one shuffle keyed on
    md5(text), never a text-to-text comparison.
    """
    docs = _docs(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    d = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("th"),
        (bucket < _TRAIN_CUT).cast("bigint").alias("is_train"),
    )
    per_hash = d.groupBy("th").agg(
        F.sum("is_train").alias("n_train_dups"),
    )
    holdout = d.filter(F.col("is_train") == 0).join(per_hash, "th")
    return holdout.groupBy("source").agg(
        F.count("*").alias("n_holdout"),
        F.sum((F.col("n_train_dups") > 0).cast("bigint")).alias("n_leaked"),
        F.sum("n_train_dups").alias("n_cross_pairs"),
    )


# --- bigram language-model score ----------------------------------------


def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram model with add-one smoothing; per-document mean
    bigram probability in *linear* space:

        p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)

    Integer counts and a single correctly-rounded division make every
    p bit-identical across engines; the per-document sum folds the
    probabilities in token order (sort_array on (pos, p)), so the
    double accumulation order — and therefore the hash — is identical
    too. log-likelihood is deliberately avoided: log() is not
    correctly-rounded and its last ulp differs between the JVM and
    libm, which would poison a cross-engine hash.

    Counts are two shuffles (bigram, unigram); V and the count tables
    join back by key; the per-doc fold is bounded by document length.
    """
    docs = fan_out_narrow(_docs(spark, sf_dir))
    toks = docs.select("doc_id", H.tokens_col(F.col("text")).alias("toks"))
    # ordered (non-distinct) bigrams with their position
    bg = toks.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.concat_ws(
                            " ",
                            F.element_at(F.col("toks"), i),
                            F.element_at(F.col("toks"), i + 1),
                        ).alias("bg"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))
        ).alias("pos", "pair"),
    ).select("doc_id", "pos", F.col("pair.w1").alias("w1"), F.col("pair.bg").alias("bg"))

    # r13 (guide §2.4/§5): the lazy form ran FOUR corpus passes per
    # execution — bigram instances (probe), bigram counts, unigram
    # counts, and a fourth just for |V| — each with its own tokenize +
    # explode + exchange. The two count tables are BOUNDED (vocabulary
    # and bigram types), so pin them once; |V| is a 1-row count over
    # the pinned vocab (in-plan since r14 — see below), which deletes
    # the corpus-scan-fed BroadcastNestedLoopJoin the lazy form paid.
    # Steady state is ONE corpus pass joined against the pinned
    # counts. The arithmetic (cb+1)/(cu+V) is unchanged long math —
    # hash-identical.
    uni = docs.select(F.explode(H.tokens_col(F.col("text"))).alias("tok"))
    # A/B sf0.1 0.47→0.72 / 1.8→2.1 s, sf1 2.90→3.41 / 9.0→10.2 s
    cu = pin(uni.groupBy("tok").agg(F.count("*").alias("cu")))
    # r14 (VERDICT r13 #7): |V| used to be a driver-side cu.count() at
    # query-BUILD time — a second Spark job outside the plan, and the
    # only query that broke the "build is lazy (modulo eager pins)"
    # property. The plan itself carries it now: a 1-row count over the
    # PINNED vocab, broadcast-crossed onto the scored stream (one
    # ~16-byte broadcast; the BNLJ the r13 rewrite deleted was feeding
    # a full corpus re-scan through this same shape — the pinned 1-row
    # input is the cheap half of that trade). (cu + v_sz) stays
    # long+long and the division is unchanged — hash-identical.
    v_sz = cu.agg(F.count("*").alias("v_sz"))
    # A/B sf0.1 0.46→0.75 / 1.7→1.8 s, sf1 1.86→2.69 / 6.0→7.0 s
    cb = pin(bg.groupBy("bg").agg(F.count("*").alias("cb")))

    scored = (
        bg.join(cb, "bg")
        .join(cu.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(v_sz))
        .select(
            "doc_id",
            "pos",
            ((F.col("cb") + 1) / (F.col("cu") + F.col("v_sz"))).alias("p"),
            (F.col("cb") == 1).cast("bigint").alias("singleton"),
        )
    )
    folded = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("singleton").alias("n_singleton"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "p"))),
                lambda s: s.p,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_prob"),
    )
    return folded.select(
        "doc_id",
        "n_bigrams",
        "n_singleton",
        "sum_prob",
        (F.col("sum_prob") / F.col("n_bigrams")).alias("avg_prob"),
    )


# --- int8 embedding quantization ----------------------------------------


def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) (explicit half-up — Spark round() and
    DuckDB round() disagree on ties), reconstruction sum of squared
    error via an in-row ordered fold. Pure projection — zero shuffles;
    at 100 TB this is the cheapest possible pass over the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.aggregate(
        xd, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.when(F.col("amax") == 0.0, F.lit(1.0)).otherwise(
        F.col("amax") / F.lit(float(INT8_MAX))
    )
    q = lambda x: F.floor(x / F.col("scale") + F.lit(0.5))  # noqa: E731
    with_scale = emb.select(
        "vec_id", F.col("embedding").alias("e"), xd.alias("xd"), amax.alias("amax")
    ).withColumn("scale", scale)
    err2 = F.aggregate(
        F.transform(
            F.col("xd"),
            lambda x: (x - q(x) * F.col("scale"))
            * (x - q(x) * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_sat = F.aggregate(
        F.transform(F.col("xd"), lambda x: (F.abs(q(x)) >= INT8_MAX).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return with_scale.select(
        "vec_id",
        F.size("e").alias("n_dims"),
        F.col("scale").alias("scale"),
        err2.alias("sse"),
        n_sat.alias("n_saturated"),
    )


# --- model-based quality filtering --------------------------------------

# "Pretrained" linear quality model (fastText-style filter analog): a
# fixed-weight scorer over cheap surface features. Weights are part of
# the operator contract — at scale the same shape loads weights from a
# real trained model; the engine mechanics (featurize → score → gate)
# are identical.
_W_ALPHA = 2.5  # reward alphabetic density
_W_DIGIT = 4.0  # penalize digit-heavy boilerplate
_W_WORDS = 0.02  # reward length, capped
_W_BIAS = 1.2
_WORD_CAP = 100


def quality_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based keep/drop gate: score each document with a fixed
    linear model over surface features (alphabetic ratio, digit ratio,
    capped word count) and report the per-language score histogram with
    keep counts (keep ⇔ score > 0, i.e. sigmoid > 0.5 — the sigmoid
    itself is monotone so the gate never needs exp(), which is not
    last-ulp-identical across engines).

    Pure per-row projection + one keyed aggregate: the 100 TB plan is a
    single scan with map-side partial aggregation; a real classifier
    swaps the scoring expression for an Arrow-batched pandas UDF with
    the same group-by tail."""
    # empty documents would divide by zero — and Spark (NULL) and
    # DuckDB (inf) disagree on double x/0, so exclude them explicitly
    # in BOTH engines rather than depend on the corpus never shipping one
    docs = _docs(spark, sf_dir).filter(F.length("text") > 0)
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace("text", "[^0-9]", ""))
    n_words = F.size(H.tokens_col(F.col("text")))
    z = (
        F.lit(_W_ALPHA) * (n_alpha.cast("double") / n_chars)
        - F.lit(_W_DIGIT) * (n_digit.cast("double") / n_chars)
        + F.lit(_W_WORDS) * F.least(n_words, F.lit(_WORD_CAP))
        - F.lit(_W_BIAS)
    )
    scored = docs.select(
        "lang",
        n_words.alias("n_words"),
        F.greatest(
            F.least(F.floor(z * F.lit(4.0)), F.lit(8).cast("long")),
            F.lit(-8).cast("long"),
        ).alias("z_bucket"),
        (z > 0.0).cast("bigint").alias("keep"),
    )
    return scored.groupBy("lang", "z_bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("keep").alias("n_keep"),
        F.min("n_words").alias("min_words"),
        F.max("n_words").alias("max_words"),
    )


SHORT_CHARS = 200  # f_short: documents under this many chars
DUP_FRAC_DEN = 4  # f_dup: duplicate tokens ≥ 1/4 of tokens
REP_FRAC_DEN = 5  # f_rep: top token ≥ 1/5 of tokens


def filter_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-cascade Venn audit: which curation filters kill which
    documents, JOINTLY. Every doc gets a 3-bit mask over integer-exact
    filters — too-short (n_chars < 200), duplicate-heavy (dup tokens ≥
    25%), repetition-heavy (top token ≥ 20%) — and the output is the
    8-cell contingency table with doc counts and char mass. This is
    how a curation team finds REDUNDANT filters (a cell where two
    filters always co-fire means one can be dropped) and measures
    marginal kill rates before re-ordering an expensive cascade.

    All three predicates are integer comparisons (k·count ≥ n forms —
    no fraction ever materializes), so the mask is bit-exact on both
    engines. One scan, in-row HOF token counts (same bounded
    O(tokens·distinct) argument as ``text_repetition_stats``), one
    8-row aggregate. Token-less docs: content filters are false (only
    f_short can fire).
    """
    # fan-out: the O(tokens·distinct) in-row HOF below runs one-core
    # on a single-file scan otherwise (the decontaminate_ngram lesson)
    docs = fan_out_narrow(load_table(spark, sf_dir, "documents"))
    toks = H.tokens_col(F.col("text"))
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.coalesce(
            F.array_max(
                F.transform(
                    F.array_distinct(toks),
                    lambda t: F.size(F.filter(toks, lambda x: x == t)),
                )
            ),
            F.lit(0),
        ).alias("top_cnt"),
    )
    f_short = F.col("n_chars") < SHORT_CHARS
    f_dup = (F.col("n_tok") > 0) & (
        DUP_FRAC_DEN * (F.col("n_tok") - F.col("n_distinct")) >= F.col("n_tok")
    )
    f_rep = (F.col("n_tok") > 0) & (
        REP_FRAC_DEN * F.col("top_cnt") >= F.col("n_tok")
    )
    flagged = base.select(
        "n_chars",
        f_short.alias("f_short"),
        f_dup.alias("f_dup"),
        f_rep.alias("f_rep"),
    )
    return flagged.groupBy("f_short", "f_dup", "f_rep").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
    )


QUERIES = {
    "filter_overlap_matrix": filter_overlap_matrix,
    "quality_model_filter": quality_model_filter,
    "curriculum_quantile_bins": curriculum_quantile_bins,
    "tokenizer_vocab_coverage": tokenizer_vocab_coverage,
    "split_leakage_audit": split_leakage_audit,
    "ngram_lm_score": ngram_lm_score,
    "embedding_quantize_error": embedding_quantize_error,
}

_TOKS = H.TOKENS_SQL.format(text="text")
_BUCKET = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)"

ORACLE = {
    "quality_model_filter": f"""
        WITH scored AS (
            SELECT lang,
                   len({_TOKS}) AS n_words,
                   CAST({_W_ALPHA} AS DOUBLE)
                       * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                               AS DOUBLE) / length(text))
                   - CAST({_W_DIGIT} AS DOUBLE)
                       * (CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                               AS DOUBLE) / length(text))
                   + CAST({_W_WORDS} AS DOUBLE)
                       * least(len({_TOKS}), {_WORD_CAP})
                   - CAST({_W_BIAS} AS DOUBLE) AS z
            FROM documents
            WHERE length(text) > 0
        )
        SELECT lang,
               greatest(least(CAST(floor(z * CAST(4.0 AS DOUBLE)) AS BIGINT),
                              8), -8) AS z_bucket,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keep,
               min(n_words) AS min_words,
               max(n_words) AS max_words
        FROM scored
        GROUP BY lang, z_bucket
    """,
    "curriculum_quantile_bins": f"""
        WITH binned AS (
            SELECT lang, doc_id, n_chars,
                   ntile({N_BINS}) OVER (
                       PARTITION BY lang ORDER BY n_chars, doc_id
                   ) AS bin
            FROM documents
        )
        SELECT lang, bin,
               count(*) AS n_docs,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM binned
        GROUP BY lang, bin
    """,
    "tokenizer_vocab_coverage": f"""
        WITH toks AS (
            SELECT doc_id, source, unnest({_TOKS}) AS tok
            FROM documents
        ),
        counts AS (
            SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ),
        vocab AS (
            SELECT tok FROM counts ORDER BY c DESC, tok LIMIT {VOCAB_K}
        )
        SELECT t.source,
               count(*) AS n_tokens,
               CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               count(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END)
                   AS n_oov_types
        FROM toks t LEFT JOIN vocab v USING (tok)
        GROUP BY t.source
    """,
    "split_leakage_audit": f"""
        WITH d AS (
            SELECT doc_id, source, md5(text) AS th,
                   CASE WHEN {_BUCKET} < {_TRAIN_CUT} THEN 1 ELSE 0 END
                       AS is_train
            FROM documents
        ),
        per_hash AS (
            SELECT th, CAST(sum(is_train) AS BIGINT) AS n_train_dups
            FROM d GROUP BY th
        )
        SELECT d.source,
               count(*) AS n_holdout,
               CAST(sum(CASE WHEN n_train_dups > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_leaked,
               CAST(sum(n_train_dups) AS BIGINT) AS n_cross_pairs
        FROM d JOIN per_hash USING (th)
        WHERE d.is_train = 0
        GROUP BY d.source
    """,
    "ngram_lm_score": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS ts FROM documents
        ),
        bg0 AS (
            SELECT doc_id, ts,
                   unnest(generate_series(1, len(ts) - 1)) AS pos
            FROM toks WHERE len(ts) >= 2
        ),
        bg AS (
            SELECT doc_id, pos,
                   ts[pos] AS w1,
                   concat(ts[pos], ' ', ts[pos + 1]) AS bg
            FROM bg0
        ),
        uni AS (
            SELECT unnest(ts) AS tok FROM toks
        ),
        cu AS (SELECT tok, count(*) AS cu FROM uni GROUP BY tok),
        vv AS (SELECT count(DISTINCT tok) AS v FROM uni),
        cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        scored AS (
            SELECT bg.doc_id, bg.pos,
                   CAST(cb.cb + 1 AS DOUBLE) / CAST(cu.cu + vv.v AS DOUBLE)
                       AS p,
                   CASE WHEN cb.cb = 1 THEN 1 ELSE 0 END AS singleton
            FROM bg
            JOIN cb USING (bg)
            JOIN cu ON cu.tok = bg.w1
            CROSS JOIN vv
        ),
        folded AS (
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   CAST(sum(singleton) AS BIGINT) AS n_singleton,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(p ORDER BY pos)),
                       (acc, x) -> acc + x
                   ) AS sum_prob
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, n_singleton, sum_prob,
               sum_prob / n_bigrams AS avg_prob
        FROM folded
    """,
    "embedding_quantize_error": f"""
        WITH base AS (
            SELECT vec_id,
                   len(embedding) AS n_dims,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
            FROM embeddings
        ),
        scaled AS (
            SELECT vec_id, n_dims, xd,
                   CASE WHEN amax = 0.0 THEN 1.0
                        ELSE amax / {float(INT8_MAX)} END AS scale
            FROM (
                SELECT *, list_reduce(
                           list_prepend(CAST(0.0 AS DOUBLE),
                                        list_transform(xd, x -> abs(x))),
                           (acc, x) -> greatest(acc, x)) AS amax
                FROM base
            )
        )
        SELECT vec_id,
               CAST(n_dims AS INTEGER) AS n_dims,
               scale,
               list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(xd, x ->
                           (x - floor(x / scale + 0.5) * scale)
                           * (x - floor(x / scale + 0.5) * scale))),
                   (acc, x) -> acc + x) AS sse,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(xd, x ->
                           CASE WHEN abs(floor(x / scale + 0.5)) >= {INT8_MAX}
                                THEN CAST(1 AS BIGINT)
                                ELSE CAST(0 AS BIGINT) END)),
                   (acc, x) -> acc + x) AS n_saturated
        FROM scaled
    """,
}

ORACLE["filter_overlap_matrix"] = f"""
    WITH base AS (
        SELECT doc_id, n_chars,
               {_TOKS} AS toks
        FROM documents
    ),
    sig AS (
        SELECT doc_id, n_chars,
               len(toks) AS n_tok,
               len(list_distinct(toks)) AS n_distinct,
               coalesce(list_max(list_transform(list_distinct(toks),
                    t -> len(list_filter(toks, x -> x = t)))), 0) AS top_cnt
        FROM base
    )
    SELECT n_chars < {SHORT_CHARS} AS f_short,
           n_tok > 0 AND {DUP_FRAC_DEN} * (n_tok - n_distinct) >= n_tok
               AS f_dup,
           n_tok > 0 AND {REP_FRAC_DEN} * top_cnt >= n_tok AS f_rep,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM sig GROUP BY 1, 2, 3
"""


# --- r7-staged, registered at round 8: filter-threshold survival sweep -----------------

# quality-score thresholds swept (ppm of the max score 1.0)
SWEEP_STEP_PPM = 100_000
SWEEP_THRESHOLDS = list(range(0, 1_000_000, SWEEP_STEP_PPM))  # 10 rows


def filter_survival_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve over quality-filter thresholds — the table a
    curation team reads to CHOOSE a threshold: for each candidate
    cutoff, how many documents and how much token mass survive. The
    score is the integer-ppm twin of ``text_quality``'s weighted score
    (0.4·TTR + 0.3·length-saturation + 0.3·stopword-ratio), computed
    with floor division so every value is engine-exact.

    Scale shape: rows collapse to score-value buckets FIRST (one
    map-side-combining aggregate over ``score_ppm`` — bounded by the
    ppm domain, never by corpus rows), and the 10-threshold sweep runs
    as a tiny-×-bounded range join over the histogram, with corpus
    totals broadcast from a 1-row aggregate. A naive per-threshold
    re-scan (10 scans) or a row×threshold explode (10× the corpus
    through a shuffle) never happens; adding thresholds costs nothing.
    """
    from .text import STOPWORDS

    # r13 quiet-host re-A/B: the batch-3 fan-out REVERTED (1.05
    # unfanned vs 1.39 fanned) — the HOFs here are cheaper than the
    # raw-text exchange on this host
    docs = _docs(spark, sf_dir)
    toks = H.tokens_col(F.col("text"))
    base = docs.select(
        F.col("doc_id"),
        toks.alias("toks"),
    ).filter(F.size("toks") > 0)
    n_tokens = F.size("toks").cast("long")
    n_distinct = F.size(F.array_distinct("toks")).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct("toks"),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    ).cast("long")
    score_ppm = (
        F.expr("400000 * n_distinct div n_tokens")
        + F.expr("300000 * least(n_tokens, 100L) div 100")
        + F.expr("300000 * stop_hits div n_distinct")
    )
    scored = base.select(
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        stop_hits.alias("stop_hits"),
    ).select(score_ppm.alias("score_ppm"), "n_tokens")
    hist = scored.groupBy("score_ppm").agg(
        F.count(F.lit(1)).alias("b_docs"),
        F.sum("n_tokens").alias("b_tokens"),
    )
    thr = spark.createDataFrame(
        [(t,) for t in SWEEP_THRESHOLDS], "threshold_ppm long"
    )
    joined = thr.join(
        hist, F.col("score_ppm") >= F.col("threshold_ppm"), "left"
    )
    kept = joined.groupBy("threshold_ppm").agg(
        F.coalesce(F.sum("b_docs"), F.lit(0)).cast("long").alias("n_docs_kept"),
        F.coalesce(F.sum("b_tokens"), F.lit(0))
        .cast("long")
        .alias("n_tokens_kept"),
    )
    # corpus totals WITHOUT a second scan: every score term is
    # non-negative, so the threshold-0 row keeps everything — totals
    # are the max over the 10-row sweep itself (one trivial window)
    w_all = Window.partitionBy()
    return kept.select(
        "threshold_ppm",
        "n_docs_kept",
        "n_tokens_kept",
        F.max("n_docs_kept").over(w_all).alias("tot_docs"),
        F.max("n_tokens_kept").over(w_all).alias("tot_tokens"),
    ).select(
        "threshold_ppm",
        "n_docs_kept",
        "n_tokens_kept",
        F.expr("n_docs_kept * 1000000 div tot_docs").alias("doc_share_ppm"),
        F.expr("n_tokens_kept * 1000000 div tot_tokens").alias(
            "token_share_ppm"
        ),
    )


QUERIES["filter_survival_sweep"] = filter_survival_sweep

_SWEEP_TOKS = H.TOKENS_SQL.format(text="text")
_SWEEP_STOPLIST = "['the','a','of','and','to','is','in']"

ORACLE["filter_survival_sweep"] = f"""
        WITH base AS (
            SELECT len(tk) AS n_tokens,
                   len(list_distinct(tk)) AS n_distinct,
                   len(list_intersect(list_distinct(tk),
                                      {_SWEEP_STOPLIST})) AS stop_hits
            FROM (SELECT {_SWEEP_TOKS} AS tk FROM documents)
            WHERE len(tk) > 0
        ),
        scored AS (
            SELECT (400000 * n_distinct) // n_tokens
                   + (300000 * least(n_tokens, 100)) // 100
                   + (300000 * stop_hits) // n_distinct AS score_ppm,
                   n_tokens
            FROM base
        ),
        hist AS (
            SELECT score_ppm, count(*) AS b_docs,
                   sum(n_tokens) AS b_tokens
            FROM scored GROUP BY score_ppm
        ),
        thr AS (
            SELECT unnest(range(0, 1000000, {SWEEP_STEP_PPM}))
                AS threshold_ppm
        ),
        kept AS (
            SELECT t.threshold_ppm,
                   CAST(coalesce(sum(h.b_docs), 0) AS BIGINT)
                       AS n_docs_kept,
                   CAST(coalesce(sum(h.b_tokens), 0) AS BIGINT)
                       AS n_tokens_kept
            FROM thr t
            LEFT JOIN hist h ON h.score_ppm >= t.threshold_ppm
            GROUP BY t.threshold_ppm
        )
        SELECT CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
               n_docs_kept, n_tokens_kept,
               CAST(n_docs_kept * 1000000
                    // max(n_docs_kept) OVER () AS BIGINT)
                   AS doc_share_ppm,
               CAST(n_tokens_kept * 1000000
                    // max(n_tokens_kept) OVER () AS BIGINT)
                   AS token_share_ppm
        FROM kept
    """


# --- round 9: DSIR importance weights (hashed n-gram domain selection) ---

DSIR_DIM = 256  # hashed feature buckets (unigram + bigram share the space)
DSIR_TARGET_LANG = "en"  # the "target domain" whose distribution we match
DSIR_SCALE = 1_000_000_000  # fixed-point scale for per-bucket shares


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al., "Data Selection
    for Language Models via Importance Resampling", NeurIPS 2023 —
    public literature): fit hashed-n-gram bag-of-words models for a
    TARGET domain (lang = '{target}') and the RAW corpus, then score
    every document by how much more target-like than raw-like its
    features are. High-weight docs are what importance resampling keeps.

    Estimator note: the paper sums per-feature log-likelihood ratios;
    this implementation sums per-feature SHARE DIFFERENCES in fixed
    point — ``(ct+1)·S // (Nt+D)  −  (cr+1)·S // (Nr+D)`` per bucket
    (add-one smoothing kept) — because ln() is not IEEE-mandated and
    this module's determinism rule is integer-exact oracles (see the
    module docstring). The substitution is monotone per bucket and
    preserves the sign of the evidence; document ORDERING (what
    resampling consumes) is the contract, and the referee test pins
    that target-language docs rank above the rest on average.

    Plan shape: one token explode feeds a {dim}-row bucket-stat
    aggregate (map-side combined); totals are a 1-row broadcast; the
    per-doc score join broadcasts the {dim}-row weight table back onto
    the feature stream and rolls up per doc — at 100 TB this is two
    scans of the token stream, one tiny broadcast each, and ZERO
    corpus-sized shuffles beyond the per-doc rollup whose key is
    doc_id (the natural partitioning). Overflow: (count+1)·S needs
    count < 9.2e9 at S=1e9; past that, drop S one decade per decade of
    corpus growth (the shares only need relative resolution).
    """.format(target=DSIR_TARGET_LANG, dim=DSIR_DIM)
    # fan-out: per-token char hashing one-cores on a single-file scan
    docs = fan_out_narrow(_docs(spark, sf_dir))
    th = F.transform(H.tokens_col(F.col("text")), H.char_hash_col)
    pre = docs.select("doc_id", "lang", th.alias("th"))
    uni = F.transform(F.col("th"), lambda h: h % DSIR_DIM)
    bi = F.transform(
        H.horner_windows_col(F.col("th"), 2), lambda h: h % DSIR_DIM
    )
    feats = pre.select(
        "doc_id", "lang", F.explode(F.concat(uni, bi)).alias("b")
    )
    # r13 (guide §2.4): pin the bucket stats — the relation is bounded
    # at DSIR_DIM rows regardless of corpus size, yet the r12 lazy plan
    # evaluated the whole feats subtree (scan → per-token char-hash HOF
    # → explode → agg) once for `tot` AND once more for `bw`, i.e. the
    # docstring's "two scans of the token stream" were actually three
    # (plans/r13/dsir_importance_weights_before.txt). Pinning the
    # 256-row aggregate restores the designed two passes.
    # A/B sf0.1 0.41→1.04 / 1.5→2.4 s, sf1 1.53→4.78 / 5.3→9.6 s
    bstats = pin(
        feats.groupBy("b").agg(
            F.count("*").alias("cr"),
            F.count_if(F.col("lang") == DSIR_TARGET_LANG).alias("ct"),
        )
    )
    tot = bstats.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    bw = bstats.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.expr(
                f"(ct + 1) * {DSIR_SCALE} div (nt + {DSIR_DIM})"
                f" - (cr + 1) * {DSIR_SCALE} div (nr + {DSIR_DIM})"
            )
        ).alias("w_fp"),
    )
    return (
        feats.join(F.broadcast(bw), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("w_fp").alias("dsir_weight_fp"),
        )
        .withColumn("selected", F.col("dsir_weight_fp") > 0)
    )


QUERIES["dsir_importance_weights"] = dsir_importance_weights

_DSIR_TOKS = H.TOKENS_SQL.format(text="text")
_DSIR_TH = (
    "list_transform(" + _DSIR_TOKS + ", tok -> "
    + H.CHAR_HASH_SQL.format(s="tok") + ")"
)

ORACLE["dsir_importance_weights"] = f"""
    WITH pre AS (
        SELECT doc_id, lang, {_DSIR_TH} AS th FROM documents
    ),
    feats AS (
        SELECT doc_id, lang, unnest(
            list_concat(
                list_transform(th, h -> h % {DSIR_DIM}),
                list_transform(
                    generate_series(1, len(th) - 1),
                    i -> ((th[i] * 31 + th[i + 1]) % 2147483647)
                         % {DSIR_DIM})
            )) AS b
        FROM pre
    ),
    bstats AS (
        SELECT b, count(*) AS cr,
               count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS ct
        FROM feats GROUP BY b
    ),
    tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bstats),
    bw AS (
        SELECT b,
               (ct + 1) * {DSIR_SCALE} // (nt + {DSIR_DIM})
               - (cr + 1) * {DSIR_SCALE} // (nr + {DSIR_DIM}) AS w_fp
        FROM bstats, tot
    )
    SELECT f.doc_id, f.lang,
           count(*) AS n_feats,
           CAST(sum(w.w_fp) AS BIGINT) AS dsir_weight_fp,
           sum(w.w_fp) > 0 AS selected
    FROM feats f JOIN bw w USING (b)
    GROUP BY f.doc_id, f.lang
"""
