"""Training-data pipeline assembly operators — north-star extension
(SURVEY.md §2.2): sequence packing and weighted corpus mixing. The
reference engine has no batch-assembly layer (it stops at per-record
delivery, /root/reference/src/processor.rs:1490-1525); these are the
operators a 100 TB pretraining pipeline runs AFTER dedup/quality
filtering to turn documents into fixed-budget training sequences with
a controlled source mix.

Both are integer-exact end to end (token counts, cumulative offsets,
md5 buckets), so the DuckDB oracles hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import fan_out_narrow, load_table

PACK_BUDGET = 512  # tokens per training pack

# Per-language mixing rates (fraction of the 16-bit hash space kept).
# The shape of a real corpus-mix config: upsample scarce high-quality
# sources, downsample the web crawl.
MIX_RATES = {"en": 0.50, "fr": 0.25, "es": 0.25, "de": 0.75, "zh": 1.00}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate each language's document stream in
    doc_id order and chunk it into fixed ``PACK_BUDGET``-token packs
    (documents straddle pack boundaries, exactly like concat-then-chunk
    pretraining tokenization).

    One window cumsum per language stream — parallel across languages;
    at 100 TB the stream key widens to (lang, shard) and a second pass
    prefix-sums the per-shard totals (two scans, no global sort —
    the standard distributed prefix-sum), which changes the partition
    key but not this operator's contract.
    """
    docs = _docs(spark, sf_dir)
    n_tok = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_off = docs.select(
        "doc_id",
        "lang",
        n_tok.cast("bigint").alias("n_tok"),
    ).withColumn("off_excl", F.sum("n_tok").over(w) - F.col("n_tok"))
    return with_off.select(
        "doc_id",
        "lang",
        "n_tok",
        "off_excl",
        F.expr(f"off_excl div {PACK_BUDGET}").alias("pack_id"),
        (F.col("off_excl") % PACK_BUDGET).alias("offset_in_pack"),
    )


def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: per-language deterministic sampling
    rates applied via the engine-portable md5 bucket (same selection on
    any engine / partitioning / day — reproducible at 100 TB where
    seeded sample() is not), audited per (lang, source).

    Single scan, shuffle-free selection; the rollup is one shuffle on
    the (lang, source) audit key.
    """
    docs = _docs(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    rate_cut = None
    for lang, rate in MIX_RATES.items():
        cond, cut = F.col("lang") == lang, F.lit(int(rate * 0xFFFF))
        rate_cut = F.when(cond, cut) if rate_cut is None else rate_cut.when(cond, cut)
    rate_cut = rate_cut.otherwise(F.lit(0))
    return (
        docs.filter(bucket < rate_cut)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 ⇒ held-out eval document
DECON_N = 5  # n-gram width for contamination matching
QUALITY_CUT = 0.38  # funnel quality threshold (median-ish of the corpus)
PREFIX_LEN = 10  # tokens of document prefix used as the dedup key


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any
    word 5-gram with the held-out eval slice (doc_id % 97 == 0) — the
    benchmark-leakage scan every pretraining pipeline runs before
    training. Real pipelines use 13-grams; the width is a constant.

    Plan shape: the eval slice is tiny by construction, so its
    exploded shingle set is broadcast; training shingles stream past
    it in one equi-join and roll up per training doc. No shuffle of
    the training corpus, no all-pairs anything — at 100 TB this is a
    broadcast-hash-join over a scan, the cheapest possible shape.
    """
    from ..functions import hashes as H

    # fan out BEFORE the shingle projection: a single-file documents
    # scan arrives as one partition, and the interpreted higher-order
    # shingle expression then runs on one core (measured 8.5 s of this
    # query's 9.0 s isolated total at sf0.1; 0.9 s fanned out across
    # 32). At 100 TB the scan is thousands of splits and this is a
    # no-op — see io.fan_out_narrow.
    docs = fan_out_narrow(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id",
        F.explode(
            H.shingles_col(H.tokens_col(F.col("text")), n=DECON_N)
        ).alias("shingle"),
    )
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .withColumnRenamed("doc_id", "eval_doc_id")
    )
    train_sh = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    hits = train_sh.join(F.broadcast(eval_sh), "shingle")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shared_ngrams"),
        F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"),
        F.min("shingle").alias("first_shared_ngram"),
    )


def pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel audit, composed from the suite's own
    stages: quality filter (``text_quality`` score ≥ QUALITY_CUT) →
    prefix dedup (md5 of the first 10 tokens, min-doc_id survivor) →
    per-source counts and surviving token mass. This is the funnel
    report a data-curation run emits; each stage reuses the exact
    operator the suite verifies standalone.

    One window over the passed slice (partitioned by prefix key) +
    one broadcast-sized rollup; the quality stage is a pure
    projection. Nothing here widens at 100 TB.
    """
    from ..functions import hashes as H
    from .text import text_quality

    # r13: fan-out tried here and REVERTED (0.69 -> 0.82 isolated) —
    # the md5-prefix projection is light, and the join against
    # text_quality (itself fanned via text._docs) reshuffles by doc_id
    # anyway, so the extra round-robin exchange only adds cost
    docs = load_table(spark, sf_dir, "documents")
    toks = H.tokens_col(F.col("text"))
    base = docs.select(
        "doc_id",
        "source",
        F.md5(F.concat_ws(" ", F.slice(toks, 1, PREFIX_LEN))).alias(
            "prefix_key"
        ),
    ).join(
        # LEFT join: text_quality drops token-less docs (its score is
        # undefined there); the funnel still counts them in n_docs,
        # with null score ⇒ quality-failed
        text_quality(spark, sf_dir).select(
            "doc_id", "n_tokens", "quality_score"
        ),
        "doc_id",
        "left",
    ).withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0)))
    passed = base.filter(F.col("quality_score") >= QUALITY_CUT)
    w = Window.partitionBy("prefix_key").orderBy("doc_id")
    canon = (
        passed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.lit(True).alias("is_canonical"))
    )
    flagged = base.join(canon, "doc_id", "left").select(
        "source",
        "n_tokens",
        (F.col("quality_score") >= QUALITY_CUT).alias("passed"),
        F.coalesce("is_canonical", F.lit(False)).alias("kept"),
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("passed"), 1)).alias("n_quality_passed"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias(
            "tokens_kept"
        ),
    )


# --- temperature-scaled corpus mixing -----------------------------------

# Temperature sampling (multilingual-pretraining standard): resampling
# probability ∝ share^α with α < 1 upweights low-resource languages.
# The α-power arithmetic runs ONCE here in Python; only the resulting
# integer hash-cuts enter either engine, so the operator is exactly
# reproducible everywhere (the in-query surface is the same md5-bucket
# primitive as corpus_mix_sample).
TEMP_ALPHA = 0.7
CORPUS_SHARES = {"en": 0.55, "de": 0.15, "fr": 0.12, "es": 0.10, "zh": 0.08}
_p = {l: s**TEMP_ALPHA for l, s in CORPUS_SHARES.items()}
_z = sum(_p.values())
_rel = {l: (_p[l] / _z) / CORPUS_SHARES[l] for l in CORPUS_SHARES}
_m = max(_rel.values())
TEMP_CUTS = {l: int(_rel[l] / _m * 0xFFFF) for l in CORPUS_SHARES}


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing (α = 0.7): keep-rates derived
    from corpus shares so low-resource languages are upsampled toward
    uniform, applied via the deterministic md5 bucket. Reports per
    language the incoming size, the kept sample, and the applied cut —
    the audit a data-mix owner reads before launching a run.

    Same scale shape as corpus_mix_sample: selection is shuffle-free
    inside the scan; one aggregate on the audit key."""
    docs = _docs(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    cut = None
    for lang, c in TEMP_CUTS.items():
        cond = F.col("lang") == lang
        cut = F.when(cond, c) if cut is None else cut.when(cond, c)
    cut = cut.otherwise(F.lit(0))
    return docs.select(
        "lang", bucket.alias("bucket"), cut.alias("cut"), "n_chars"
    ).groupBy("lang").agg(
        F.count("*").alias("n_docs_in"),
        F.sum((F.col("bucket") < F.col("cut")).cast("bigint")).alias("n_kept"),
        F.max("cut").alias("rate_cut"),
        F.sum(
            F.when(F.col("bucket") < F.col("cut"), F.col("n_chars")).otherwise(0)
        ).cast("bigint").alias("chars_kept"),
    )


SEM_TAU = 0.4  # cosine threshold for semantic contamination
SEM_EVAL_MOD = 97  # vec_id % 97 == 0 is the held-out eval slice


def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space companion to
    ``decontaminate_ngram``: n-gram scans miss paraphrased benchmark
    leakage, so pipelines ALSO flag training vectors whose cosine to
    any held-out eval vector reaches a threshold. Per label: training
    count, contaminated count (max eval-cosine ≥ 0.4), and the worst
    offender's score.

    Plan: the eval slice is tiny by construction and broadcasts; each
    training vector reduces over it map-side (per-train max folds
    partially before the label rollup), so the corpus-scale side is
    ONE scan with no train-side shuffle of raw vectors — the same
    broadcast shape as the n-gram variant, with the LSH/IVF bucket
    join from ``similarity.py`` as the swap-in when the eval slice
    outgrows a broadcast.

    Same sequential-fold cosine as every embedding op (bit-identical
    to the DuckDB oracle's list_reduce)."""
    from .similarity import _emb, _dot, _with_norm

    emb = _with_norm(_emb(spark, sf_dir))
    ev = emb.filter(F.col("vec_id") % SEM_EVAL_MOD == 0).select(
        F.col("emb").alias("e_emb"), F.col("norm").alias("e_norm")
    )
    tr = emb.filter(F.col("vec_id") % SEM_EVAL_MOD != 0)
    per_train = (
        tr.join(F.broadcast(ev))
        .withColumn(
            "c", _dot(F.col("emb"), F.col("e_emb")) / (F.col("norm") * F.col("e_norm"))
        )
        .groupBy("vec_id", "label")
        .agg(F.max("c").alias("max_cos"))
    )
    return per_train.groupBy("label").agg(
        F.count("*").alias("n_train"),
        F.sum((F.col("max_cos") >= SEM_TAU).cast("bigint")).alias(
            "n_contaminated"
        ),
        F.round(F.max("max_cos"), 6).alias("worst_cos"),
    )


def decontaminate_semantic_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination, LSH-bucketed — the 100 TB path
    ``decontaminate_semantic``'s docstring promises for when the eval
    suite outgrows a broadcast: eval AND train vectors are hashed to
    the same 8-bit hyperplane-LSH signature (``similarity.py``'s
    ``_bucket_col``), candidates come from an EQUI-JOIN on the bucket
    key, and cosine verifies only within-bucket pairs. Per label:
    train count, candidates-checked count, contaminated count
    (max bucket-cosine ≥ 0.4), worst score.

    Scale contract (and the difference from the broadcast variant):
    the eval relation is NEVER broadcast — the join is hinted
    ``shuffle_hash`` on the bucket key, so both sides shuffle by
    bucket and the plan stays valid when the eval suite is billions of
    rows (plan-pinned: no BroadcastExchange in
    ``tests/test_plans.py``). The trade is recall: only same-bucket
    pairs are compared (8 hyperplanes ⇒ a near-duplicate pair
    collides with prob ≈ (1 − θ/π)⁸; production stacks B independent
    bands exactly like ``dedup_minhash_lsh`` — band count is a
    constant, join shape identical). ``n_checked`` makes the
    approximation auditable next to the exact variant's output.

    Same sequential-fold cosine as every embedding op; LEFT join keeps
    candidate-less train vectors so ``n_train`` still counts the full
    corpus."""
    from .similarity import _bucket_col, _dot, _emb, _with_norm
    from ..persist import pin

    # r13 (guide §2.4/§5): eval and train branches both consume this
    # relation, so the lazy form ran the interpreted norm fold + the
    # 8 hyperplane-projection folds over the corpus TWICE per
    # execution. Pin the hashed relation once (the same compute-once
    # posture a production index takes for its signature table).
    # A/B sf0.1 0.15→0.43 / 1.0→1.5 s, sf1 0.23→1.40 / 2.1→3.3 s
    emb = pin(
        _with_norm(_emb(spark, sf_dir)).withColumn(
            "bucket", _bucket_col(F.col("emb"))
        )
    )
    ev = emb.filter(F.col("vec_id") % SEM_EVAL_MOD == 0).select(
        "bucket",
        F.col("emb").alias("e_emb"),
        F.col("norm").alias("e_norm"),
    )
    tr = emb.filter(F.col("vec_id") % SEM_EVAL_MOD != 0)
    per_train = (
        tr.join(ev.hint("shuffle_hash"), "bucket", "left")
        .withColumn(
            "c",
            _dot(F.col("emb"), F.col("e_emb"))
            / (F.col("norm") * F.col("e_norm")),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("c").alias("max_cos"))
    )
    return per_train.groupBy("label").agg(
        F.count("*").alias("n_train"),
        F.sum(F.when(F.col("max_cos").isNotNull(), 1).otherwise(0)).alias(
            "n_checked"
        ),
        F.sum(F.when(F.col("max_cos") >= SEM_TAU, 1).otherwise(0)).alias(
            "n_contaminated"
        ),
        F.round(F.max("max_cos"), 6).alias("worst_cos"),
    )


QUERIES = {
    "pack_sequences": pack_sequences,
    "decontaminate_semantic": decontaminate_semantic,
    "decontaminate_semantic_lsh": decontaminate_semantic_lsh,
    "corpus_mix_sample": corpus_mix_sample,
    "corpus_temperature_mix": corpus_temperature_mix,
    "decontaminate_ngram": decontaminate_ngram,
    "pipeline_funnel": pipeline_funnel,
}

_BUCKET = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)"

_RATE_CUT = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {int(rate * 0xFFFF)}"
    for lang, rate in MIX_RATES.items()
) + " ELSE 0 END"

_TOKS_SQL = "list_filter(split(lower(text), ' '), x -> x <> '')"

_SHINGLE5_SQL = (
    "list_distinct(list_transform(generate_series(1, len(toks) - 4), "
    "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', "
    "toks[i+3], ' ', toks[i+4])))"
)

_QSCORE_SQL = (
    "0.4 * (len(list_distinct(toks))::DOUBLE / len(toks)) "
    "+ 0.3 * least(len(toks)::DOUBLE / 100.0, 1.0) "
    "+ 0.3 * (len(list_intersect(list_distinct(toks), "
    "['the','a','of','and','to','is','in']))::DOUBLE "
    "/ len(list_distinct(toks)))"
)

ORACLE = {
    "decontaminate_ngram": f"""
        WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        sh AS (
            SELECT doc_id, unnest({_SHINGLE5_SQL}) AS shingle FROM tk
        ),
        ev AS (
            SELECT doc_id AS eval_doc_id, shingle FROM sh
            WHERE doc_id % {EVAL_MOD} = 0
        ),
        tr AS (SELECT * FROM sh WHERE doc_id % {EVAL_MOD} <> 0)
        SELECT tr.doc_id,
               count(DISTINCT tr.shingle) AS n_shared_ngrams,
               count(DISTINCT ev.eval_doc_id) AS n_eval_docs_hit,
               min(tr.shingle) AS first_shared_ngram
        FROM tr JOIN ev USING (shingle)
        GROUP BY tr.doc_id
    """,
    "pipeline_funnel": f"""
        WITH tk AS (
            SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
        ),
        scored AS (
            SELECT doc_id, source,
                   len(toks) AS n_tokens,
                   md5(array_to_string(toks[1:{PREFIX_LEN}], ' '))
                       AS prefix_key,
                   CASE WHEN len(toks) > 0 THEN {_QSCORE_SQL} END
                       AS quality_score
            FROM tk
        ),
        canon AS (
            SELECT doc_id, TRUE AS is_canonical FROM (
                SELECT doc_id, row_number() OVER (
                    PARTITION BY prefix_key ORDER BY doc_id) AS rn
                FROM scored WHERE quality_score >= {QUALITY_CUT}
            ) WHERE rn = 1
        )
        SELECT s.source,
               count(*) AS n_docs,
               count(*) FILTER (s.quality_score >= {QUALITY_CUT})
                   AS n_quality_passed,
               count(*) FILTER (coalesce(c.is_canonical, FALSE)) AS n_kept,
               CAST(sum(CASE WHEN coalesce(c.is_canonical, FALSE)
                             THEN s.n_tokens ELSE 0 END) AS BIGINT)
                   AS tokens_kept
        FROM scored s LEFT JOIN canon c USING (doc_id)
        GROUP BY s.source
    """,
    "pack_sequences": f"""
        SELECT doc_id, lang, n_tok, off_excl,
               off_excl // {PACK_BUDGET} AS pack_id,
               off_excl % {PACK_BUDGET} AS offset_in_pack
        FROM (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   CAST(sum(len(string_split(text, ' '))) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) - CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS off_excl
            FROM documents
        )
    """,
    "corpus_mix_sample": f"""
        SELECT lang, source,
               count(*) AS n_kept,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
               min(doc_id) AS min_doc_id
        FROM documents
        WHERE {_BUCKET} < {_RATE_CUT}
        GROUP BY lang, source
    """,
}

_TEMP_CUT = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {cut}" for lang, cut in TEMP_CUTS.items()
) + " ELSE 0 END"

ORACLE["corpus_temperature_mix"] = f"""
    SELECT lang,
           count(*) AS n_docs_in,
           CAST(sum(CASE WHEN {_BUCKET} < {_TEMP_CUT} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
           max({_TEMP_CUT}) AS rate_cut,
           CAST(sum(CASE WHEN {_BUCKET} < {_TEMP_CUT} THEN n_chars ELSE 0 END)
               AS BIGINT) AS chars_kept
    FROM documents
    GROUP BY lang
"""

ORACLE["decontaminate_semantic"] = f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
               label
        FROM embeddings
    ),
    en AS (
        SELECT vec_id, emb, label,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(generate_series(1, 64), i -> emb[i] * emb[i])),
                    (acc, v) -> acc + v)) AS norm
        FROM e
    ),
    ev AS (SELECT emb AS e_emb, norm AS e_norm FROM en
           WHERE vec_id % {SEM_EVAL_MOD} = 0),
    tr AS (SELECT * FROM en WHERE vec_id % {SEM_EVAL_MOD} <> 0),
    per_train AS (
        SELECT tr.vec_id, tr.label,
               max(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, 64),
                                  i -> tr.emb[i] * ev.e_emb[i])),
                   (acc, v) -> acc + v) / (tr.norm * ev.e_norm)) AS max_cos
        FROM tr, ev
        GROUP BY 1, 2
    )
    SELECT label, count(*) AS n_train,
           CAST(sum(CASE WHEN max_cos >= {SEM_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           round(max(max_cos), 6) AS worst_cos
    FROM per_train GROUP BY 1
"""


def _lsh_decon_oracle() -> str:
    # the 8-hyperplane bucket expression is imported from similarity's
    # oracle fragments so both engines' bucketing stays one definition
    from .similarity import _BUCKET

    return f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
               label
        FROM embeddings
    ),
    en AS (
        SELECT vec_id, emb, label,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(generate_series(1, 64), i -> emb[i] * emb[i])),
                    (acc, v) -> acc + v)) AS norm,
               {_BUCKET} AS bucket
        FROM e
    ),
    ev AS (SELECT bucket, emb AS e_emb, norm AS e_norm FROM en
           WHERE vec_id % {SEM_EVAL_MOD} = 0),
    tr AS (SELECT * FROM en WHERE vec_id % {SEM_EVAL_MOD} <> 0),
    per_train AS (
        SELECT tr.vec_id, tr.label,
               max(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, 64),
                                  i -> tr.emb[i] * ev.e_emb[i])),
                   (acc, v) -> acc + v) / (tr.norm * ev.e_norm)) AS max_cos
        FROM tr LEFT JOIN ev ON tr.bucket = ev.bucket
        GROUP BY 1, 2
    )
    SELECT label, count(*) AS n_train,
           CAST(sum(CASE WHEN max_cos IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN max_cos >= {SEM_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           round(max(max_cos), 6) AS worst_cos
    FROM per_train GROUP BY 1
"""


ORACLE["decontaminate_semantic_lsh"] = _lsh_decon_oracle()


# --- round 9: longest contiguous contamination run ------------------------

RUN_N = 3  # token width of each position hash (3-gram windows)
RUN_MIN_SHINGLES = 3  # report runs of >= this many consecutive matches


def contamination_longest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-overlap decontamination: for every training document,
    the LONGEST consecutive run of {RUN_N}-token window hashes it
    shares (at aligned positions) with any held-out eval document
    (doc_id % EVAL_MOD == 0). ``decontaminate_ngram`` counts SHARED
    n-grams; real eval-leakage policies (the PaLM/GPT-3 contamination
    appendices — public literature) gate on the longest CONTIGUOUS
    span, which survives the "one shared phrase, scattered" false
    positive. A run of r window hashes = r + {RUN_N} - 1 contiguous
    shared tokens.

    Algorithm: position-annotated window hashes on both sides; an
    equi-join on the hash; runs are diagonals — group by (train doc,
    eval doc, pos_train − pos_eval) and find the longest consecutive
    pos_train streak with the islands trick (pos_train − row_number is
    constant within a streak). The operator contract is on the window
    HASHES (like winnowing), so the oracle replays it bit-exactly.

    Plan shape: the eval slice is ~1/EVAL_MOD of the corpus by
    construction, so its posting list broadcasts; the train side
    streams past in one broadcast-hash join — no corpus shuffle. Hit
    pairs are ∝ shared-phrase mass, never |train| × |eval|; the island
    windows partition by (train, eval, diagonal), whose groups are
    bounded by document length. At 100 TB the eval slice is a fixed
    benchmark suite (MB-scale): the broadcast is unconditional.
    """
    from ..functions import hashes as H

    # fan out before the per-token Horner hashing (same single-input-
    # partition serialization as decontaminate_ngram above; no-op on a
    # multi-split scan)
    docs = fan_out_narrow(load_table(spark, sf_dir, "documents"))
    wh = docs.select(
        "doc_id",
        F.posexplode(
            H.horner_windows_col(
                F.transform(H.tokens_col(F.col("text")), H.char_hash_col),
                RUN_N,
            )
        ).alias("pos", "h"),
    )
    ev = (
        wh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(
            F.col("doc_id").alias("eval_doc_id"),
            F.col("pos").alias("epos"),
            "h",
        )
    )
    tr = wh.filter(F.col("doc_id") % EVAL_MOD != 0)
    hits = tr.join(F.broadcast(ev), "h").select(
        "doc_id", "eval_doc_id", "pos", (F.col("pos") - F.col("epos")).alias("diag")
    )
    isl = hits.withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id", "eval_doc_id", "diag").orderBy("pos")
        ),
    )
    runs = isl.groupBy("doc_id", "eval_doc_id", "diag", "island").agg(
        F.count("*").alias("run_shingles")
    )
    pair = runs.groupBy("doc_id", "eval_doc_id").agg(
        F.max("run_shingles").alias("run_shingles")
    )
    best = pair.withColumn(
        "max_run", F.max("run_shingles").over(Window.partitionBy("doc_id"))
    )
    return (
        best.filter(
            (F.col("run_shingles") == F.col("max_run"))
            & (F.col("max_run") >= RUN_MIN_SHINGLES)
        )
        .groupBy("doc_id")
        .agg(
            F.min("eval_doc_id").alias("best_eval_doc_id"),
            F.max("max_run").alias("run_shingles"),
        )
        .withColumn("run_tokens", F.col("run_shingles") + F.lit(RUN_N - 1))
    )


QUERIES["contamination_longest_run"] = contamination_longest_run


def _longest_run_oracle() -> str:
    from ..functions import hashes as H

    toks = H.TOKENS_SQL.format(text="text")
    th = (
        "list_transform(" + toks + ", tok -> "
        + H.CHAR_HASH_SQL.format(s="tok") + ")"
    )
    return f"""
        WITH pre AS (SELECT doc_id, {th} AS th FROM documents),
        wh AS (
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                   ((th[i] * 31 + th[i + 1]) % 2147483647 * 31 + th[i + 2])
                       % 2147483647 AS h
            FROM pre, unnest(generate_series(1, len(th) - {RUN_N - 1}))
                 AS u(i)
        ),
        hits AS (
            SELECT t.doc_id, e.doc_id AS eval_doc_id, t.pos,
                   t.pos - e.pos AS diag
            FROM wh t JOIN wh e USING (h)
            WHERE t.doc_id % {EVAL_MOD} <> 0 AND e.doc_id % {EVAL_MOD} = 0
        ),
        isl AS (
            SELECT doc_id, eval_doc_id, diag, pos,
                   pos - row_number() OVER (
                       PARTITION BY doc_id, eval_doc_id, diag
                       ORDER BY pos) AS island
            FROM hits
        ),
        runs AS (
            SELECT doc_id, eval_doc_id,
                   max(cnt) AS run_shingles
            FROM (SELECT doc_id, eval_doc_id, diag, island,
                         count(*) AS cnt
                  FROM isl GROUP BY 1, 2, 3, 4)
            GROUP BY 1, 2
        ),
        best AS (
            SELECT *, max(run_shingles) OVER (PARTITION BY doc_id)
                AS max_run
            FROM runs
        )
        SELECT doc_id,
               min(eval_doc_id) AS best_eval_doc_id,
               CAST(max(max_run) AS BIGINT) AS run_shingles,
               CAST(max(max_run) + {RUN_N - 1} AS BIGINT) AS run_tokens
        FROM best
        WHERE run_shingles = max_run AND max_run >= {RUN_MIN_SHINGLES}
        GROUP BY doc_id
    """


ORACLE["contamination_longest_run"] = _longest_run_oracle()
