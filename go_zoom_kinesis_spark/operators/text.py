"""Text-analysis operators over ``documents`` — north-star extension
(SURVEY.md §2.2): language-ID, quality scoring, token counting,
document fingerprinting. All built-in higher-order functions (JVM
codegen); ratio arithmetic is count/count division so values are
bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashes as H
from ..io import fan_out_narrow, load_table
from ..persist import pin

P = H.P

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Priority order breaks score ties deterministically.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is", "in"],
    "fr": ["le", "la", "et", "les", "des", "un", "une"],
    "es": ["el", "de", "y", "los", "que", "en", "una"],
    "de": ["der", "die", "und", "das", "ein", "mit", "von"],
    "zh": ["de", "shi", "le", "zai", "wo", "you", "he"],
}
LANG_ORDER = ["en", "fr", "es", "de", "zh"]


def _docs(spark: SparkSession, sf_dir: str, fan: bool = True) -> DataFrame:
    # r13 (guide §2.5): fanned out at the shared loader — most text
    # operators' first move is an interpreted per-token/per-char HOF
    # over the single-file scan (one partition = one core); no-op at
    # production split counts. ``fan=False`` opts out for consumers
    # where the quiet-host A/B showed the exchange losing.
    df = load_table(spark, sf_dir, "documents")
    return fan_out_narrow(df) if fan else df


def _toks(df: DataFrame) -> DataFrame:
    return df.withColumn("toks", H.tokens_col(F.col("text")))


def _stop_hits(lang: str) -> Column:
    """# distinct tokens appearing in the language's stopword list."""
    return F.size(
        F.array_intersect(
            F.array_distinct(F.col("toks")),
            F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
        )
    )


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: score each language by distinct
    stopword matches; argmax with fixed priority, 'und' when no hits.
    (This corpus draws every doc from one English-ish vocabulary, so
    the interesting output is the deterministic scoring pipeline, not
    accuracy against the random `lang` label.)"""
    docs = _toks(_docs(spark, sf_dir))
    scored = docs.select(
        "doc_id",
        "lang",
        *[_stop_hits(lang).alias(f"s_{lang}") for lang in LANG_ORDER],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):
        pred = F.when(
            (F.col(f"s_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        *[F.col(f"s_{lang}") for lang in LANG_ORDER],
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: type-token ratio, length saturation, stopword
    ratio → weighted score. Exactly the filter stage of a pretraining
    data pipeline (per-row, embarrassingly parallel).

    Token-less documents are dropped: every ratio here divides by the
    token (or distinct-token) count, so quality is only defined over
    tokenized docs — and under ANSI mode an unguarded empty doc is a
    DIVIDE_BY_ZERO runtime error, not a quiet null."""
    docs = _toks(_docs(spark, sf_dir)).filter(F.size("toks") > 0)
    n_tokens = F.size("toks")
    n_distinct = F.size(F.array_distinct("toks"))
    ttr = n_distinct / n_tokens
    len_sat = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    stop_ratio = _stop_hits("en") / n_distinct
    # no in-query round(): these ratios of small ints can terminate
    # exactly on a round-half boundary where Spark and DuckDB round()
    # disagree; the raw doubles are bit-identical across engines
    score = 0.4 * ttr + 0.3 * len_sat + 0.3 * stop_ratio
    return docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        ttr.alias("ttr"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (ceil(len/4) per token — ~4 chars/token heuristic) + char length."""
    docs = _toks(_docs(spark, sf_dir))
    subwords = F.aggregate(
        F.transform(F.col("toks"), lambda t: F.ceil(F.length(t) / 4)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_ws_tokens"),
        subwords.alias("n_subwords_est"),
        F.length("text").alias("n_text_chars"),
        "n_chars",
    )


BPE_PATTERN = "[a-z]+|[0-9]|[^a-z0-9 ]+"  # GPT-style pre-tokenizer classes


def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pre-tokenization (the BPE front half): word runs, single
    digits, punctuation runs — the GPT-2-style class split on
    lowercased text. Pattern is leftmost-first in both Java regex and
    RE2, so the token streams are identical across engines. One
    projection, no shuffle before the per-language rollup."""
    docs = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0)
    word = F.filter(toks, lambda t: t.rlike("^[a-z]+$"))
    digit = F.filter(toks, lambda t: t.rlike("^[0-9]$"))
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(word).alias("n_word"),
        F.size(digit).alias("n_digit"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_word").alias("total_words"),
        F.sum("n_digit").alias("total_digits"),
        F.max("n_tok").alias("max_doc_tokens"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over token hashes — fp = fold((acc*131 + h(tok)) % P). Same token
    sequence ⇒ same fingerprint; any reorder changes it (vs simhash/
    minhash which are order-blind)."""
    docs = _toks(_docs(spark, sf_dir))
    fp = F.aggregate(
        F.transform(F.col("toks"), H.char_hash_col),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % P,
    )
    with_fp = docs.select("doc_id", fp.alias("fingerprint"))
    # r13 (guide §2.4): one window over the fingerprint key instead of
    # groupBy + join back. The join-back form evaluated the per-token
    # char-hash fold (the expensive interpreted HOF above) TWICE — once
    # per side of the self-join — and paid two exchanges + a join for
    # what is a single keyed pass. The window shuffles the narrow
    # (doc_id, fingerprint) projection once; rows/values identical.
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    return with_fp.select(
        "doc_id",
        "fingerprint",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("n_members"),
    )


TFIDF_TOP_K = 3


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K terms by TF-IDF (linear-idf variant:
    score = tf · N/df). The linear idf keeps every arithmetic step
    inside IEEE-mandated correctly-rounded ops (*, /), so the ranking
    key is bit-identical across engines — ln() is not IEEE-mandated and
    a 1-ulp engine difference could flip a near-tie in the top-K cut.
    At 100 TB swap in log-idf freely; only the cross-engine oracle
    needs the bit-exact variant.

    Shuffle budget (r5 audit of this 6-exchange plan — each justified
    by a MEASURED alternative): (1) tf groupBy(doc_id, token) — looks
    like a token-instance shuffle but is not: hash-aggregate partials
    complete map-side (every doc lives in one input row), so the wire
    carries only distinct (doc, token) pairs. The tested alternative —
    computing TF fully in-row with HOFs as ``text_repetition_stats``
    does, eliminating this exchange — ran 1.32 s vs 0.70 s at sf0.1:
    the O(tokens·distinct)-per-row scan costs more CPU than the
    already-minimal exchange saves, at every scale. (2) df
    groupBy(token) and (3) the tf-side re-key on token for the idf
    join are the irreducible corpus-wide df computation. (4) the
    per-doc window top-K partitions by doc_id (no global sort) and
    (5-6) the single-row N is a SinglePartition fold + broadcast —
    bytes, not data.
    """
    # r13 quiet-host re-A/B: fan=False (0.78 vs 1.28 fanned) — the
    # split+explode is native codegen (no interpreted HOF tower here)
    # and the groupBy exchanges right after, so the fan-out is a pure
    # extra shuffle
    docs = _docs(spark, sf_dir, fan=False)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda x: F.length(x) > 3)
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score_raw", F.col("tf") * (F.col("n_docs").cast("double") / F.col("df"))
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score_raw"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round("score_raw", 6).alias("tfidf"),
            "rk",
        )
    )


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: most-
    common-token fraction, most-common-bigram fraction, duplicate-
    token fraction. High values flag boilerplate/spam for the
    pretraining filter. All in-row higher-order functions (JVM
    codegen, zero shuffles before the final projection); the in-row
    frequency scan is O(tokens · distinct) — bounded by document
    length, which a real pipeline caps upstream anyway.

    Token-less documents are dropped (fractions of zero tokens are
    undefined; ANSI mode would raise DIVIDE_BY_ZERO).

    r13 rework (guide §4.1/§2.3): the original all-in-row form counted
    each distinct token by re-filtering the whole token array
    (O(distinct·n) interpreted lambda calls per document), and the
    bigram variant was worse — higher-order lambdas get no common-
    subexpression elimination, so the bigram-construction transform
    was re-evaluated INSIDE the per-distinct-element filter:
    O(distinct·n) bigram-array builds per row. Measured 10.15 s at
    sf0.1 — and one-cored on top (single-file scan = one partition,
    the r12 hazard). The frequency counts are exactly what a two-level
    codegen aggregation computes linearly: explode each document's
    tokens and bigrams ONCE (tagged, one pass), count per
    (doc, kind, value) with map-side partial aggregation, then take
    per-doc maxima. n_tokens rides along as first(n); the distinct-
    token count is the number of kind='t' groups. Identical integers,
    identical double divisions — oracle hash unchanged. 10.15 ->
    ~1 s isolated at sf0.1, and the shape is shuffle-linear at any
    scale."""
    docs = _toks(_docs(spark, sf_dir)).filter(F.size("toks") > 0)
    toks = F.col("toks")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tagged = docs.select(
        "doc_id",
        n.alias("n"),
        F.explode(
            F.concat(
                F.transform(
                    toks, lambda t: F.struct(F.lit("t").alias("k"), t.alias("v"))
                ),
                F.transform(
                    bigrams,
                    lambda b: F.struct(F.lit("b").alias("k"), b.alias("v")),
                ),
            )
        ).alias("e"),
    ).select("doc_id", "n", F.col("e.k").alias("k"), F.col("e.v").alias("v"))
    per_val = tagged.groupBy("doc_id", "k", "v").agg(
        F.count("*").alias("c"), F.first("n").alias("n")
    )
    per_doc = per_val.groupBy("doc_id").agg(
        F.first("n").alias("n"),
        F.max(F.when(F.col("k") == "t", F.col("c"))).alias("top_tok"),
        F.max(F.when(F.col("k") == "b", F.col("c"))).alias("top_bg"),
        F.count_if(F.col("k") == "t").alias("n_distinct"),
    )
    nn = F.col("n")
    return per_doc.select(
        "doc_id",
        nn.alias("n_tokens"),
        (F.col("top_tok").cast("double") / nn).alias("top_token_frac"),
        F.when(nn >= 2, F.col("top_bg").cast("double") / (nn - 1))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        ((nn - F.col("n_distinct")).cast("double") / nn).alias(
            "dup_token_frac"
        ),
    )


QUERIES = {
    "text_language_id": text_language_id,
    "text_repetition_stats": text_repetition_stats,
    "text_quality": text_quality,
    "text_token_stats": text_token_stats,
    "text_regex_tokens": text_regex_tokens,
    "text_fingerprint": text_fingerprint,
    "text_tfidf_topterms": text_tfidf_topterms,
}


# --- oracle SQL ---------------------------------------------------------

_TOKS = H.TOKENS_SQL.format(text="text")


def _stop_hits_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_intersect(list_distinct(toks), [{lst}]))"


_PRED_SQL = "CASE " + " ".join(
    f"WHEN s_{lang} = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_{lang} > 0 "
    f"THEN '{lang}'"
    for lang in LANG_ORDER
) + " ELSE 'und' END"

ORACLE = {
    "text_repetition_stats": f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        bg AS (
            SELECT doc_id, toks,
                   CASE WHEN len(toks) >= 2
                        THEN list_transform(
                            generate_series(1, len(toks) - 1),
                            i -> concat(toks[i], ' ', toks[i+1]))
                        ELSE [] END AS bigrams
            FROM tk
        )
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(list_max(list_transform(list_distinct(toks),
                    t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
                   / len(toks) AS top_token_frac,
               CASE WHEN len(toks) >= 2
                    THEN CAST(list_max(list_transform(list_distinct(bigrams),
                         b -> len(list_filter(bigrams, x -> x = b))))
                         AS DOUBLE) / (len(toks) - 1)
                    ELSE 0.0 END AS top_bigram_frac,
               CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                   / len(toks) AS dup_token_frac
        FROM bg
        WHERE len(toks) > 0
    """,
    "text_tfidf_topterms": f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(
                string_split(lower(text), ' '), x -> length(x) > 3)) AS token
            FROM documents
        ),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, token, tf, df,
                   tf * (CAST(n_docs AS DOUBLE) / df) AS score_raw
            FROM tf JOIN dfq USING (token) CROSS JOIN n
        )
        SELECT doc_id, token, tf, df,
               round(score_raw, 6) AS tfidf, rk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score_raw DESC, token ASC) AS rk
            FROM scored
        ) WHERE rk <= {TFIDF_TOP_K}
    """,
    "text_regex_tokens": f"""
        WITH per_doc AS (
            SELECT lang,
                   len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS n_tok,
                   len(list_filter(regexp_extract_all(lower(text), '{BPE_PATTERN}'),
                                   t -> regexp_matches(t, '^[a-z]+$'))) AS n_word,
                   len(list_filter(regexp_extract_all(lower(text), '{BPE_PATTERN}'),
                                   t -> regexp_matches(t, '^[0-9]$'))) AS n_digit
            FROM documents
        )
        SELECT lang,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_word) AS BIGINT) AS total_words,
               CAST(sum(n_digit) AS BIGINT) AS total_digits,
               max(n_tok) AS max_doc_tokens
        FROM per_doc GROUP BY lang
    """,
    "text_language_id": f"""
        WITH tk AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
        scored AS (
            SELECT doc_id, lang,
                   {", ".join(f"{_stop_hits_sql(lang)} AS s_{lang}" for lang in LANG_ORDER)}
            FROM tk
        )
        SELECT doc_id, lang, {_PRED_SQL} AS predicted_lang,
               s_en, s_fr, s_es, s_de, s_zh
        FROM scored
    """,
    "text_quality": f"""
        WITH tk AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents)
        SELECT doc_id, source,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct_tokens,
               len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
               {_stop_hits_sql("en")}::DOUBLE / len(list_distinct(toks))
                   AS stopword_ratio,
               0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
                   + 0.3 * least(len(toks)::DOUBLE / 100.0, 1.0)
                   + 0.3 * ({_stop_hits_sql("en")}::DOUBLE / len(list_distinct(toks)))
                   AS quality_score
        FROM tk
        WHERE len(toks) > 0
    """,
    "text_token_stats": f"""
        WITH tk AS (SELECT doc_id, n_chars, text, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               len(toks) AS n_ws_tokens,
               CAST(coalesce(list_sum(list_transform(toks,
                    t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0)
                    AS BIGINT)
                   AS n_subwords_est,
               length(text) AS n_text_chars,
               n_chars
        FROM tk
    """,
    "text_fingerprint": f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        fps AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(toks, s -> {H.CHAR_HASH_SQL.format(s="s")})),
                       (acc, h) -> (acc * 131 + h) % {P}) AS fingerprint
            FROM tk
        ),
        clusters AS (
            SELECT fingerprint, min(doc_id) AS canonical_id,
                   count(*) AS n_members
            FROM fps GROUP BY fingerprint
        )
        SELECT f.doc_id, f.fingerprint, c.canonical_id, c.n_members
        FROM fps f JOIN clusters c USING (fingerprint)
    """,
}


# --- r7-staged, registered at round 8: hashing-trick vectorization --------------------
# (registered at the round-8 merge; see the module-end merge block)

FH_DIM = 64  # hashed feature dimensionality
FH_SIGN_FAMILY = 3  # affine family index for the sign hash


def feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick ("feature hashing", Weinberger et al. ICML'09 —
    public literature) bag-of-words vectorization audit: every token
    OCCURRENCE maps to dimension ``hash % {FH_DIM}`` with a ±1 sign
    from an independent affine family (the signed variant that makes
    collisions cancel in expectation), and each document's sparse
    vector is summarized with exact integer invariants — nnz, L1 mass,
    squared norm, and a dimension-weighted checksum — so the DuckDB
    oracle re-derives every byte.

    Scale: one explode + one (doc_id, dim) hash-aggregate (map-side
    combine collapses each task to ≤ {FH_DIM} rows per doc) + one
    per-doc rollup — two uniform-key shuffles, no joins, no windows.
    The feature matrix itself never materializes wider than its sparse
    (doc, dim, weight) relation, which is how a 100 TB corpus feeds a
    distributed trainer.

    r13 (guide §2.5): fanned out (via ``_docs``) — tokenize +
    per-token char-hash otherwise run on the single scan partition."""
    docs = _docs(spark, sf_dir)
    th = docs.select(
        "doc_id",
        F.explode(
            F.transform(H.tokens_col(F.col("text")), H.char_hash_col)
        ).alias("h"),
    )
    sgn = (H.affine_col(F.col("h"), FH_SIGN_FAMILY) % 2) * 2 - 1
    cell = (
        th.select("doc_id", (F.col("h") % FH_DIM).alias("dim"), sgn.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").alias("v"))
        .filter(F.col("v") != 0)
    )
    return cell.groupBy("doc_id").agg(
        F.count("*").alias("nnz"),
        F.sum(F.abs("v")).alias("l1_mass"),
        F.sum(F.col("v") * F.col("v")).alias("sq_norm"),
        F.sum((F.col("dim") + 1) * F.col("v")).alias("dim_checksum"),
    )


QUERIES["feature_hash_vectorize"] = feature_hash_vectorize

ORACLE["feature_hash_vectorize"] = f"""
        WITH th AS (
            SELECT doc_id,
                   {H.CHAR_HASH_SQL.format(s="tok")} AS h
            FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
        ),
        cell AS (
            SELECT doc_id, h % {FH_DIM} AS dim,
                   sum(({H.affine_sql('h', FH_SIGN_FAMILY)}) % 2 * 2 - 1) AS v
            FROM th GROUP BY doc_id, h % {FH_DIM}
            HAVING sum(({H.affine_sql('h', FH_SIGN_FAMILY)}) % 2 * 2 - 1) <> 0
        )
        SELECT doc_id,
               count(*) AS nnz,
               CAST(sum(abs(v)) AS BIGINT) AS l1_mass,
               CAST(sum(v * v) AS BIGINT) AS sq_norm,
               CAST(sum((dim + 1) * v) AS BIGINT) AS dim_checksum
        FROM cell GROUP BY doc_id
    """


# --- r7-staged, registered at round 8: winnowing fingerprint overlap ------------------

WINNOW_K = 4  # k-gram length (tokens) per fingerprint hash
WINNOW_W = 4  # winnowing window: guarantee a print in every W k-grams
WINNOW_MAX_DF = 100  # flood cap: drop prints shared by > this many docs
WINNOW_MIN_SHARED = 2  # report pairs sharing >= this many prints


def winnow_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03 —
    the MOSS algorithm, public literature): hash every {WINNOW_K}-token
    k-gram, then keep the MINIMUM hash of each {WINNOW_W}-window of
    consecutive k-grams — the selected set is a position-robust
    document sketch with a guaranteed detection density (any shared run
    of {WINNOW_K}+{WINNOW_W}-1 tokens contributes at least one common
    print). Pairs of documents sharing >= {WINNOW_MIN_SHARED} prints
    are reported with their overlap count — the partial-overlap
    detector that whole-document fingerprints (``text_fingerprint``)
    and span-level df histograms (``duplicate_span_audit``) both miss.

    Scale: per-doc work is three narrow HOF stages (token hashes ->
    k-gram Horner folds -> window minima), each materialized as its own
    array column so no stage re-evaluates inside another's lambda (the
    no-CSE discipline ``duplicate_span_scrub`` pins). The cross-doc
    stage is an inverted-index bucket join capped by {WINNOW_MAX_DF}
    (the ``MAX_DOC_FREQ`` flood rule from ``dedup.py``) — candidates
    are ∝ sum(df²) over capped prints, never corpus², and the pair
    aggregate map-side-combines. Winnowing's own guarantee does the
    rest: selected prints are ~2/(W+1) of all k-grams, so the shuffled
    posting relation is a constant fraction of the token stream."""
    docs = _docs(spark, sf_dir)
    pre = docs.select(
        "doc_id",
        F.transform(H.tokens_col(F.col("text")), H.char_hash_col).alias(
            "th"
        ),
    )
    # k-gram Horner folds as a zip_with chain over K shifted slices —
    # bit-identical to the per-position slice+aggregate form (same mod
    # at every Horner step) but O(K) whole-array passes per doc; see
    # hashes.horner_windows_col.
    kg = pre.select(
        "doc_id", H.horner_windows_col(F.col("th"), WINNOW_K).alias("kh")
    )
    # sliding window-min via the sparse-table doubling trick: pairwise
    # mins at power-of-two widths, one final overlapped combine — the
    # same minima array_min(slice(...)) produced per position, in
    # O(log W) zip_with passes.
    L = F.size("kh")
    wmin = F.col("kh")
    cur_w = 1
    while 2 * cur_w <= WINNOW_W:
        nxt = L - (2 * cur_w - 1)
        wmin = F.zip_with(
            F.slice(wmin, 1, nxt),
            F.slice(wmin, 1 + cur_w, nxt),
            lambda a, b: F.least(a, b),
        )
        cur_w *= 2
    if cur_w < WINNOW_W:
        out_len = L - (WINNOW_W - 1)
        wmin = F.zip_with(
            F.slice(wmin, 1, out_len),
            F.slice(wmin, 1 + (WINNOW_W - cur_w), out_len),
            lambda a, b: F.least(a, b),
        )
    prints = F.array_distinct(
        F.when(F.size("kh") >= WINNOW_W, wmin).otherwise(
            F.array().cast("array<long>")
        )
    )
    # cache: inst (the full HOF chain's output) feeds BOTH the df
    # aggregate and the posting join — uncached, the token-hash →
    # k-gram → window-min pipeline runs twice; posting feeds both
    # self-join sides the same way
    # A/B sf0.1 0.10→0.11 / 1.2→1.5 s, sf1 0.26→0.25 / 4.3→6.0 s
    inst = kg.select("doc_id", F.explode(prints).alias("fp")).transform(pin)
    good = (
        inst.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= 2) & (F.col("df") <= WINNOW_MAX_DF)
        )
        .select("fp")
    )
    # A/B sf0.1 0.08→0.29 / 1.1→1.3 s, sf1 0.24→1.13 / 4.3→6.2 s
    posting = inst.join(good, "fp").transform(pin)
    a = posting.select(F.col("doc_id").alias("doc_a"), "fp")
    b = posting.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


QUERIES["winnow_fingerprint_overlap"] = winnow_fingerprint_overlap

ORACLE["winnow_fingerprint_overlap"] = f"""
    WITH pre AS (
        SELECT doc_id,
               list_transform({_TOKS}, s -> {H.CHAR_HASH_SQL.format(s="s")})
                   AS th
        FROM documents
    ),
    kg AS (
        SELECT doc_id,
               CASE WHEN len(th) >= {WINNOW_K} THEN
                   list_transform(
                       generate_series(1, len(th) - {WINNOW_K - 1}),
                       i -> list_reduce(th[i:i+{WINNOW_K - 1}],
                                        (acc, x) -> (acc * 31 + x)
                                                    % {H.P}))
               ELSE CAST([] AS BIGINT[]) END AS kh
        FROM pre
    ),
    pr AS (
        SELECT doc_id,
               unnest(list_distinct(
                   CASE WHEN len(kh) >= {WINNOW_W} THEN
                       list_transform(
                           generate_series(1, len(kh) - {WINNOW_W - 1}),
                           j -> list_aggregate(kh[j:j+{WINNOW_W - 1}],
                                               'min'))
                   ELSE CAST([] AS BIGINT[]) END)) AS fp
        FROM kg
    ),
    dfs AS (
        SELECT fp FROM pr GROUP BY fp
        HAVING count(*) BETWEEN 2 AND {WINNOW_MAX_DF}
    ),
    posting AS (SELECT pr.doc_id, pr.fp FROM pr JOIN dfs USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared
    FROM posting a JOIN posting b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
"""
