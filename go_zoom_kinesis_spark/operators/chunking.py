"""Document chunking + tokenizer-training primitives — the
RAG-ingest / BPE-training half of an LLM data pipeline.

The reference (go-zoom-kinesis) ends at per-record delivery
(src/processor.rs); what a training/RAG pipeline does with delivered
documents — split them into overlapping windows, count merge-candidate
symbol pairs, draw fixed-size per-stratum samples — is the analytics
completion this module adds (SURVEY.md §2 north-star extensions).

All three operators are pure built-in column ops (split / sequence /
explode / substring / window) — no Python in the hot path, so the
whole stage is JVM codegen.

Scale notes (100 TB):
- ``chunk_documents``: explode(sequence) is a NARROW transform — chunk
  rows are produced inside the scan stage, no shuffle at all; output
  partitioning follows the input file splits. Chunk count per task is
  bounded by doc length / stride, so no task amplification skew beyond
  the document-length skew already present in the input.
- ``bpe_pair_stats``: the double explode (tokens × positions) fans out
  ~n_chars rows per document, all map-side; the only exchange is the
  final pair-count aggregate (map-side partial combine collapses to
  |alphabet|² ≈ small), then a tiny top-k sort on the aggregated set.
  This is exactly one BPE merge-selection iteration; a full BPE train
  loops this with a shrinking pair table.
- ``reservoir_topk_per_lang``: deterministic fixed-k reservoir per
  stratum via rank-over-content-hash. One shuffle on the stratum key;
  at extreme per-key cardinality swap the window for the two-phase
  per-partition top-k + merge (same result by hash-order determinism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashes as H
from ..io import load_table
from ..persist import pin, unpin

CHUNK_SIZE = 120
CHUNK_STRIDE = 80
RESERVOIR_K = 5
TOP_PAIRS = 30


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 quiet-host re-A/B: the loader fan-out REVERTED — every
    # measured consumer pays more for the exchange than the spread
    # explode saves (chunk_dedup_stats 0.33->0.73, reservoir_topk
    # 0.10->0.25, negative_sampling 0.26->0.38, bpe_pair_stats
    # 0.45->0.54 fanned); the BPE trainers pin their word table at
    # build time either way
    return load_table(spark, sf_dir, "documents")


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width character windows per document
    (size 120, stride 80) — the RAG-ingest chunker. Chunk count is
    ``floor((max(len-size,0)+stride-1)/stride)+1`` so every char is
    covered and a short document still yields one chunk; the final
    chunk may be shorter. chunk_id = doc_id·10^4 + idx is a stable
    global key (guarded: idx < 10^4)."""
    docs = _docs(spark, sf_dir)
    n = F.length("text")
    n_chunks = (
        F.floor(
            (F.greatest(n - CHUNK_SIZE, F.lit(0)) + (CHUNK_STRIDE - 1))
            / CHUNK_STRIDE
        )
        + 1
    ).cast("int")
    chunks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        "text",
    )
    chunk_text = F.expr(
        f"substring(text, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})"
    )
    return chunks.select(
        (F.col("doc_id") * 10000 + F.col("chunk_idx")).alias("chunk_id"),
        "doc_id",
        "lang",
        "chunk_idx",
        (F.col("chunk_idx") * CHUNK_STRIDE).alias("chunk_start"),
        chunk_text.alias("chunk_text"),
        F.length(chunk_text).alias("chunk_len"),
    )


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-selection iteration: adjacent character-pair
    frequencies inside whitespace tokens, over the full corpus — the
    pair table a byte-pair tokenizer trainer maximizes over. Returns
    the top 30 pairs (count desc, pair asc — deterministic
    tie-break) with occurrence and distinct-word support counts."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        "w",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
    ).select("w", F.expr("substring(w, i, 2)").alias("pair"))
    counted = pairs.groupBy("pair").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("w").alias("n_words"),
    )
    return counted.orderBy(
        F.desc("n_occurrences"), F.asc("pair")
    ).limit(TOP_PAIRS)


def reservoir_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k reservoir sample per language: rank
    documents inside each stratum by md5(doc_id) (content-hash order =
    an arbitrary-but-reproducible permutation, the property a seeded
    reservoir gives a single machine) and keep the first k=5. Unlike
    the rate-based stratified sampler (sampling.py), the output size
    per stratum is exact."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("lang", "rk", "doc_id", "source", "n_chars")
    )



def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document repetition removal (the RefinedWeb/CCNet-style
    exact-substring dedup, at chunk granularity): hash every chunk,
    keep the globally FIRST occurrence of each distinct chunk text
    (min chunk_id — deterministic), and report per document how many
    chunks were duplicates and how many characters survive.

    Composes ``chunk_documents`` (narrow explode) with one
    hash-partitioned window — the same single shuffle an exact-dedup
    groupBy would pay; no pairwise work at any scale."""
    ch = chunk_documents(spark, sf_dir)
    marked = ch.select(
        "doc_id",
        "chunk_id",
        "chunk_len",
        F.md5("chunk_text").alias("h"),
    ).withColumn("first_chunk", F.min("chunk_id").over(Window.partitionBy("h")))
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum((F.col("chunk_id") != F.col("first_chunk")).cast("bigint")).alias(
            "n_dup_chunks"
        ),
        F.sum(
            F.when(
                F.col("chunk_id") == F.col("first_chunk"), F.col("chunk_len")
            ).otherwise(0)
        ).alias("chars_retained"),
    )


QUERIES = {
    "chunk_documents": chunk_documents,
    "bpe_pair_stats": bpe_pair_stats,
    "reservoir_topk_per_lang": reservoir_topk_per_lang,
    "chunk_dedup_stats": chunk_dedup_stats,
}

ORACLE = {
    "chunk_documents": f"""
        WITH c AS (
            SELECT doc_id, lang, text,
                   unnest(generate_series(0,
                       CAST(floor((greatest(length(text) - {CHUNK_SIZE}, 0)
                                   + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE})
                            AS INTEGER))) AS chunk_idx
            FROM documents
        )
        SELECT doc_id * 10000 + chunk_idx AS chunk_id,
               doc_id, lang,
               CAST(chunk_idx AS INTEGER) AS chunk_idx,
               CAST(chunk_idx * {CHUNK_STRIDE} AS BIGINT) AS chunk_start,
               substring(text, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})
                   AS chunk_text,
               CAST(length(substring(text, chunk_idx * {CHUNK_STRIDE} + 1,
                                     {CHUNK_SIZE})) AS INTEGER) AS chunk_len
        FROM c
    """,
    "bpe_pair_stats": f"""
        WITH words AS (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS w
            FROM documents
        ),
        pairs AS (
            SELECT w, substring(w, i, 2) AS pair
            FROM (
                SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
                FROM words WHERE length(w) >= 2
            )
        )
        SELECT pair,
               count(*) AS n_occurrences,
               count(DISTINCT w) AS n_words
        FROM pairs
        GROUP BY pair
        ORDER BY n_occurrences DESC, pair ASC
        LIMIT {TOP_PAIRS}
    """,
    "reservoir_topk_per_lang": f"""
        SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, source, n_chars
        FROM (
            SELECT lang, doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM documents
        )
        WHERE rk <= {RESERVOIR_K}
    """,
}

ORACLE["chunk_dedup_stats"] = f"""
    WITH c AS (
        SELECT doc_id, lang, text,
               unnest(generate_series(0,
                   CAST(floor((greatest(length(text) - {CHUNK_SIZE}, 0)
                               + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE})
                        AS INTEGER))) AS chunk_idx
        FROM documents
    ),
    ch AS (
        SELECT doc_id,
               doc_id * 10000 + chunk_idx AS chunk_id,
               length(substring(text, chunk_idx * {CHUNK_STRIDE} + 1,
                                {CHUNK_SIZE})) AS chunk_len,
               md5(substring(text, chunk_idx * {CHUNK_STRIDE} + 1,
                             {CHUNK_SIZE})) AS h
        FROM c
    ),
    marked AS (
        SELECT doc_id, chunk_id, chunk_len,
               min(chunk_id) OVER (PARTITION BY h) AS first_chunk
        FROM ch
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN chunk_id <> first_chunk THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           CAST(sum(CASE WHEN chunk_id = first_chunk THEN chunk_len
                         ELSE 0 END) AS BIGINT) AS chars_retained
    FROM marked GROUP BY doc_id
"""


# --- r7-staged, registered at round 8: unigram^0.75 negative-sampling table -----------
# (registered at the round-8 merge; see the module-end merge block)

NS_VOCAB = 100  # sampling table size (top tokens by frequency)
NS_FP = 1_000_000  # fixed-point scale for the smoothed weight


def negative_sampling_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table: the classic
    unigram^(3/4) smoothing (Mikolov et al. NeurIPS'13, public
    literature) over corpus token counts, emitted as an integer
    cumulative-ppm sampling table a trainer binary-searches into.

    Cross-engine exactness without pow(): c^0.75 = c / c^0.25 and
    c^0.25 = sqrt(sqrt(c)) — two chained correctly-rounded IEEE sqrts
    of an EXACT small integer (token counts are < 2^53 far past 100 TB
    of text), then ONE multiply + ONE divide + floor, the identical op
    sequence on both engines. The quantized weight
    ``floor({NS_FP} * c / sqrt(sqrt(c)))`` is bigint from there on:
    probabilities are exact integer divisions of weight sums (valid
    while {NS_FP}·c < 2^63, i.e. c < 9.2e12 occurrences — beyond any
    single token's count at 100 TB).

    Scale: one explode + one vocabulary-bounded hash-aggregate, then a
    TakeOrdered top-{NS_VOCAB}; the cumulative window runs over the
    {NS_VOCAB}-row result only (bounded by construction, never by the
    corpus)."""
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(H.tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    top = counts.orderBy(F.desc("c"), F.asc("token")).limit(NS_VOCAB)
    w = F.floor(
        F.lit(float(NS_FP)) * F.col("c") / F.sqrt(F.sqrt(F.col("c")))
    ).cast("long")
    weighted = top.select("token", "c", w.alias("w"))
    total = weighted.agg(F.sum("w").alias("total_w"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .withColumn(
            "prob_ppm",
            F.expr(f"(w * {NS_FP}) div total_w"),
        )
        .withColumn(
            "cum_ppm",
            F.expr(f"(sum(w) OVER (ORDER BY c DESC, token ASC "
                   f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                   f"* {NS_FP}) div total_w"),
        )
        .select("token", "c", "w", "prob_ppm", "cum_ppm")
    )


QUERIES["negative_sampling_unigram"] = negative_sampling_unigram

_NS_TOKS = H.TOKENS_SQL.format(text="text")

ORACLE["negative_sampling_unigram"] = f"""
        WITH counts AS (
            SELECT tok AS token, count(*) AS c
            FROM (SELECT unnest({_NS_TOKS}) AS tok FROM documents)
            GROUP BY tok
        ),
        top AS (
            SELECT token, c FROM counts
            ORDER BY c DESC, token ASC LIMIT {NS_VOCAB}
        ),
        weighted AS (
            SELECT token, c,
                   CAST(floor({float(NS_FP)} * c / sqrt(sqrt(c))) AS BIGINT)
                       AS w
            FROM top
        ),
        tot AS (SELECT sum(w) AS total_w FROM weighted)
        SELECT token, c, w,
               CAST((w * {NS_FP}) // total_w AS BIGINT) AS prob_ppm,
               CAST((sum(w) OVER (ORDER BY c DESC, token ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * {NS_FP}) // total_w AS BIGINT) AS cum_ppm
        FROM weighted CROSS JOIN tot
    """


# --- r7-staged, registered at round 8: iterative BPE merge training -------------------

N_BPE_MERGES = 6
BPE_L = "\x02"  # symbol-open sentinel (contract: never appears in tokens,
BPE_R = "\x03"  # like the multimodal ASCII guard — control chars are not
#                 vocabulary; both fuzz modes generate word-list corpora)


def _bpe_wrap(w: Column) -> Column:
    """A word's initial symbol sequence: every character wrapped as
    ``\\x02ch\\x03``."""
    return F.concat_ws(
        "",
        F.transform(
            F.split(w, ""),
            lambda ch: F.concat(F.lit(BPE_L), ch, F.lit(BPE_R)),
        ),
    )


def _bpe_merge(seq: Column, l: str, r: str) -> Column:
    """Apply the merge (l, r) to a wrapped symbol sequence: ONE literal
    left-to-right replace of the two wrapped symbols by the wrapped
    merged symbol."""
    return F.replace(
        seq,
        F.lit(BPE_L + l + BPE_R + BPE_L + r + BPE_R),
        F.lit(BPE_L + l + r + BPE_R),
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual BPE TRAINING loop (Sennrich et al. ACL'16, public
    literature) — ``bpe_pair_stats`` counts one round of pairs; this
    runs {N_BPE_MERGES} full merge iterations and emits the learned
    merge table (step, left, right, merged, weighted pair count), i.e.
    the artifact a tokenizer trainer persists.

    Distribution shape (the 100 TB story): the ONLY corpus-scale work
    is the initial token-frequency aggregate — classic BPE trains on
    the word-TYPE table (|vocabulary| rows, count-weighted), so every
    iteration is (a) a narrow per-row pair explode + one
    vocabulary-bounded aggregate, (b) a TakeOrdered top-1, (c) ONE
    driver-collected row (the chosen pair — the same O(1)-scalar loop
    discipline as ``dedup_components``), and (d) a narrow literal
    string replace applying the merge. Nothing per-document ever
    re-runs.

    Merge application is engine-portable by construction: a word's
    symbol sequence is stored as ``\\x02sym\\x03`` units, so the merge
    of (a, b) is ONE literal ``replace(seq, m(a)||m(b), m(ab))`` —
    left-to-right non-overlapping replacement IS greedy BPE merging,
    adjacent matches share no characters (the sentinel wrapping exists
    exactly for this; a bare space-joined form fails on consecutive
    pairs because the shared delimiter is consumed), and substring
    false-matches are impossible because every symbol is bracketed.
    No regex lookbehind (DuckDB's RE2 has none), no struct-accumulator
    folds (DuckDB 1.0's list_reduce hazard, see duplicate_span_scrub).
    Ties break (count DESC, left ASC, right ASC); counts are exact
    integers, so the merge sequence is bit-identical cross-engine."""
    docs = _docs(spark, sf_dir)
    wc = (
        docs.select(F.explode(H.tokens_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    # every merge step re-reads the wrapped word-type table, and the
    # pin bounds the merge chain's lineage; it is released before
    # returning, since the result holds only the collected merge rows
    table = pin(wc.select(_bpe_wrap(F.col("w")).alias("seq"), "c"))
    words, rows = table, []
    try:
        for step in range(1, N_BPE_MERGES + 1):
            syms = F.split(
                F.expr("substring(seq, 2, length(seq) - 2)"), BPE_R + BPE_L
            )
            pairs = (
                words.select("c", syms.alias("s"))
                .select(
                    "c",
                    F.explode(
                        # sequence(1, k) with k < 1 counts DOWN in Spark —
                        # guard single-symbol words (same rule as shingles_col)
                        F.expr(
                            "CASE WHEN size(s) >= 2 THEN "
                            "transform(sequence(1, size(s) - 1), "
                            "i -> struct(element_at(s, i) AS l, "
                            "element_at(s, i + 1) AS r)) "
                            "ELSE CAST(array() AS "
                            "array<struct<l: string, r: string>>) END"
                        )
                    ).alias("p"),
                )
                .select("c", "p.l", "p.r")
            )
            top = (
                pairs.groupBy("l", "r")
                .agg(F.sum("c").alias("pc"))
                .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, pc = top[0]["l"], top[0]["r"], top[0]["pc"]
            rows.append((step, l, r, l + r, pc))
            words = words.select(_bpe_merge(F.col("seq"), l, r).alias("seq"), "c")
    finally:
        unpin(table)
    schema = (
        "step int, left_sym string, right_sym string, "
        "merged_sym string, pair_count long"
    )
    return spark.createDataFrame(rows, schema)


QUERIES["bpe_train_merges"] = bpe_train_merges


def _bpe_ctes() -> str:
    """Shared CTE chain for the BPE oracles: the word-type table, the
    sentinel-wrapped sequences, and per step k the pair counts (p{{k}}),
    the chosen pair (b{{k}}), and the merged dictionary (w{{k}} — the
    word string ``w`` is carried through so the APPLY oracle can join
    counts back)."""
    toks = H.TOKENS_SQL.format(text="text")
    ctes = [
        f"wc AS (SELECT w, count(*) AS c FROM "
        f"(SELECT unnest({toks}) AS w FROM documents) GROUP BY w)",
        "w0 AS (SELECT w, array_to_string(list_transform(split(w, ''), "
        "ch -> chr(2) || ch || chr(3)), '') AS seq, c FROM wc)",
    ]
    for k in range(1, N_BPE_MERGES + 1):
        prev = f"w{k - 1}"
        ctes.append(
            f"""p{k} AS (
            SELECT l, r, sum(c) AS pc FROM (
                SELECT c, s.l AS l, s.r AS r FROM (
                    SELECT c, unnest(list_transform(
                        generate_series(1, len(sy) - 1),
                        i -> {{'l': sy[i], 'r': sy[i+1]}})) AS s
                    FROM (SELECT c, split(substring(seq, 2,
                               length(seq) - 2), chr(3) || chr(2)) AS sy
                          FROM {prev})
                )
            ) GROUP BY l, r
        )"""
        )
        ctes.append(
            f"b{k} AS (SELECT l, r, pc FROM p{k} "
            f"ORDER BY pc DESC, l ASC, r ASC LIMIT 1)"
        )
        # coalesce the scalar subqueries: if step k found no candidate
        # pair (degenerate corpus — every word already one symbol),
        # b{k} is empty and a bare scalar subquery yields NULL, making
        # replace(seq, NULL, NULL) NULL out every row. chr(2)||chr(3)
        # (an empty-symbol wrapper) can never occur in a sequence, so
        # the coalesced replace is the identity — matching the Spark
        # side, which simply stops merging when no pair remains.
        ctes.append(
            f"""w{k} AS (
            SELECT w, replace(seq,
                coalesce((SELECT chr(2) || l || chr(3) || chr(2) || r || chr(3)
                 FROM b{k}), chr(2) || chr(3)),
                coalesce((SELECT chr(2) || l || r || chr(3) FROM b{k}), ''))
                AS seq, c
            FROM {prev}
        )"""
        )
    return "WITH " + ",\n".join(ctes)


def _bpe_train_oracle_sql() -> str:
    selects = [
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, "
        f"l || r AS merged_sym, CAST(pc AS BIGINT) AS pair_count "
        f"FROM b{k}"
        for k in range(1, N_BPE_MERGES + 1)
    ]
    return _bpe_ctes() + "\n" + " UNION ALL ".join(selects)


ORACLE["bpe_train_merges"] = _bpe_train_oracle_sql()


def tokenizer_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to the corpus and report
    per-language compression — the evaluation a tokenizer team runs
    before adopting a merge list (chars per symbol is the
    bytes-per-token proxy).

    Scale shape: merges are re-derived by the ``bpe_train_merges`` loop
    (driver receives {N_BPE_MERGES} rows); the merge APPLICATION runs
    on the distinct word-TYPE dictionary only — {N_BPE_MERGES} chained
    narrow literal replaces over |vocabulary| rows — and per-language
    totals come from ONE (lang, word) aggregate joined against that
    dictionary. The corpus is scanned exactly twice (once for training
    counts, once for the (lang, word) table); no per-document merge
    work exists at any scale.

    Symbol counting is engine-trivial: each symbol is wrapped
    ``\\x02…\\x03``, so ``n_symbols = len(seq) - len(replace(seq,
    \\x02, ''))`` — an integer both engines compute identically.
    Compression is exact integer ppm: symbols·10^6 div chars."""
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train_merges(spark, sf_dir).orderBy("step").collect()
    ]
    docs = _docs(spark, sf_dir)
    # r13 (guide §2.4/§5, the pin-bounded-intermediates discipline):
    # lw feeds BOTH the word-type dictionary and the final join, so
    # the lazy form ran the tokenize+explode+groupBy corpus pass twice
    # per execution. The (lang, word) table is vocabulary-bounded —
    # pin it once; steady state is one corpus pass.
    # A/B sf0.1 0.21→0.41 / 3.6→3.5 s, sf1 0.17→1.29 / 4.4→5.3 s
    lw = pin(
        docs.select(
            "lang", F.explode(H.tokens_col(F.col("text"))).alias("w")
        )
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    dic = lw.select("w").distinct().select("w", _bpe_wrap(F.col("w")).alias("seq"))
    for l, r in merges:
        dic = dic.select("w", _bpe_merge(F.col("seq"), l, r).alias("seq"))
    nsym = (
        F.length("seq") - F.length(F.replace(F.col("seq"), F.lit(BPE_L)))
    ).cast("long")
    joined = lw.join(dic, "w").select(
        "lang",
        "c",
        F.length("w").cast("long").alias("wlen"),
        nsym.alias("nsym"),
    )
    agg = joined.groupBy("lang").agg(
        F.count("*").alias("n_word_types"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("wlen")).alias("n_chars"),
        F.sum(F.col("c") * F.col("nsym")).alias("n_symbols"),
    )
    return agg.select(
        "lang",
        "n_word_types",
        "n_tokens",
        "n_chars",
        "n_symbols",
        F.expr("(n_symbols * 1000000) div n_chars").alias("symbols_per_char_ppm"),
    )


QUERIES["tokenizer_apply_bpe"] = tokenizer_apply_bpe

ORACLE["tokenizer_apply_bpe"] = (
    _bpe_ctes()
    + f""",
    lw AS (
        SELECT lang, w, count(*) AS c FROM (
            SELECT lang, unnest({H.TOKENS_SQL.format(text="text")}) AS w
            FROM documents
        ) GROUP BY lang, w
    ),
    dic AS (
        SELECT w, length(seq) - length(replace(seq, chr(2), '')) AS nsym
        FROM w{N_BPE_MERGES}
    ),
    joined AS (
        SELECT lang, c, length(w) AS wlen, nsym
        FROM lw JOIN dic USING (w)
    )
    SELECT lang,
           count(*) AS n_word_types,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(c * wlen) AS BIGINT) AS n_chars,
           CAST(sum(c * nsym) AS BIGINT) AS n_symbols,
           CAST((CAST(sum(c * nsym) AS BIGINT) * 1000000)
                // CAST(sum(c * wlen) AS BIGINT) AS BIGINT)
               AS symbols_per_char_ppm
    FROM joined GROUP BY lang
"""
)
