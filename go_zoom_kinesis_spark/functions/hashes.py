"""Portable deterministic hashing & tokenization.

Every primitive here is defined TWICE from the same constants — once as
a Spark Column expression (higher-order functions, JVM codegen, no
Python UDFs) and once as a DuckDB SQL fragment — so LSH buckets,
minhash signatures, simhash bits and fingerprints are bit-identical
between the engine and the correctness oracle.

In a production deployment the string hash would be ``xxhash64`` (one
JVM intrinsic call); the char-fold polynomial hash used here exists so
an independent engine can replicate it exactly. Swap via ``hash_col``.

All arithmetic stays in int64: P = 2^31 - 1 bounds every intermediate
product below 2^63.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)

# 16 affine hash families (a*h + b) % P for minhash / simhash
A = [
    769, 1543, 3079, 6151, 12289, 24593, 49157, 98317,
    196613, 393241, 786433, 1572869, 3145739, 6291469, 12582917, 25165843,
]
B = [7, 17, 29, 41, 53, 67, 79, 97, 107, 127, 139, 157, 167, 181, 193, 211]

NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS


# --- Spark side ---------------------------------------------------------


def tokens_col(text: Column) -> Column:
    """Whitespace tokens, lowercased, empties dropped."""
    return F.filter(F.split(F.lower(text), " "), lambda x: x != "")


def shingles_col(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined)."""
    joined = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    # sequence(1, k) with k < 1 counts DOWN in Spark — guard short docs
    return F.array_distinct(
        F.when(F.size(toks) >= n, joined).otherwise(F.array().cast("array<string>"))
    )


def char_hash_col(s: Column) -> Column:
    """Polynomial char fold: h = fold((acc*31 + ascii(c)) % P) — the
    portable stand-in for xxhash64 (sequential fold ⇒ deterministic)."""
    return F.aggregate(
        F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % P,
    )


def affine_col(h: Column, i: int) -> Column:
    return (h * A[i] + B[i]) % P


def shingle_hashes_col(text: Column) -> Column:
    """Distinct word-3-gram shingle hashes of ``text``: array<long>,
    empty for docs with fewer than 3 tokens. Shingling, hashing and
    dedup all run inside one projection (no explode, no shuffle)."""
    return F.array_distinct(F.transform(shingles_col(tokens_col(text)), char_hash_col))


def minhash_bands(df: DataFrame, hs: str) -> DataFrame:
    """Banded MinHash signatures of the shingle-hash array column
    ``hs``: (``df``'s columns except ``hs``) + (band_idx, band_key),
    one row per band; rows with an empty ``hs`` are dropped. The
    signature comes straight from the array — ``array_min(transform)``
    per hash family, zero shuffles (vs explode + 16-way groupBy-min);
    bands are a ``stack`` (generator, no shuffle either). Pure per-row
    codegen, so it serves batch and streaming frames alike."""

    def _affine(i: int):
        # single-arg lambda: F.transform feeds the index to 2-arg lambdas
        return lambda h: affine_col(h, i)

    sig = df.filter(F.size(hs) > 0).select(
        "*",
        *[
            F.array_min(F.transform(hs, _affine(i))).alias(f"mh{i}")
            for i in range(NUM_HASHES)
        ],
    )
    bands = ", ".join(
        f"{b}, concat_ws('-', "
        + ",".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ")"
        for b in range(NUM_BANDS)
    )
    mh = ",".join(f"mh{i}" for i in range(NUM_HASHES))
    return sig.selectExpr(
        f"* except({hs}, {mh})",
        f"stack({NUM_BANDS}, {bands}) as (band_idx, band_key)",
    )


def horner_windows_col(th: Column, n: int) -> Column:
    """Horner hash of every length-``n`` sliding window over a hash
    array: out[i] = fold((acc*31 + th[i+j]) % P, j = 0..n-1) — the
    span/k-gram hash used by the exact-substring and winnowing
    operators. Computed as a zip_with chain over ``n`` shifted slices
    (O(n) whole-array passes per row) rather than a per-position
    slice+aggregate lambda (which allocates an (n-1)-element slice and
    runs an interpreted fold at EVERY position — A/B timings in
    SCALE.md's fifth-decade table). The mod runs at
    every Horner step, so values are bit-identical to the fold form and
    to the oracle's ``list_reduce`` SQL. Empty-guarded for docs shorter
    than ``n`` tokens.

    Note for callers: the returned expression references ``th``
    ``n``+1 times, which also keeps CollapseProject from inlining the
    (expensive) token-hash transform into the consuming projection —
    the no-CSE hazard ``duplicate_span_scrub`` documents."""
    m = F.size(th) - (n - 1)
    acc = F.slice(th, 1, m)
    for d in range(1, n):
        acc = F.zip_with(
            acc, F.slice(th, 1 + d, m), lambda a, b: (a * 31 + b) % P
        )
    return F.when(F.size(th) >= n, acc).otherwise(
        F.array().cast("array<long>")
    )


# --- DuckDB SQL side (identical formulas) -------------------------------

TOKENS_SQL = "list_filter(split(lower({text}), ' '), x -> x <> '')"

SHINGLES_SQL = (
    "list_distinct(list_transform(generate_series(1, len({toks}) - 2), "
    "i -> concat({toks}[i], ' ', {toks}[i+1], ' ', {toks}[i+2])))"
)

CHAR_HASH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 2147483647)"
)


def affine_sql(h: str, i: int) -> str:
    return f"(({h}) * {A[i]} + {B[i]}) % {P}"
