"""Merged query/oracle registry for the driver contract.

Every operator module contributes ``QUERIES`` (name → callable(spark,
sf_dir) → DataFrame) and ``ORACLE`` (name → DuckDB SQL with identical
output column names). ``__spark_entry__`` re-exports these.

Each callable is wrapped to pin runtime session confs (UTC timezone,
AQE) on the driver-provided SparkSession before the plan is built, so
timestamp values hash identically to the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .session import configure_session


def _modules():
    from .operators import (
        behavior,
        chunking,
        curation,
        dedup,
        graph,
        layout,
        multimodal,
        pipeline,
        privacy,
        quality,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        sampling,
        search,
        similarity,
        simjoin,
        skew,
        stats,
        streaming_analogs,
        text,
        timeseries,
        training,
        udf_surface,
    )

    return [
        behavior,
        chunking,
        graph,
        layout,
        streaming_analogs,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        dedup,
        sampling,
        similarity,
        simjoin,
        text,
        multimodal,
        skew,
        udf_surface,
        pipeline,
        timeseries,
        privacy,
        search,
        curation,
        quality,
        training,
        stats,
    ]


# The driver's correctness gate records verdicts for the first 50
# registry entries per round (observed in CORRECTNESS_r01/r02), so
# ordering decides which queries earn verdict rows. Ordering is
# three-tiered and self-maintaining:
#   1. _PRIORITY names that still lack a green verdict (curated: the
#      families a reference user would miss first),
#   2. every other query lacking a green verdict, in module order,
#   3. already-verified queries, in module order.
# Green rows are read from the committed CORRECTNESS_r*.json files at
# import time, so each driver round automatically rotates fresh
# unverified queries into the window with no manual edit.
_PRIORITY: tuple[str, ...] = (
    # LLM-data-pipeline suite (never driver-checked through round 2)
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_components",
    "similarity_topk",
    "kmeans_update_step",
    "similarity_lsh_buckets",
    "similarity_ivf_topk",
    "dedup_embedding_nearest",
    "text_language_id",
    "text_repetition_stats",
    "text_quality",
    "text_token_stats",
    "text_regex_tokens",
    "text_fingerprint",
    "text_tfidf_topterms",
    "multimodal_meta",
    "multimodal_modality_stats",
    "multimodal_features",
    "multimodal_frame_sample",
    "sample_hash_events",
    "sample_stratified_documents",
    "skew_salted_agg",
    "skew_salted_join",
    "pack_sequences",
    "corpus_mix_sample",
    "decontaminate_ngram",
    "pipeline_funnel",
    "pii_scrub",
    "pii_summary",
    "search_inverted_postings",
    "search_bm25_topk",
    "search_heavy_hitters",
    "fuzzy_match_parts",
    "udaf_weighted_qty",
    "map_functions",
    "sql_api_nation_revenue",
    # red in r01 / never re-checked since the fix
    "histogram_values",
    "session_window_events",
    "sliding_window_counts",
    # time-series family added round 2, no verdict yet
    "window_time_range_sum",
    "ts_rollup_multires",
    "ts_gapfill_hours",
    "ts_ewma_user",
    "ts_zscore_outliers",
    "scd2_user_status",
    "merge_upsert_state",
    "robust_outliers_mad",
    "incremental_agg_merge",
    # round-5 pin (VERDICT r4 task 2): the r3 curation/quality cohort
    # plus the r4b/4c additions slipped the driver window twice because
    # new modules registered earlier in module order. Pinning them here
    # makes tier-1 ordering immune to any future registration order —
    # they hold the head of the window until driver-green.
    "countmin_heavy_hitters",
    "profile_columns",
    "validate_constraints",
    "chi_square_lang_source",
    "distribution_drift",
    "curriculum_quantile_bins",
    "tokenizer_vocab_coverage",
    "split_leakage_audit",
    "ngram_lm_score",
    "embedding_quantize_error",
    "trending_momentum",
    "status_dwell_time",
    "erasure_impact_audit",
    "hybrid_search_rrf",
    "quality_model_filter",
    "winsorize_values",
)


def _verified_rounds() -> dict[str, int]:
    """name → most recent round whose driver verdict was fully green."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rounds = json.load(f)
        except (OSError, ValueError):
            continue
        for name, v in rounds.items():
            if (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green


def _verified_names() -> frozenset[str]:
    """Names with a fully-green driver verdict in any recorded round."""
    return frozenset(_verified_rounds())


def _prioritize(entries: dict, strict: bool = True):
    missing = [n for n in _PRIORITY if n not in entries]
    if missing and strict:
        raise ValueError(f"_PRIORITY names not registered: {missing}")
    green = _verified_rounds()
    tier1 = [n for n in _PRIORITY if n not in green and n in entries]
    tier2 = [n for n in entries if n not in green and n not in tier1]
    # Tier 3: already-green queries fill the remaining verdict-window
    # slots. Order them least-recently-verified first so every green
    # query periodically rotates back under the driver's re-check —
    # a regression in a long-green query (e.g. from a shared helper
    # edit) ages back into the window instead of staying invisible.
    module_pos = {n: i for i, n in enumerate(entries)}
    tier3 = sorted(
        (n for n in entries if n in green),
        key=lambda n: (green[n], module_pos[n]),
    )
    ordered = {n: entries[n] for n in tier1}
    ordered.update((n, entries[n]) for n in tier2)
    ordered.update((n, entries[n]) for n in tier3)
    return ordered


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        configure_session(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in out:
                raise ValueError(f"duplicate query name {name!r}")
            out[name] = _wrap(fn)
    return _prioritize(out)


def all_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        for name, sql in getattr(mod, "ORACLE", {}).items():
            out[name] = sql
    # order must mirror all_queries() exactly for the driver's paired
    # iteration: derive the ordering from the QUERIES registration
    # sequence, then subset to names that have an oracle
    qnames = {
        name: None
        for mod in _modules()
        for name in getattr(mod, "QUERIES", {})
    }
    return {n: out[n] for n in _prioritize(qnames) if n in out}

