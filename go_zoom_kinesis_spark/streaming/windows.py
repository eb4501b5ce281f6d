"""Event-time windowed aggregation for streams — the capability the
reference lacks entirely (SURVEY.md §2.2 "watermarks / event-time
windows": the reference exposes ``approximate_arrival_timestamp``,
src/processor.rs:241-245, but never windows on it; its metrics windows
are processing-time ticks, src/monitoring/metrics.rs:96-112).

These builders work on BOTH batch and streaming DataFrames — the same
plan verified against the DuckDB oracle in batch runs unchanged as a
Structured Streaming query with watermark-driven state eviction (the
Spark analog of the reference's 2×-window idle-shard eviction,
src/monitoring/metrics.rs:357-360). Every builder applies its
watermark unconditionally: on a batch frame the optimizer drops the
``EventTimeWatermark`` node, so batch rows are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_SHARDS = 8  # FIXTURES.md §B: shard_id = user_id % N_SHARDS


def with_shard(df: DataFrame) -> DataFrame:
    return df.withColumn("shard_id", F.col("user_id") % N_SHARDS)


def tumbling_metrics(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-shard tumbling-window metrics (SURVEY §2.1 A2/A3 on event
    time). On a stream the watermark bounds state: windows older
    than (max event time − watermark) are finalized and evicted."""
    return (
        with_shard(events)
        .withWatermark("ts", watermark)
        .groupBy("shard_id", F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.max("event_id").alias("checkpoint_seq"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            "shard_id",
            F.col("w.start").alias("window_start"),
            "n_events",
            "checkpoint_seq",
            "avg_value",
        )
    )


def sliding_metrics(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-shard sliding-window counts; each event contributes to
    window/slide buckets."""
    return (
        with_shard(events)
        .withWatermark("ts", watermark)
        .groupBy("shard_id", F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "shard_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_metrics(
    events: DataFrame,
    gap: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Per-user session windows with a merge gap — Structured
    Streaming's session_window; closes (and evicts state for) a session
    once the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "first_event_id",
        )
    )


ATTRIBUTION_WINDOW = "30 minutes"


def click_view_attribution(
    views: DataFrame,
    clicks: DataFrame,
    watermark: str = "1 hour",
    join_type: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream inner join — the Structured Streaming
    operator class the rest of the streaming layer doesn't exercise:
    attribute each click to every view by the same user in the
    preceding ATTRIBUTION_WINDOW.

    Both sides carry a watermark and the join condition bounds the
    event-time distance, so Spark can evict buffered state once the
    watermark passes a row's attribution horizon — without the bound
    the state would grow monotonically. The equality join key
    (user_id) keeps the exchange hash-partitioned; at 100 TB the
    per-key buffered window is (user activity × 30 min), independent
    of stream length.

    ``join_type="left_outer"`` adds the never-clicked views: Spark
    holds an unmatched view in state until the watermark passes its
    attribution horizon, THEN emits it null-padded — so outer results
    trail the watermark rather than the data, and a stalled stream
    delays them (`tests/test_streaming_windows.py` pins the flush
    against a staged watermark advance). ``join_type="full_outer"``
    completes the matrix (right_outer is the mirror): unmatched rows
    from BOTH buffers null-pad on watermark expiry — both sides carry
    a watermark and the interval condition bounds each buffer, which
    is exactly what Spark requires to run outer stream-stream joins
    with finite state; the full-outer flush of both null sides is
    pinned batch==stream in the same test file.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("v_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("c_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}"))
    )
    return v.join(c, cond, join_type).select(
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id"),
        "click_id",
        "view_id",
        "c_ts",
        "v_ts",
    )


def enrich_with_dimension(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: list[str] | None = None,
) -> DataFrame:
    """Stream-static join — the standard enrichment pattern: each
    micro-batch joins against the (re-read) static dimension with no
    streaming state at all. Spark broadcasts the dim side per batch
    when it fits, so at 100 TB of stream the cost per trigger is one
    broadcast of the catalog-sized table; slowly-changing dims are
    picked up on the next trigger because the static side is re-planned
    per micro-batch."""
    from pyspark.sql import functions as F

    d = dim if dim_cols is None else dim.select(on, *dim_cols)
    return stream.join(F.broadcast(d), on, "left")


def pit_enrich_stream(
    stream: DataFrame,
    scd2_dim: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Point-in-time stream enrichment — the streaming twin of the
    batch ``operators/training.py::pit_join_user_status``: each
    incoming event picks up the dimension attribute that was valid AT
    its event time from a static SCD-2 interval table
    (``valid_from ≤ ts`` and ``ts < valid_to`` with open current
    intervals), never a later version. This is the leakage-free
    feature lookup an online feature store serves; half-open intervals
    make zero-length versions (several changes on one timestamp)
    resolve to the LAST change, matching the batch operator's
    tie-break exactly (pinned in tests/test_streaming_windows.py).

    Plan: stream-static equi-join on the key with the interval
    predicate as a residual — no streaming state at all (the SCD-2
    side is static per micro-batch and broadcasts when it fits), so
    unlike a stream-stream as-of join there is no watermark or buffer
    to size. Dimension updates are picked up at the next trigger
    because the static side is re-planned per micro-batch.
    """
    from pyspark.sql import functions as F

    d = scd2_dim.select(
        F.col(key).alias("__k"),
        F.col("status").alias("pit_status"),
        "valid_from",
        "valid_to",
    )
    cond = (
        (stream[key] == d["__k"])
        & (stream[ts_col] >= d["valid_from"])
        & (d["valid_to"].isNull() | (stream[ts_col] < d["valid_to"]))
    )
    # drop the dimension-side columns BY REFERENCE — a by-name drop
    # would also strip a valid_from/valid_to the stream itself carries
    return stream.join(F.broadcast(d), cond, "left").drop(
        d["__k"], d["valid_from"], d["valid_to"]
    )
