"""Event-time windows + custom stateful operator over real streams.

Strategy: run each windowed plan twice — once in batch (verified shape)
and once as a Structured Streaming query over a file source with an
availableNow trigger — and assert the streaming result equals the batch
result. This is the strongest check Spark allows for watermark plans:
with a bounded source and complete/update semantics the two must agree.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_zoom_kinesis_spark.io import load_table
from go_zoom_kinesis_spark.streaming.stateful import running_checkpoint_stream
from go_zoom_kinesis_spark.streaming.stateful_v2 import HAS_TWS_DEPS
from go_zoom_kinesis_spark.streaming.windows import (
    session_metrics,
    sliding_metrics,
    tumbling_metrics,
)


@pytest.fixture()
def events_batch(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@pytest.fixture()
def events_stream(spark, tmp_path, events_batch):
    src = str(tmp_path / "ev_src")
    events_batch.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src)


def _run_complete(query_df, tmp_path, name):
    q = (
        query_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    return name


def _rows(spark, df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, tmp_path, events_batch, events_stream):
    batch = tumbling_metrics(events_batch)
    name = _run_complete(tumbling_metrics(events_stream), tmp_path, "tumbling_t")
    got = spark.sql(f"SELECT * FROM {name}")
    assert _rows(spark, got) == _rows(spark, batch)


def test_sliding_stream_equals_batch(spark, tmp_path, events_batch, events_stream):
    batch = sliding_metrics(events_batch)
    name = _run_complete(sliding_metrics(events_stream), tmp_path, "sliding_t")
    got = spark.sql(f"SELECT * FROM {name}")
    assert _rows(spark, got) == _rows(spark, batch)


def test_session_stream_equals_batch(spark, tmp_path, events_batch, events_stream):
    """The same session_window plan must produce identical sessions in
    batch and streaming (r6 verdict item 7: session windows were the
    one window family without this pin)."""
    batch = session_metrics(events_batch)
    name = _run_complete(session_metrics(events_stream), tmp_path, "session_eq_t")
    got = spark.sql(f"SELECT * FROM {name}")
    assert _rows(spark, got) == _rows(spark, batch)


def test_session_append_watermark_finalizes_and_evicts(
    spark, tmp_path, events_batch, events_stream
):
    """Append-mode session windows only emit once the watermark passes
    a session's end — the state-eviction contract (the Spark analog of
    the reference's idle-window eviction, src/monitoring/metrics.rs:
    357-360): availableNow's final no-data micro-batch advances the
    watermark to max(ts) − 4h, so the sink must hold exactly the batch
    sessions closed by then, with the open tail withheld in (bounded)
    state."""
    import datetime

    q = (
        session_metrics(events_stream)
        .writeStream.format("memory")
        .queryName("session_append_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_session_append"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    got = spark.sql("SELECT * FROM session_append_t")

    max_ts = events_batch.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(hours=4)
    batch = session_metrics(events_batch)
    closed = batch.filter(F.col("session_end") <= F.lit(wm))
    assert _rows(spark, got) == _rows(spark, closed)
    # the eviction actually bites: something was emitted AND the open
    # tail (sessions the watermark hasn't passed) stayed out of the sink
    assert 0 < got.count() < batch.count()
    # state-store telemetry agrees: finalized sessions were REMOVED
    # from the store, not retained forever
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed > 0


def test_session_stream_counts(spark, tmp_path, events_batch, events_stream):
    """session_window in streaming must partition every event into
    exactly one session per user (counts preserved)."""
    name = _run_complete(session_metrics(events_stream), tmp_path, "session_t")
    got = spark.sql(f"SELECT * FROM {name}")
    assert got.agg(F.sum("n_events")).collect()[0][0] == events_batch.count()
    # sessions for one user never overlap
    sess = got.localCheckpoint()
    other = sess.select(*[F.col(c).alias(f"b_{c}") for c in sess.columns])
    overlaps = sess.join(
        other,
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("session_start") < F.col("b_session_start"))
        & (F.col("b_session_start") < F.col("session_end")),
    ).count()
    assert overlaps == 0


def test_running_checkpoint_state(spark, tmp_path, events_batch, events_stream):
    """applyInPandasWithState: final per-shard state must equal the
    batch groupBy(max(event_id), count(*)) fold."""
    out = running_checkpoint_stream(events_stream)
    q = (
        out.writeStream.format("memory")
        .queryName("ckpt_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_state"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    # update mode may emit once per shard per batch — keep the last row
    got = spark.sql(
        """
        SELECT shard_id, checkpoint_seq, n_processed FROM (
            SELECT *, row_number() OVER (PARTITION BY shard_id
                                         ORDER BY n_batches DESC) rk
            FROM ckpt_state
        ) WHERE rk = 1
        """
    )
    expected = (
        events_batch.withColumn("shard_id", F.col("user_id") % 8)
        .groupBy("shard_id")
        .agg(
            F.max("event_id").alias("checkpoint_seq"),
            F.count("*").alias("n_processed"),
        )
    )
    assert _rows(spark, got) == _rows(spark, expected)


def test_stream_stream_join_equals_batch(spark, tmp_path, events_batch, events_stream):
    from go_zoom_kinesis_spark.streaming.windows import click_view_attribution

    views_b = events_batch.filter(F.col("event_type") == "view")
    clicks_b = events_batch.filter(F.col("event_type") == "click")
    batch = click_view_attribution(views_b, clicks_b)

    views_s = events_stream.filter(F.col("event_type") == "view")
    clicks_s = events_stream.filter(F.col("event_type") == "click")
    joined = click_view_attribution(views_s, clicks_s)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ssjoin"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    got = spark.sql("SELECT * FROM ss_join_t")
    assert _rows(spark, got) == _rows(spark, batch)
    assert batch.count() > 0


def test_stream_static_enrichment_equals_batch(spark, tmp_path, events_batch, events_stream):
    from go_zoom_kinesis_spark.streaming.windows import enrich_with_dimension

    dim = (
        events_batch.groupBy("user_id")
        .agg(F.count("*").alias("user_events"))
    )
    batch = enrich_with_dimension(
        events_batch.select("event_id", "user_id"), dim, "user_id"
    )
    stream = enrich_with_dimension(
        events_stream.select("event_id", "user_id"), dim, "user_id"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("enrich_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    got = spark.sql("SELECT * FROM enrich_t")
    assert _rows(spark, got) == _rows(spark, batch)
    # every stream row survives the left enrichment
    assert got.count() == events_batch.count()


def test_stream_stream_left_outer_flushes_on_watermark(spark, tmp_path, events_batch):
    """Left-outer stream-stream join: unmatched views must emit
    null-padded ONLY after the watermark passes their attribution
    horizon. A staged two-file source (early data, then a far-future
    watermark-pusher pair) forces a second microbatch whose watermark
    advance flushes every early unmatched view; the streamed result
    must then equal the batch left-outer join over the early data."""
    from pyspark.sql import types as T

    from go_zoom_kinesis_spark.streaming.windows import click_view_attribution

    early = events_batch.filter(
        F.col("event_type").isin("view", "click")
    ).select("event_id", "ts", "user_id", "event_type")
    src = str(tmp_path / "staged_src")
    early.coalesce(1).write.mode("overwrite").parquet(src)
    # stage 2: one far-future view + click for a user that matches
    # nothing (-1) — advances BOTH branches' watermarks past every
    # early horizon without joining anything
    far = events_batch.agg(
        (F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts")
    ).collect()[0]["ts"]
    pusher = spark.createDataFrame(
        [(10_000_001, far, -1, "view"), (10_000_002, far, -1, "click")],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
            ]
        ),
    )
    pusher.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    joined = click_view_attribution(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
        join_type="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_louter_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_louter"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    got = spark.sql("SELECT * FROM ss_louter_t").filter(F.col("user_id") >= 0)

    batch = click_view_attribution(
        early.filter(F.col("event_type") == "view"),
        early.filter(F.col("event_type") == "click"),
        join_type="left_outer",
    )
    # repr-sort: null-padded rows contain None, which plain tuple
    # ordering cannot compare
    def rows_n(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    assert rows_n(got) == rows_n(batch)
    n_null = got.filter(F.col("click_id").isNull()).count()
    assert n_null > 0, "expected unmatched views to flush null-padded"


def test_stream_stream_full_outer_flushes_both_sides(spark, tmp_path, events_batch):
    """Full-outer stream-stream join — the last cell of the join
    matrix: unmatched VIEWS null-pad on the click side AND unmatched
    CLICKS null-pad on the view side, each emitted only after the
    watermark passes its buffer horizon. Same staged two-file source
    as the left-outer test (early data, then a far-future
    watermark-pusher pair); after the flush the streamed result must
    equal the batch full-outer join over the early data and contain
    null rows on BOTH sides."""
    from pyspark.sql import types as T

    from go_zoom_kinesis_spark.streaming.windows import click_view_attribution

    early = events_batch.filter(
        F.col("event_type").isin("view", "click")
    ).select("event_id", "ts", "user_id", "event_type")
    src = str(tmp_path / "staged_src_fo")
    early.coalesce(1).write.mode("overwrite").parquet(src)
    far = events_batch.agg(
        (F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts")
    ).collect()[0]["ts"]
    pusher = spark.createDataFrame(
        [(10_000_001, far, -1, "view"), (10_000_002, far, -1, "click")],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
            ]
        ),
    )
    pusher.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    joined = click_view_attribution(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
        join_type="full_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_fouter_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_fouter"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    got = spark.sql("SELECT * FROM ss_fouter_t").filter(F.col("user_id") >= 0)

    batch = click_view_attribution(
        early.filter(F.col("event_type") == "view"),
        early.filter(F.col("event_type") == "click"),
        join_type="full_outer",
    )

    def rows_n(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    assert rows_n(got) == rows_n(batch)
    n_unmatched_views = got.filter(F.col("click_id").isNull()).count()
    n_unmatched_clicks = got.filter(F.col("view_id").isNull()).count()
    assert n_unmatched_views > 0, "expected null-padded unmatched views"
    assert n_unmatched_clicks > 0, "expected null-padded unmatched clicks"


def test_stream_stream_inner_unchanged_by_outer_param(spark, sf_dir):
    """Regression guard: the default join_type stays inner and emits
    no null-padded rows."""
    from go_zoom_kinesis_spark.streaming.windows import click_view_attribution

    ev = load_table(spark, sf_dir, "events")
    out = click_view_attribution(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )
    assert out.filter(F.col("click_id").isNull()).count() == 0
    assert out.count() > 0


def test_tumbling_stream_rocksdb_state_store(
    spark, tmp_path, events_batch, events_stream
):
    """Production state-store posture: the same windowed aggregation
    must produce identical results under the RocksDB state store —
    the provider a real deployment uses so streaming state (windows,
    dedup sets, join buffers) spills to local SSD instead of being
    bounded by executor heap. Results must match both the batch
    answer and the default (HDFS-backed in-memory) provider's."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(provider_conf, None)
    spark.conf.set(provider_conf, rocksdb)
    try:
        name = _run_complete(
            tumbling_metrics(events_stream), tmp_path, "tumbling_rocks_t"
        )
        got = spark.sql(f"SELECT * FROM {name}")
        batch = tumbling_metrics(events_batch)
        assert _rows(spark, got) == _rows(spark, batch)
    finally:
        if old is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, old)


def test_pit_enrich_stream_equals_batch_pit_join(
    spark, sf_dir, tmp_path, events_batch, events_stream
):
    """The streaming point-in-time enrichment must agree with the
    batch PIT operator on every fact event — interval containment
    against SCD-2 versions and union-then-LOCF are two routes to the
    same as-of semantics, including the several-changes-on-one-
    timestamp tie (zero-length intervals lose, last change wins)."""
    from go_zoom_kinesis_spark.operators.timeseries import scd2_user_status
    from go_zoom_kinesis_spark.operators.training import (
        PIT_FACT_MOD,
        pit_join_user_status,
    )
    from go_zoom_kinesis_spark.streaming.windows import pit_enrich_stream

    dim = scd2_user_status(spark, sf_dir)
    facts_stream = events_stream.filter(
        F.col("event_id") % PIT_FACT_MOD == 0
    ).select("event_id", "user_id", "ts", "event_type")
    enriched = pit_enrich_stream(facts_stream, dim)
    name = "pit_enrich_t"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    got = {
        r["event_id"]: r["pit_status"]
        for r in spark.sql(f"SELECT event_id, pit_status FROM {name}").collect()
    }
    expect = {
        r["event_id"]: r["pit_status"]
        for r in pit_join_user_status(spark, sf_dir).collect()
    }
    assert got == expect


def test_stream_stream_right_outer_mirrors_left(spark, sf_dir):
    """right_outer is the mirror cell: in batch mode, right-outer
    (views, clicks) must equal left-outer (clicks, views) modulo the
    fixed output column roles — pinned so the join_type pass-through
    covers the full matrix."""
    from go_zoom_kinesis_spark.streaming.windows import click_view_attribution

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    ro = click_view_attribution(
        views, clicks, join_type="right_outer"
    )
    inner = click_view_attribution(views, clicks)
    # right-outer = inner plus unmatched CLICKS null-padded on the view side
    assert ro.filter(F.col("view_id").isNull()).count() == (
        ro.count() - inner.count()
    )
    assert ro.filter(F.col("click_id").isNull()).count() == 0
    got_inner = {
        (r["click_id"], r["view_id"])
        for r in ro.filter(F.col("view_id").isNotNull()).collect()
    }
    exp_inner = {(r["click_id"], r["view_id"]) for r in inner.collect()}
    assert got_inner == exp_inner


@pytest.mark.skipif(
    not HAS_TWS_DEPS,
    reason="transformWithState worker needs google.protobuf (absent here)",
)
def test_idle_shard_eviction_timers(spark, tmp_path):
    """Event-time TIMER surface: shards active in batch 1 but silent
    while the watermark advances past their idle horizon must emit a
    terminal eviction row (evicted=1) and lose their state; the shard
    that keeps talking must NOT be evicted. Mirrors the reference's
    2x-window idle-shard metrics eviction as observable data."""
    import datetime as dt

    from pyspark.sql import types as T

    from go_zoom_kinesis_spark.streaming.stateful_v2 import (
        idle_eviction_stream_v2,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    src = str(tmp_path / "idle_src")
    # batch 1: one event on every shard (user_id 0..7 -> shard 0..7)
    spark.createDataFrame(
        [(i + 1, t0, i) for i in range(8)], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    # batch 2: only shard 0 speaks again, 2h later (> 1h idle horizon)
    spark.createDataFrame(
        [(100, t0 + dt.timedelta(hours=2), 8)], schema  # user 8 -> shard 0
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        idle_eviction_stream_v2(stream)
        .writeStream.format("memory")
        .queryName("idle_evict_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_idle"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    rows = spark.sql("SELECT * FROM idle_evict_t").collect()

    evicted = {r["shard_id"] for r in rows if r["evicted"] == 1}
    live = {r["shard_id"] for r in rows if r["evicted"] == 0}
    assert live == set(range(8))  # every shard produced live updates
    assert evicted == set(range(1, 8)), f"evicted={evicted}"
    # eviction rows carry the final pre-eviction counts
    for r in rows:
        if r["evicted"] == 1:
            assert r["n_events"] == 1
    # the surviving shard's state reflects both its events
    s0 = [r for r in rows if r["shard_id"] == 0 and r["evicted"] == 0]
    assert max(r["n_events"] for r in s0) == 2


@pytest.mark.skipif(
    not HAS_TWS_DEPS,
    reason="transformWithState worker needs google.protobuf (absent here)",
)
def test_shard_type_counts_map_list_state(spark, tmp_path, events_batch, events_stream):
    """MapState + ListState surfaces: final per-(shard, type) counts
    must equal the batch groupBy fold, and the final top-K id list per
    shard must equal the batch top-K."""
    from go_zoom_kinesis_spark.streaming.stateful_v2 import (
        TOP_IDS_K,
        shard_type_counts_stream_v2,
    )

    out = shard_type_counts_stream_v2(events_stream)
    q = (
        out.writeStream.format("memory")
        .queryName("type_counts_v2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_tc_v2"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    # last emission per (shard, type): highest running count wins
    got = spark.sql(
        """
        SELECT shard_id, event_type, n_events, top_ids FROM (
            SELECT *, row_number() OVER (PARTITION BY shard_id, event_type
                                         ORDER BY n_events DESC) rk
            FROM type_counts_v2
        ) WHERE rk = 1
        """
    ).collect()
    base = events_batch.withColumn("shard_id", F.col("user_id") % 8)
    exp_counts = {
        (r["shard_id"], r["event_type"]): r["n"]
        for r in base.groupBy("shard_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got_counts = {(r["shard_id"], r["event_type"]): r["n_events"] for r in got}
    assert got_counts == exp_counts
    exp_top = {
        r["shard_id"]: ",".join(
            str(i) for i in sorted((x["event_id"] for x in rows_), reverse=True)[:TOP_IDS_K]
        )
        for r_sh in base.select("shard_id").distinct().collect()
        for r in [r_sh]
        for rows_ in [base.filter(F.col("shard_id") == r["shard_id"]).select("event_id").collect()]
    }
    # every shard's FINAL top_ids (from its last emission) matches batch
    final_top = {}
    for r in sorted(got, key=lambda r: r["n_events"]):
        final_top[r["shard_id"]] = r["top_ids"]
    # rows with the max running count carry the final list; recompute
    # strictly: take top_ids from the row with max n_events per shard
    by_shard: dict = {}
    for r in got:
        cur = by_shard.get(r["shard_id"])
        if cur is None or r["n_events"] > cur[0]:
            by_shard[r["shard_id"]] = (r["n_events"], r["top_ids"])
    for sh, (_, top) in by_shard.items():
        assert top == exp_top[sh], f"shard {sh}: {top} != {exp_top[sh]}"
