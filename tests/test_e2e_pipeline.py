"""End-to-end composed pipeline parity (r6 verdict item 8): ONE loop
chaining every delivery-layer component the suite verifies pairwise —

    gzk_stream DataSource  →  StreamProcessor (soft/hard retries +
    before-checkpoint validation barrier)  →  gzk_checkpoint_sink
    two-phase commit (via commit_batch)  →  durable KV checkpoint
    store  →  statestore readback (state_inspect)

— asserting at the end that FOUR independent records of the run agree:
the sink manifest fold, the durable per-shard checkpoints, the
applyInPandasWithState state store, and a direct batch fold of the
source snapshot. Includes a mid-run checkpoint rollback (the Spark
commit log loses its last entry, the micro-batch replays with the same
batch_id) which must not duplicate sink output or regress checkpoints.

Reference shape: the stress/integration suite at
/root/reference/src/tests/test_suite.rs:707-815 (full consumer loop
with induced failures and checkpoint verification).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from go_zoom_kinesis_spark.sources import gzk_datasource, gzk_sink
from go_zoom_kinesis_spark.streaming.backoff import ExponentialBackoff
from go_zoom_kinesis_spark.streaming.checkpoint import JsonFileCheckpointStore
from go_zoom_kinesis_spark.streaming.processor import (
    ProcessorConfig,
    SoftValidationError,
    StreamProcessor,
)

SHARDS = 4
PER_SHARD_P1 = 60  # phase 1/2 stream tip
PER_SHARD_P3 = 90  # phase 3: the stream grew
HARD_MOD = 50  # payload_hash % 50 == 0 → hard failure (quarantine)
SOFT_MOD = 17  # sequence % 17 == 0 fails once, succeeds on retry


def _classify(df):
    return df.withColumn(
        "outcome",
        F.when(F.col("payload_hash") % HARD_MOD == 0, F.lit("hard"))
        .when(
            (F.col("sequence_number") % SOFT_MOD == 0) & (F.col("attempt") < 1),
            F.lit("soft"),
        )
        .otherwise(F.lit("success")),
    )


def _source(reader, per_shard):
    return (
        reader.option("shards", SHARDS)
        .option("records_per_shard", per_shard)
        # availableNow snapshots latestOffset once, so the limit must
        # cover the tip; multi-batch pacing is pinned in
        # test_datasource.py
        .option("batch_limit", per_shard)
        .load()
    )


def _expected_successes(snapshot):
    """The batch fold: every record except hard failures (soft rows
    succeed on retry by construction)."""
    return snapshot.filter(F.col("payload_hash") % HARD_MOD != 0)


def _run_processor(spark, tmp_path, per_shard, validation_hook=None):
    gzk_datasource.register(spark)
    store = JsonFileCheckpointStore(str(tmp_path / "kv_store"))
    sink_path = str(tmp_path / "sink")
    cfg = ProcessorConfig(
        checkpoint_location=str(tmp_path / "spark_ckpt"),
        total_timeout=180.0,
        backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
    )
    proc = StreamProcessor(
        spark,
        _classify,
        store,
        cfg,
        before_checkpoint=validation_hook,
        sink=lambda df, epoch: gzk_sink.commit_batch(df, sink_path, epoch),
    )
    stream = _source(spark.readStream.format("gzk_stream"), per_shard)
    snapshot = _source(spark.read.format("gzk_stream"), per_shard)
    q = proc.run_stream(stream, source_snapshot=snapshot)
    assert proc.await_with_timeout(q)
    return store, sink_path, snapshot


def test_full_loop_with_rollback_and_state_readback(spark, tmp_path):
    # ---- phase 1: drain the stream through the full loop ------------
    validation_calls: list[int] = []

    def flaky_validation(df, epoch):
        validation_calls.append(epoch)
        if len(validation_calls) == 1:
            # K2 barrier: first probe soft-fails; the processor retries
            # validation (bounded) before the sink/checkpoint phase
            raise SoftValidationError("transient validation probe")

    store, sink_path, snapshot = _run_processor(
        spark, tmp_path, PER_SHARD_P1, flaky_validation
    )
    assert len(validation_calls) >= 2  # soft-failed once, then passed

    exp1 = _expected_successes(snapshot)
    committed = gzk_sink.read_committed(sink_path)
    assert len(committed) == exp1.count()
    assert {(r["shard_id"], r["sequence_number"]) for r in committed} == {
        (r["shard_id"], r["sequence_number"]) for r in exp1.collect()
    }
    # one manifest line for the batch, counting its rows
    manifest = gzk_sink._manifest_entries(sink_path)
    assert [e["batch_id"] for e in manifest] == [0]
    assert manifest[0]["n_rows"] == exp1.count()
    # durable KV == per-shard batch fold
    exp_ckpt = {
        r["shard_id"]: str(r["mx"])
        for r in exp1.groupBy("shard_id")
        .agg(F.max("sequence_number").alias("mx"))
        .collect()
    }
    assert {
        k: v.lstrip("0") or "0" for k, v in store.all_checkpoints().items()
    } == exp_ckpt

    # ---- mid-run checkpoint rollback: lose the last commit-log entry,
    # the micro-batch replays with the SAME batch_id -------------------
    commits_dir = os.path.join(str(tmp_path / "spark_ckpt"), "commits")
    committed_batches = sorted(int(f) for f in os.listdir(commits_dir) if f.isdigit())
    last = str(committed_batches[-1])
    os.remove(os.path.join(commits_dir, last))
    crc = os.path.join(commits_dir, f".{last}.crc")
    if os.path.exists(crc):  # local-fs checksum sidecar
        os.remove(crc)

    store, sink_path, snapshot = _run_processor(spark, tmp_path, PER_SHARD_P1)
    # replayed batch 0 must be a sink NO-OP: same rows, same single
    # manifest line, no orphaned temps
    assert len(gzk_sink.read_committed(sink_path)) == exp1.count()
    assert [e["batch_id"] for e in gzk_sink._manifest_entries(sink_path)] == [0]
    assert os.listdir(os.path.join(sink_path, "tmp")) == []
    # checkpoints unchanged (monotonic max re-saved with equal values)
    assert {
        k: v.lstrip("0") or "0" for k, v in store.all_checkpoints().items()
    } == exp_ckpt

    # ---- phase 3: the stream grew; only the delta is processed ------
    store, sink_path, snapshot3 = _run_processor(spark, tmp_path, PER_SHARD_P3)
    exp3 = _expected_successes(snapshot3)
    committed3 = gzk_sink.read_committed(sink_path)
    assert len(committed3) == exp3.count()  # delta appended exactly once
    manifest3 = gzk_sink._manifest_entries(sink_path)
    assert [e["batch_id"] for e in manifest3] == [0, 1]
    # the delta batch contains ONLY post-tip records (incremental read)
    assert (
        manifest3[1]["n_rows"]
        == exp3.filter(F.col("sequence_number") >= PER_SHARD_P1).count()
    )
    exp_ckpt3 = {
        r["shard_id"]: str(r["mx"])
        for r in exp3.groupBy("shard_id")
        .agg(F.max("sequence_number").alias("mx"))
        .collect()
    }
    assert {
        k: v.lstrip("0") or "0" for k, v in store.all_checkpoints().items()
    } == exp_ckpt3

    # ---- statestore readback: a stateful twin over the same source --
    # (applyInPandasWithState running per-shard checkpoints; its state
    # store must agree with the sink manifest fold and the KV store)
    from go_zoom_kinesis_spark.streaming.stateful import (
        running_checkpoint_stream,
    )
    from go_zoom_kinesis_spark.streaming.state_inspect import read_query_state

    stream3 = _source(spark.readStream.format("gzk_stream"), PER_SHARD_P3)
    mapped = stream3.filter(F.col("payload_hash") % HARD_MOD != 0).select(
        F.col("sequence_number").alias("event_id"),
        F.regexp_extract("shard_id", r"(\d+)$", 1).cast("bigint").alias(
            "user_id"
        ),
    )
    ck_state = str(tmp_path / "state_ckpt")
    q = (
        running_checkpoint_stream(mapped)
        .writeStream.format("memory")
        .queryName("e2e_state_t")
        .outputMode("update")
        .option("checkpointLocation", ck_state)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"
    state = {
        # flatMapGroupsWithState state reads back under value.groupState
        f"shard-{r['key']['shard_id']}": (
            r["value"]["groupState"]["checkpoint_seq"],
            r["value"]["groupState"]["n_processed"],
        )
        for r in read_query_state(spark, ck_state).collect()
    }
    exp_state = {
        r["shard_id"]: (int(exp_ckpt3[r["shard_id"]]), r["n"])
        for r in exp3.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    assert state == exp_state
    # and the sink's committed rows reproduce the same per-shard fold
    from collections import Counter

    sink_counts = Counter(r["shard_id"] for r in committed3)
    assert {k: (max(
        int(r["sequence_number"]) for r in committed3 if r["shard_id"] == k
    ), n) for k, n in sink_counts.items()} == exp_state
