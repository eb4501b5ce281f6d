"""Two-phase manifest sink: the Arrow DataSource writers (batch and
streaming) and ``commit_batch`` publish only driver-committed parquet
parts, and a replayed micro-batch commit is a no-op."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from go_zoom_kinesis_spark.io import load_table
from go_zoom_kinesis_spark.sources import gzk_sink
from go_zoom_kinesis_spark.sources.gzk_sink import (
    _commit_files,
    _write_batches,
    commit_batch,
    read_committed,
    register,
)


def _events_slice(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .select(
            F.col("event_id").alias("sequence_number"),
            "user_id",
            "event_type",
        )
    )


def _stage(path, rows):
    """Stage ``rows`` the way a DataSource writer task does."""
    return _write_batches(path, [pa.RecordBatch.from_pylist(rows)])


def test_batch_write_commits_all_partitions(spark, sf_dir, tmp_path):
    register(spark)
    path = str(tmp_path / "sink_batch")
    df = _events_slice(spark, sf_dir)
    df.write.format("gzk_checkpoint_sink").mode("append").save(path)

    rows = read_committed(path)
    exp = [r.asDict() for r in df.collect()]
    key = lambda d: d["sequence_number"]  # noqa: E731
    assert sorted(rows, key=key) == sorted(exp, key=key)
    # phase-2 visibility rule: nothing left un-published
    assert os.listdir(os.path.join(path, "tmp")) == []
    with open(os.path.join(path, "_manifest.jsonl")) as f:
        entries = [json.loads(line) for line in f]
    assert len(entries) == 1
    assert entries[0]["n_rows"] == len(exp)


def test_stream_write_equals_batch(spark, sf_dir, tmp_path):
    register(spark)
    src = str(tmp_path / "sink_src")
    batch = _events_slice(spark, sf_dir)
    batch.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    path = str(tmp_path / "sink_stream")
    q = (
        stream.writeStream.format("gzk_checkpoint_sink")
        .option("path", path)
        .option("checkpointLocation", str(tmp_path / "ck_sink"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish in 120s"

    rows = read_committed(path)
    exp = [r.asDict() for r in batch.collect()]
    key = lambda d: d["sequence_number"]  # noqa: E731
    assert sorted(rows, key=key) == sorted(exp, key=key)
    with open(os.path.join(path, "_manifest.jsonl")) as f:
        entries = [json.loads(line) for line in f]
    assert all(e["batch_id"] is not None for e in entries)


def test_replayed_batch_commit_is_noop(tmp_path):
    """The at-least-once contract: re-committing an already-manifested
    batchId publishes nothing and drops the replayed temp files."""
    path = str(tmp_path / "sink_replay")

    m1 = _stage(path, [{"sequence_number": 1}, {"sequence_number": 7}])
    _commit_files(path, [m1], 0)
    assert len(read_committed(path)) == 2

    # micro-batch 0 replays after a checkpoint rollback: same batchId,
    # fresh temp file — must NOT double-publish
    m2 = _stage(path, [{"sequence_number": 1}, {"sequence_number": 7}])
    _commit_files(path, [m2], 0)
    assert len(read_committed(path)) == 2
    assert os.listdir(os.path.join(path, "tmp")) == []

    # a NEW batch still publishes
    m3 = _stage(path, [{"sequence_number": 9}])
    _commit_files(path, [m3], 1)
    assert len(read_committed(path)) == 3


def test_torn_manifest_line_tolerated(tmp_path):
    """Crash-recovery hardening (r7 advice): a driver crash mid-append
    can leave a partial JSON line; every subsequent read AND commit
    must skip it instead of raising — the un-manifested batch simply
    replays (at-least-once)."""
    from go_zoom_kinesis_spark.sources.gzk_sink import MANIFEST, _manifest_batches

    path = str(tmp_path / "sink_torn")

    _commit_files(path, [_stage(path, [{"sequence_number": 1}])], 0)
    # simulate the crash: torn half-written line at the tail
    with open(os.path.join(path, MANIFEST), "a") as f:
        f.write('{"batch_id": 1, "files": ["b.part.jso')

    assert _manifest_batches(path) == {0}
    assert len(read_committed(path)) == 1
    # the recovery commit (replay of batch 1) must succeed and heal the
    # manifest (atomic rewrite drops the torn line)
    _commit_files(path, [_stage(path, [{"sequence_number": 2}])], 1)
    assert _manifest_batches(path) == {0, 1}
    assert len(read_committed(path)) == 2
    with open(os.path.join(path, MANIFEST)) as f:
        for line in f:
            json.loads(line)  # every surviving line is whole


def test_batch_overwrite_mode_truncates(spark, sf_dir, tmp_path):
    """``mode('overwrite')`` must replace the committed state, not
    silently append (r7 advice: the writer used to ignore the flag)."""
    register(spark)
    path = str(tmp_path / "sink_overwrite")
    df = _events_slice(spark, sf_dir)

    df.write.format("gzk_checkpoint_sink").mode("append").save(path)
    n1 = len(read_committed(path))
    assert n1 > 0

    # append doubles; overwrite resets to exactly one copy
    df.write.format("gzk_checkpoint_sink").mode("append").save(path)
    assert len(read_committed(path)) == 2 * n1
    df.write.format("gzk_checkpoint_sink").mode("overwrite").save(path)
    rows = read_committed(path)
    assert len(rows) == n1
    exp = [r.asDict() for r in df.collect()]
    key = lambda d: d["sequence_number"]  # noqa: E731
    assert sorted(rows, key=key) == sorted(exp, key=key)
    # no orphaned data files outside the manifest
    manifested = {f for e in __import__(
        "go_zoom_kinesis_spark.sources.gzk_sink", fromlist=["_manifest_entries"]
    )._manifest_entries(path) for f in e["files"]}
    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
    assert on_disk == manifested


def _typed_frame(spark):
    # a string sequence, a timestamp and an all-null column
    return spark.range(0, 30, numPartitions=3).selectExpr(
        "CAST(id AS STRING) AS sequence_number",
        "timestamp_seconds(id * 3601 + 1700000000.123456) AS ts",
        "CAST(NULL AS STRING) AS partition_key",
    )


def _sorted(rows):
    return sorted(rows, key=lambda d: d["sequence_number"])


def test_read_back_same_for_both_staging_paths(spark, tmp_path):
    """``read_committed`` returns what ``collect()`` returns under the
    UTC session, whether Spark's parquet writer (``commit_batch``) or
    the Arrow DataSource writer staged the frame."""
    register(spark)
    df = _typed_frame(spark)
    commit_batch(df, str(tmp_path / "jvm"), 0)
    df.write.format("gzk_checkpoint_sink").mode("append").save(str(tmp_path / "arrow"))
    exp = _sorted(r.asDict() for r in df.collect())
    for staged_by in ("jvm", "arrow"):
        assert _sorted(read_committed(str(tmp_path / staged_by))) == exp


def test_manifest_crash_after_publish_replays_exactly_once(spark, tmp_path, monkeypatch):
    """A driver crash after the publish, before the manifest append:
    none of the batch is visible, the replay commits it once, and the
    orphaned parts are never read; the replay deletes them, and no
    stage dir outlives its commit."""
    path, df = str(tmp_path / "sink_crash"), _typed_frame(spark)
    append, entries = gzk_sink._append_manifest, []

    def crash_once(p, entry):
        entries.append(entry)
        if len(entries) == 1:
            raise OSError("driver died before the manifest append")
        append(p, entry)

    monkeypatch.setattr(gzk_sink, "_append_manifest", crash_once)
    with pytest.raises(OSError):
        commit_batch(df, path, 0)
    orphans = set(entries[0]["files"])
    assert orphans <= set(os.listdir(path)) and read_committed(path) == []
    commit_batch(df, path, 0)  # the replay
    commit_batch(None, path, 0)  # committed: returns before touching the frame
    assert [e["batch_id"] for e in gzk_sink._manifest_entries(path)] == [0]
    assert orphans and not orphans & set(entries[1]["files"])
    assert _sorted(read_committed(path)) == _sorted(r.asDict() for r in df.collect())
    assert not orphans & set(os.listdir(path))
    assert os.listdir(os.path.join(path, "tmp")) == []
