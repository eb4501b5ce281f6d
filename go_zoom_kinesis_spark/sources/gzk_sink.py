"""Exactly-once manifest SINK: the reference's at-least-once checkpoint
commit (src/store/mod.rs trait + src/processor.rs:1542-1560 batch fold
→ save) plus a batch-id-keyed manifest, the shape of Structured
Streaming's file sink log. No sink path runs per-row Python code.

Protocol:

1. STAGE, on executors: parquet parts under ``<path>/tmp/``.
   ``commit_batch`` stages with Spark's own parquet writer; the
   ``gzk_checkpoint_sink`` DataSource (batch and streaming) gets Arrow
   batches and writes one parquet file per task. A failed or retried
   task leaves only an orphaned temp file — never visible data.
2. PUBLISH, on the driver, once per successful job: the parts move
   into ``<path>/`` (same-filesystem rename) and ONE manifest line
   ``{batch_id, files, n_rows}`` records the batch, ``n_rows`` read
   from the parts' parquet footers. Files not in the manifest are not
   data, and the next commit deletes them. ``abort()`` deletes the
   temps; ``commit_batch`` removes its stage dir whatever happens.
3. A ``batch_id`` already in the manifest is a NO-OP: ``commit_batch``
   returns before any write, and the streaming writer drops its
   replayed temps. That makes micro-batch replay after a checkpoint
   rollback idempotent (same guarantee as ``streaming/sinks.py``'s
   foreachBatch overwrite).

Scale: executors never coordinate (no renames until the driver
commit); the manifest is O(batches), not O(rows).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

MANIFEST = "_manifest.jsonl"


class GzkCommitMessage(WriterCommitMessage):
    def __init__(self, fname: str | None):
        # the staged part, relative to ``<path>/tmp/``; None when the
        # task had no rows and wrote nothing
        self.fname = fname


def _write_batches(path: str, iterator) -> GzkCommitMessage:
    """One task's Arrow batches → one parquet file under ``tmp/``."""
    fname, writer = f"{uuid.uuid4().hex}.parquet", None
    for batch in iterator:
        if writer is None:
            os.makedirs(os.path.join(path, "tmp"), exist_ok=True)
            writer = pq.ParquetWriter(os.path.join(path, "tmp", fname), batch.schema)
        writer.write_batch(batch)
    if writer is None:
        return GzkCommitMessage(None)
    writer.close()
    return GzkCommitMessage(fname)


def _manifest_entries(path: str) -> list[dict]:
    """Parse manifest lines, TOLERATING a torn trailing line: a driver
    crash mid-append may leave a partial JSON line, and the recovery
    path (replay → read manifest → re-commit) must not be the one that
    breaks on it. A malformed line is skipped — its batch was never
    durably committed, which is exactly the at-least-once contract
    (the batch replays and re-appends)."""
    mf = os.path.join(path, MANIFEST)
    if not os.path.exists(mf):
        return []
    out: list[dict] = []
    with open(mf) as f:
        for line in f:
            if not line.strip():
                continue
            try:
                out.append(json.loads(line))
            except ValueError:
                continue  # torn line from a mid-append crash
    return out


def _manifest_batches(path: str) -> set:
    return {e["batch_id"] for e in _manifest_entries(path)}


def _append_manifest(path: str, entry: dict) -> None:
    """Crash-atomic append: rewrite via temp file + os.replace so a
    crash leaves either the old manifest or the new one, never a torn
    line. O(batches) bytes per commit — the manifest is batch-grain,
    not row-grain, so this stays driver-trivial at any data scale."""
    mf = os.path.join(path, MANIFEST)
    lines = [json.dumps(e, sort_keys=True) for e in _manifest_entries(path)]
    lines.append(json.dumps(entry, sort_keys=True))
    tmp = mf + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, mf)


def _commit_files(path: str, messages, batch_id, overwrite: bool = False) -> None:
    """Driver-side: publish the staged parts + append ONE manifest line.
    Idempotent per batch_id — a replayed commit is a no-op. Data files
    no manifest line lists are deleted first: only this commit
    publishes, so they are parts a crashed commit published without
    its manifest line. With ``overwrite`` (batch writer
    ``mode('overwrite')``) the manifest is dropped first, so every
    data file goes and the committed state is exactly this job's
    output."""
    if batch_id is not None and batch_id in _manifest_batches(path):
        _abort_files(path, messages)  # replay: drop the re-written temps
        return
    mf = os.path.join(path, MANIFEST)
    if overwrite and os.path.exists(mf):
        # truncate-then-publish: readers see "no committed data", never
        # a mix of old manifest + missing files
        os.remove(mf)
    listed = {f for e in _manifest_entries(path) for f in e["files"]}
    for fname in os.listdir(path):
        if fname.endswith(".parquet") and fname not in listed:
            os.remove(os.path.join(path, fname))
    # part names are unique: uuid-named task files, or Spark parts that
    # embed their job's uuid
    staged = sorted(m.fname for m in messages if m is not None and m.fname)
    files = [os.path.basename(f) for f in staged]
    for src, dst in zip(staged, files):
        os.replace(os.path.join(path, "tmp", src), os.path.join(path, dst))
    n_rows = sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in files)
    _append_manifest(path, {"batch_id": batch_id, "files": files, "n_rows": n_rows})


def _abort_files(path: str, messages) -> None:
    for m in messages:
        if m is not None and m.fname:
            tmp = os.path.join(path, "tmp", m.fname)
            if os.path.exists(tmp):
                os.remove(tmp)


class GzkBatchWriter(DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool = False):
        self._path = options["path"]
        self._overwrite = overwrite

    def write(self, iterator) -> GzkCommitMessage:
        return _write_batches(self._path, iterator)

    def commit(self, messages, batchId: int | None = None) -> None:
        _commit_files(self._path, messages, batchId, overwrite=self._overwrite)

    def abort(self, messages, batchId: int | None = None) -> None:
        _abort_files(self._path, messages)


class GzkStreamWriter(GzkBatchWriter, DataSourceStreamArrowWriter):
    """The batch writer, with the manifest keyed by ``batchId``."""


class GzkSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gzk_checkpoint_sink"

    def writer(self, schema, overwrite: bool) -> GzkBatchWriter:
        return GzkBatchWriter(self.options, overwrite=overwrite)

    def streamWriter(self, schema, overwrite: bool) -> GzkStreamWriter:
        return GzkStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(GzkSinkDataSource)


def commit_batch(df, path: str, batch_id: int) -> None:
    """``foreachBatch`` adapter — the composition point between
    ``StreamProcessor`` (which owns the micro-batch loop) and this
    sink's commit protocol. A ``batch_id`` already in the manifest
    returns before any Spark job; otherwise Spark's parquet writer
    stages the batch and the driver publishes its parts under this
    ``batch_id``. Going through the Python DataSource instead would
    add planner round trips to every batch."""
    if batch_id in _manifest_batches(path):
        return
    stage = uuid.uuid4().hex
    stage_dir = os.path.join(path, "tmp", stage)
    try:
        df.write.parquet(stage_dir)
        parts = [f for f in sorted(os.listdir(stage_dir)) if f.endswith(".parquet")]
        _commit_files(path, [GzkCommitMessage(os.path.join(stage, f)) for f in parts], batch_id)
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)


def read_committed(path: str) -> list[dict]:
    """Read back ONLY manifested rows (the sink's visibility rule);
    torn trailing manifest lines are skipped, not fatal. Timestamps
    come back as naive UTC datetimes, what ``collect()`` gives under a
    UTC session, whichever writer staged them (the JVM's INT96 reads
    naive, the Arrow writer's tz-aware)."""
    out: list[dict] = []
    for entry in _manifest_entries(path):
        for fname in entry["files"]:
            t = pq.read_table(os.path.join(path, fname), coerce_int96_timestamp_unit="us")
            naive = [
                f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
                for f in t.schema
            ]
            out.extend(t.cast(pa.schema(naive)).to_pylist())
    return out
