"""Custom stateful streaming operator — ``applyInPandasWithState``.

Re-expresses the reference's per-shard mutable processing state
(``ShardProcessingState``: last successful sequence + recovery
counters, src/processor.rs:1367-1396, updated by the batch fold at
src/processor.rs:1542-1560) as a keyed arbitrary-state operator:
state key = shard_id, state value = (checkpoint_seq, totals), one
update row emitted per shard per micro-batch.

This is the (c)-tier path of the task's custom-operator ladder — used
here precisely because a *running* cross-batch checkpoint cannot be
expressed as a windowed aggregation (it never expires and must survive
arbitrarily long gaps). State is partitioned by shard key, so it scales
horizontally exactly like the reference's one-task-per-shard model
(SURVEY §2.1 P1).

This is the one running-checkpoint fold: it needs no protobuf (unlike
``transformWithStateInPandas``), and ``state_inspect`` reads its state
back. ``stateful_v2.py`` holds only the Spark 4 operators that have no
equivalent here (event-time timers, MapState/ListState).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("checkpoint_seq", LongType()),
        StructField("n_processed", LongType()),
        StructField("n_batches", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("checkpoint_seq", LongType()),
        StructField("n_processed", LongType()),
        StructField("n_batches", LongType()),
    ]
)


def _update_shard_state(key, pdf_iter, state):
    """Fold a micro-batch's records into the shard's running state.

    Mirrors update_batch_result (src/processor.rs:1542-1560): the
    checkpoint only advances (monotonic max), counts accumulate."""
    import pandas as pd

    (shard_id,) = key
    if state.exists:
        ckpt, n_proc, n_batches = state.get
    else:
        ckpt, n_proc, n_batches = -1, 0, 0
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        ckpt = max(ckpt, int(pdf["event_id"].max()))
        n_proc += len(pdf)
    n_batches += 1
    state.update((ckpt, n_proc, n_batches))
    yield pd.DataFrame(
        {
            "shard_id": [shard_id],
            "checkpoint_seq": [ckpt],
            "n_processed": [n_proc],
            "n_batches": [n_batches],
        }
    )


def running_checkpoint_stream(events: DataFrame) -> DataFrame:
    """Per-shard running checkpoint over a stream of successful records.

    Input: streaming DataFrame with (event_id, user_id, ...) — rows
    already past soft/hard classification (the processor's successful
    set). Output (update mode): one row per shard per micro-batch with
    the running checkpoint + totals."""
    shards = events.withColumn("shard_id", F.col("user_id") % 8)
    return shards.groupBy("shard_id").applyInPandasWithState(
        _update_shard_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
