"""Custom stateful streaming operators on the Spark 4 native API —
``transformWithStateInPandas`` (``StatefulProcessor`` + typed state
handles): an event-time TIMER operator (idle-shard eviction) and a
MapState/ListState operator (per-shard type counts). The per-shard
running checkpoint fold itself lives once, in ``stateful.py``.

Environment gate: the transformWithState Python worker imports
``google.protobuf`` (state-server wire protocol). Where no protobuf
wheel exists, ``tests/conftest.py`` activates ``vendor/pbshim`` (a
pure-Python protobuf runtime resolved from the base image, test
scaffolding only) so the tests RUN rather than skip;
``HAS_TWS_DEPS`` is False and they skip only when neither a
wheel nor the shim is available. Production deployments install
``protobuf>=6.33`` — the shim never ships in the library path.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

try:  # the TWS state-server protocol needs protobuf at runtime
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_TWS_DEPS = True
except ImportError:  # pragma: no cover - environment-dependent
    HAS_TWS_DEPS = False


# --- timer-driven idle-shard eviction -----------------------------------

IDLE_EVICT_MS = 60 * 60 * 1000  # evict a shard idle for 1h of event time

IDLE_STATE_SCHEMA = StructType(
    [
        StructField("last_event_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)

IDLE_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_event_ms", LongType()),
        StructField("evicted", LongType()),  # 0 = live update, 1 = eviction
    ]
)


class IdleShardEvictionProcessor(StatefulProcessor):
    """Event-time TIMER surface of ``transformWithStateInPandas`` —
    the reference's idle-shard metrics eviction (metrics windows
    dropped once a shard is idle for 2× the window,
    src/monitoring/metrics.rs:357-360) as a first-class stateful
    operator: every input batch refreshes the shard's
    last-seen event time and re-arms a timer at last_seen +
    IDLE_EVICT_MS; when the WATERMARK passes that expiry with no
    further input, ``handleExpiredTimer`` fires, emits a final
    eviction row and clears the shard's state — bounded state on an
    unbounded, partially-idle shard population.

    The timer rows make the eviction OBSERVABLE downstream (the
    reference logs it; here it is data), and state removal is the
    100 TB property: without it, one state entry per ever-seen shard
    lives forever."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("idle_shard", IDLE_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator:
        import pandas as pd

        (shard_id,) = key
        if self._state.exists():
            last_ms, n_events = self._state.get()
        else:
            last_ms, n_events = -1, 0
        for pdf in rows:
            if len(pdf) == 0:
                continue
            batch_max = int(pdf["ts"].max().value // 1_000_000)
            last_ms = max(last_ms, batch_max)
            n_events += len(pdf)
        self._state.update((last_ms, n_events))
        # re-arm: one live timer per shard at last_seen + horizon
        for t in self._handle.listTimers():
            self._handle.deleteTimer(t)
        self._handle.registerTimer(last_ms + IDLE_EVICT_MS)
        yield pd.DataFrame(
            {
                "shard_id": [shard_id],
                "n_events": [n_events],
                "last_event_ms": [last_ms],
                "evicted": [0],
            }
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator:
        import pandas as pd

        (shard_id,) = key
        if self._state.exists():
            last_ms, n_events = self._state.get()
        else:  # already evicted
            return
        self._state.clear()
        yield pd.DataFrame(
            {
                "shard_id": [shard_id],
                "n_events": [n_events],
                "last_event_ms": [last_ms],
                "evicted": [1],
            }
        )

    def close(self) -> None:
        pass


# --- typed-state trio: MapState + ListState ----------------------------

TOP_IDS_K = 3

TYPECOUNT_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("top_ids", StringType()),  # csv of all-time top-K ids
    ]
)


class ShardTypeCountsProcessor(StatefulProcessor):
    """Completes the typed-state trio (``ValueState`` is
    ``IdleShardEvictionProcessor``): a ``MapState`` keyed by event type
    holds per-(shard, type) running counts — the composable upgrade
    over packing a whole dict into one ValueState row, because one
    type's update doesn't rewrite the others — and a ``ListState``
    carries the shard's all-time top-K event ids (merged per batch,
    order-deterministic). The reference folds per-shard metrics into
    one mutable struct (src/processor.rs:1367-1396); typed state is
    what that fold should become on Spark 4.

    Emits the UPDATED (type, count) rows per batch plus the refreshed
    top-K list; the equivalence test pins the final emission per key
    against the batch groupBy fold."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "type_counts", "event_type string", "n bigint"
        )
        self._top = handle.getListState("top_ids", "event_id bigint")

    def handleInputRows(self, key, rows, timerValues) -> Iterator:
        import pandas as pd

        (shard_id,) = key
        batch: dict[str, int] = {}
        ids: list[int] = []
        for pdf in rows:
            if len(pdf) == 0:
                continue
            for t, c in pdf["event_type"].value_counts().items():
                batch[t] = batch.get(t, 0) + int(c)
            ids.extend(int(x) for x in pdf["event_id"])
        if not batch:
            return
        updated: dict[str, int] = {}
        for t, c in batch.items():
            prev = (
                self._counts.getValue((t,))[0]
                if self._counts.containsKey((t,))
                else 0
            )
            n = prev + c
            self._counts.updateValue((t,), (n,))
            updated[t] = n
        merged = [v[0] for v in self._top.get()] + ids
        top = sorted(merged, reverse=True)[:TOP_IDS_K]
        self._top.put([(i,) for i in top])
        top_csv = ",".join(str(i) for i in top)
        yield pd.DataFrame(
            {
                "shard_id": [shard_id] * len(updated),
                "event_type": list(updated),
                "n_events": list(updated.values()),
                "top_ids": [top_csv] * len(updated),
            }
        )

    def close(self) -> None:
        pass


def shard_type_counts_stream_v2(events: DataFrame) -> DataFrame:
    """Per-(shard, event type) running counts + all-time top-K event
    ids via MapState/ListState (see ``ShardTypeCountsProcessor``)."""
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    shards = events.withColumn("shard_id", F.col("user_id") % 8)
    return shards.groupBy("shard_id").transformWithStateInPandas(
        statefulProcessor=ShardTypeCountsProcessor(),
        outputStructType=TYPECOUNT_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def idle_eviction_stream_v2(
    events: DataFrame, watermark: str = "0 seconds"
) -> DataFrame:
    """Idle-shard eviction over an event stream: live per-shard
    updates (evicted=0) plus a terminal eviction row (evicted=1) once
    the event-time watermark passes a shard's last activity +
    ``IDLE_EVICT_MS``. Event-time ``timeMode`` requires a watermark on
    the input; 0s delay makes the bounded-source tests deterministic
    (watermark = max seen event time at each microbatch boundary)."""
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    shards = events.withColumn(
        "shard_id", F.col("user_id") % 8
    ).withWatermark("ts", watermark)
    return shards.groupBy("shard_id").transformWithStateInPandas(
        statefulProcessor=IdleShardEvictionProcessor(),
        outputStructType=IDLE_OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
