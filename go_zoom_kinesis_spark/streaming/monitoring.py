"""Monitoring — parity with the reference's event channel + aggregator
(`/root/reference/src/monitoring/types.rs:41-123`,
`src/monitoring/metrics.rs:25-360`).

The reference emits typed ``ProcessingEvent``s on a bounded mpsc channel
and folds them into per-shard ``ShardMetrics`` (counts + running
avg/max), emitting every ``metrics_interval`` and evicting shards idle
longer than 2× the window. Here the processor emits the same event
vocabulary to an in-process aggregator; Spark-level progress arrives via
a ``StreamingQueryListener`` adapter, and dataset-level counters use
``DataFrame.observe`` (both are the idiomatic Spark observability
hooks SURVEY §2 M1 maps to).
"""

from __future__ import annotations

import threading
import time
from collections import deque
from dataclasses import dataclass, field

# Event-type vocabulary ↔ ProcessingEventType variants
# (src/monitoring/types.rs:41-101)
RECORD_ATTEMPT = "record_attempt"
RECORD_SUCCESS = "record_success"
RECORD_FAILURE = "record_failure"
BATCH_START = "batch_start"
BATCH_COMPLETE = "batch_complete"
BATCH_ERROR = "batch_error"
CHECKPOINT_SUCCESS = "checkpoint_success"
CHECKPOINT_FAILURE = "checkpoint_failure"
SHARD_STARTED = "shard_started"
SHARD_COMPLETED = "shard_completed"
VALIDATION_FAILURE = "validation_failure"
ITERATOR_EXPIRED = "iterator_expired"  # src/monitoring/types.rs Iterator variants
ITERATOR_RENEWED = "iterator_renewed"
ITERATOR_HISTORY_MAX = 10  # reference ring size (src/processor.rs:1387-1389)
BATCH_METRICS = "batch_metrics"  # ProcessingEventType::BatchMetrics


@dataclass(frozen=True)
class BatchMetrics:
    """One typed per-batch metrics payload ↔ the reference's
    ``ProcessingEventType::BatchMetrics`` struct
    (src/monitoring/types.rs:52-123): batch duration plus the record
    outcome counts and retry volume folded over every attempt pass.
    Emitted as the ``metrics`` detail of a ``BATCH_METRICS`` event at
    the end of each batch."""

    epoch: int
    duration_ms: float
    records_success: int
    records_failed: int
    soft_retries: int
    attempt_passes: int
    checkpoints_saved: int


@dataclass
class MonitoringEvent:
    timestamp: float
    shard_id: str
    event_type: str
    detail: dict = field(default_factory=dict)


@dataclass
class ShardMetrics:
    """Per-shard running metrics (src/monitoring/metrics.rs:25-51)."""

    shard_id: str
    records_processed: int = 0
    records_failed: int = 0
    soft_retries: int = 0
    checkpoints: int = 0
    checkpoint_failures: int = 0
    validation_failures: int = 0
    iterator_renewals: int = 0
    total_processing_ms: float = 0.0
    max_processing_ms: float = 0.0
    last_event_at: float = 0.0
    # bounded renewal forensics: the last ITERATOR_HISTORY_MAX
    # (resumed_from, timestamp) renewals, oldest evicted first. Same
    # ring SHAPE as the reference (src/processor.rs:1387-1389
    # VecDeque::with_capacity(10) / max_history_size: 10, pushed at
    # :904-908), but the recorded VALUE differs by design: the
    # reference pushes the newly obtained iterator string; Spark
    # connectors renew iterators internally, so the renewal analog
    # here is the position the renewal resumed FROM (the checkpoint,
    # or "initial_position") — that is what incident analysis of an
    # expiry storm needs on this side
    iterator_history: deque = field(
        default_factory=lambda: deque(maxlen=ITERATOR_HISTORY_MAX)
    )

    @property
    def avg_processing_ms(self) -> float:
        n = self.records_processed
        return self.total_processing_ms / n if n else 0.0


class MetricsAggregator:
    """Bounded in-process event sink + per-shard fold. Thread-safe;
    ``emit_metrics`` snapshots and evicts idle shards (2× window, as
    src/monitoring/metrics.rs:357-360)."""

    def __init__(
        self,
        buffer_size: int = 1000,
        window_seconds: float = 60.0,
        rate_limit: int | None = 1000,
        clock=time.time,
    ):
        """``rate_limit`` caps accepted events per wall-clock second
        (the reference's ``rate_limit: Some(1000)``,
        src/monitoring/types.rs:34); excess events are counted in
        ``dropped_events`` and kept out of the ``events`` ring, but
        still fold into the per-shard metrics. ``clock`` is injectable
        for deterministic tests."""
        self.window_seconds = window_seconds
        self.rate_limit = rate_limit
        self.dropped_events = 0
        self._clock = clock
        self._rate_window_start = 0.0
        self._rate_window_count = 0
        self.events: deque[MonitoringEvent] = deque(maxlen=buffer_size)
        self._metrics: dict[str, ShardMetrics] = {}
        self._lock = threading.Lock()

    def emit(self, shard_id: str, event_type: str, **detail) -> None:
        now = self._clock()
        ev = MonitoringEvent(now, shard_id, event_type, detail)
        with self._lock:
            # fold first: per-shard counts are never lossy, only the
            # event ring is rate-limited
            m = self._metrics.setdefault(shard_id, ShardMetrics(shard_id))
            m.last_event_at = ev.timestamp
            if event_type == RECORD_SUCCESS:
                m.records_processed += detail.get("count", 1)
                ms = detail.get("processing_ms", 0.0)
                m.total_processing_ms += ms
                m.max_processing_ms = max(m.max_processing_ms, ms)
            elif event_type == RECORD_FAILURE:
                m.records_failed += detail.get("count", 1)
            elif event_type == RECORD_ATTEMPT:
                m.soft_retries += detail.get("count", 1)
            elif event_type == CHECKPOINT_SUCCESS:
                m.checkpoints += 1
            elif event_type == CHECKPOINT_FAILURE:
                m.checkpoint_failures += 1
            elif event_type == VALIDATION_FAILURE:
                m.validation_failures += 1
            elif event_type == ITERATOR_RENEWED:
                m.iterator_renewals += 1
                m.iterator_history.append(
                    (detail.get("resumed_from"), ev.timestamp)
                )
            if self.rate_limit is not None:
                if now - self._rate_window_start >= 1.0:
                    self._rate_window_start = now
                    self._rate_window_count = 0
                if self._rate_window_count >= self.rate_limit:
                    # over budget: the reference's bounded channel drops
                    # the send, so the event never reaches the ring
                    self.dropped_events += 1
                    return
                self._rate_window_count += 1
            self.events.append(ev)

    def event_types(self) -> list[str]:
        with self._lock:
            return [e.event_type for e in self.events]

    def metrics(self, shard_id: str) -> ShardMetrics | None:
        with self._lock:
            return self._metrics.get(shard_id)

    def emit_metrics(self) -> dict[str, ShardMetrics]:
        """Snapshot all shard metrics, evicting idle shards (> 2×
        window without events)."""
        now = self._clock()
        with self._lock:
            stale = [
                s
                for s, m in self._metrics.items()
                if now - m.last_event_at > 2 * self.window_seconds
            ]
            for s in stale:
                del self._metrics[s]
            return {s: m for s, m in self._metrics.items()}


def attach_query_listener(spark, aggregator: MetricsAggregator):
    """Adapt Spark's StreamingQueryListener onto the aggregator — every
    micro-batch progress event lands as a BATCH_COMPLETE. Returns the
    listener (caller may remove it)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            aggregator.emit("GLOBAL", SHARD_STARTED, query_id=str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            aggregator.emit(
                "GLOBAL",
                BATCH_COMPLETE,
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            aggregator.emit("GLOBAL", SHARD_COMPLETED, query_id=str(event.id))

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def observe_batch_metrics(df, name: str = "gzk_metrics"):
    """Dataset-level counters via ``DataFrame.observe`` — the batch
    half of SURVEY §2 M1 (the reference's BatchComplete event carries
    successful/failed counts, src/monitoring/types.rs:52-58; here the
    engine computes them on the data path itself, zero extra scans).

    Wraps ``df`` with an :class:`~pyspark.sql.Observation`; after any
    action on the returned DataFrame, ``observation.get`` yields
    ``{"n_rows": ..., "n_null_keys": ...}`` computed during that pass.
    The metric expressions run inside the same whole-stage-codegen
    pipeline as the query — at 100 TB observability costs nothing
    beyond the aggregation registers.

    Returns ``(observed_df, observation)``.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    first = df.columns[0]
    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col(first).isNull(), 1).otherwise(0)).alias(
            "n_null_keys"
        ),
    )
    return observed, obs
