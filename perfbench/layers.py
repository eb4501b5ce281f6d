"""Per-layer metrics of the traced run.

:data:`PER_LAYER` lists every metric with its unit, in the order
``BENCHMARK.json`` declares them. A traced run reports all of them; a
metric whose layer the workload does not exercise reads 0 (for example
``dlq.records`` on ``stream_ingest``, or every ``progress.*`` metric on
``query_mix``).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .spans import Span, exec_summary, jobs_under, self_times

FAMILIES = ("curation", "relational", "pyworker", "stream_analog")
PHASES = {"build": "registry.build", "cold": "query.cold", "steady": "query.steady"}
PHASE_EXEC = ("task_run_s", "python_gap_s", "jobs", "driver_residual_s")
EXEC_UNITS = {
    "task_run_s": "s",
    "jvm_cpu_s": "s",
    "gc_s": "s",
    "python_gap_s": "s",
    "input_mb": "MB",
    "shuffle_write_mb": "MB",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "driver_residual_s": "s",
}
PROGRESS = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
# span name → layer whose self time it counts toward
SELF_LAYERS = {
    "stream.drain": "stream_engine",
    "stream.resume": "stream_engine",
    "stream.restart": "stream_engine",
    "processor.process_batch": "processor",
    "processor.transform": "transform",
    "validate": "validate",
    "sink.commit": "sink",
    "dlq.write": "dlq",
    "checkpoint.save": "checkpoint",
    "checkpoint.get": "checkpoint",
    "checkpoint.resume": "checkpoint",
    "registry.build": "registry_build",
    "persist.pin": "persist",
}


def _table() -> list[tuple[str, str]]:
    rows = [("session.get_spark_s", "s"), ("session.warm_s", "s")]
    rows += [(f"progress.{p}_ms", "ms") for p in PROGRESS]
    rows += [("progress.overhead_ms", "ms")]
    rows += [
        ("processor.self_ms", "ms"),
        ("processor.jobs_per_batch", "count"),
        ("processor.tasks_per_batch", "count"),
        ("processor.transform_calls", "count"),
        ("processor.attempt_passes", "count"),
        ("retry.soft_records", "count"),
        ("retry.backoff_s", "s"),
        ("checkpoint.save_ms", "ms"),
        ("checkpoint.saves_per_batch", "count"),
        ("checkpoint.resume_ms", "ms"),
        ("checkpoint.resume_skipped_records", "count"),
        ("sink.commit_ms", "ms"),
        ("sink.python_gap_ms", "ms"),
        ("dlq.write_ms", "ms"),
        ("dlq.records", "count"),
        ("validate.ms", "ms"),
        ("validate.retries", "count"),
        ("monitoring.events", "count"),
        ("monitoring.dropped_events", "count"),
        ("monitoring.fold_ratio", "ratio"),
        ("registry.build_s", "s"),
        ("registry.build_jobs", "count"),
        ("persist.pin_calls", "count"),
        ("persist.pin_s", "s"),
        ("query.cold_s", "s"),
        ("query.steady_s", "s"),
    ]
    rows += [(f"exec.{f}", u) for f, u in EXEC_UNITS.items()]
    for fam in FAMILIES:
        rows += [
            (f"registry.build_s.{fam}", "s"),
            (f"query.cold_s.{fam}", "s"),
            (f"query.steady_s.{fam}", "s"),
        ]
        rows += [(f"exec.{f}.{fam}", u) for f, u in EXEC_UNITS.items()]
    for phase in PHASES:
        rows += [(f"exec.{f}.{phase}", EXEC_UNITS[f]) for f in PHASE_EXEC]
    rows += [(f"self.{layer}_s", "s") for layer in dict.fromkeys(SELF_LAYERS.values())]
    rows += [
        ("mem.jvm_rss_mb", "MB"),
        ("mem.python_rss_mb", "MB"),
        ("trace.overhead_frac", "ratio"),
        ("scale.records_per_s_1cpu", "rec/s"),
    ]
    return rows


PER_LAYER: list[tuple[str, str]] = _table()


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _ms(spans: list[Span]) -> float:
    return _median(s.dur * 1000 for s in spans)


def stream_layers(outcome, spans: list[Span], by_span, counters) -> dict[str, float]:
    d = outcome.detail
    batches = d["batches"]
    n = max(1, len(batches))
    named = defaultdict(list)
    for s in spans:
        named[s.name].append(s)
    st = self_times(spans)
    out: dict[str, float] = {}
    for p in PROGRESS:
        out[f"progress.{p}_ms"] = _median(b.durationMs.get(p, 0) for b in batches)
    out["progress.overhead_ms"] = _median(
        b.durationMs["triggerExecution"] - b.durationMs["addBatch"] for b in batches
    )
    pb = named["processor.process_batch"]
    pb_jobs = [j for s in pb for j in jobs_under(s.id, spans, by_span)]
    out["processor.self_ms"] = _median(st[s.id] * 1000 for s in pb)
    out["processor.jobs_per_batch"] = len(pb_jobs) / n
    out["processor.tasks_per_batch"] = sum(j.tasks for j in pb_jobs) / n
    calls = len(named["processor.transform"])
    out["processor.transform_calls"] = calls
    out["processor.attempt_passes"] = calls / max(1, len(pb))

    legs = d["legs"]
    shard_metrics = [m for lg in legs for m in lg["agg"].emit_metrics().values()]
    out["retry.soft_records"] = sum(m.soft_retries for m in shard_metrics)
    out["retry.backoff_s"] = d["counters"]["backoff_s"]
    saves = named["checkpoint.save"]
    out["checkpoint.save_ms"] = _ms(saves)
    out["checkpoint.saves_per_batch"] = len(saves) / n
    out["checkpoint.resume_ms"] = sum(s.dur for s in named["checkpoint.resume"]) * 1000
    resume = [lg for lg in legs if lg["resume"]]
    read = sum(p.numInputRows for lg in resume for p in lg["progress"])
    seen = sum(
        m.records_processed + m.records_failed
        for lg in resume
        for m in lg["agg"].emit_metrics().values()
    )
    out["checkpoint.resume_skipped_records"] = read - seen

    sinks = named["sink.commit"]
    out["sink.commit_ms"] = _ms(sinks)
    sink_jobs = [j for s in sinks for j in jobs_under(s.id, spans, by_span)]
    out["sink.python_gap_ms"] = sum(j.python_gap_s for j in sink_jobs) * 1000 / n
    out["dlq.write_ms"] = _ms(named["dlq.write"])
    out["dlq.records"] = d["dlq_records"]
    out["validate.ms"] = _ms(named["validate"])
    out["validate.retries"] = d["counters"]["validate_retries"]

    dropped = sum(lg["agg"].dropped_events for lg in legs)
    out["monitoring.events"] = counters.get("monitoring.emit_calls", 0) - dropped
    out["monitoring.dropped_events"] = dropped
    folded = sum(m.records_processed for m in shard_metrics)
    out["monitoring.fold_ratio"] = folded / d["committed"] if d["committed"] else 0.0

    top = [s for s in spans if s.name in ("stream.drain", "stream.resume", "stream.restart")]
    jobs = [j for s in top for j in jobs_under(s.id, spans, by_span)]
    for k, v in exec_summary(jobs, sum(s.dur for s in top)).items():
        out[f"exec.{k}"] = v
    return out


def query_layers(outcome, spans: list[Span], by_span) -> dict[str, float]:
    per_query = outcome.detail["per_query"]
    out: dict[str, float] = {}
    done = [r for r in per_query.values() if r["steady_s"]]
    out["registry.build_s"] = sum(r["build_s"] for r in per_query.values())
    out["query.cold_s"] = sum(r["cold_s"] for r in per_query.values())
    out["query.steady_s"] = sum(statistics.median(r["steady_s"]) for r in done)
    for fam in FAMILIES:
        rs = [r for r in per_query.values() if r["family"] == fam]
        out[f"registry.build_s.{fam}"] = sum(r["build_s"] for r in rs)
        out[f"query.cold_s.{fam}"] = sum(r["cold_s"] for r in rs)
        out[f"query.steady_s.{fam}"] = sum(
            statistics.median(r["steady_s"]) for r in rs if r["steady_s"]
        )

    builds = [s for s in spans if s.name == "registry.build"]
    out["registry.build_jobs"] = sum(len(jobs_under(s.id, spans, by_span)) for s in builds)
    pins = [s for s in spans if s.name == "persist.pin"]
    out["persist.pin_calls"] = len(pins)
    # nested pins (a pinned input of a pinned relation) count once
    pin_ids = {s.id for s in pins}
    out["persist.pin_s"] = sum(s.dur for s in pins if s.parent not in pin_ids)

    queries = [s for s in spans if s.name == "query"]

    def summary(tops: list[Span]) -> dict[str, float]:
        jobs = [j for s in tops for j in jobs_under(s.id, spans, by_span)]
        return exec_summary(jobs, sum(s.dur for s in tops))

    for k, v in summary(queries).items():
        out[f"exec.{k}"] = v
    for fam in FAMILIES:
        tops = [s for s in queries if s.attrs.get("family") == fam]
        for k, v in summary(tops).items():
            out[f"exec.{k}.{fam}"] = v
    for phase, name in PHASES.items():
        row = summary([s for s in spans if s.name == name])
        for f in PHASE_EXEC:
            out[f"exec.{f}.{phase}"] = row[f]
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out = {f"self.{layer}_s": 0.0 for layer in SELF_LAYERS.values()}
    for s in spans:
        layer = SELF_LAYERS.get(s.name)
        if layer is not None:
            out[f"self.{layer}_s"] += st[s.id]
    return out
