"""The benchmark's workloads. Each is a closed loop with one client in
one process: the next micro-batch or query starts only after the
previous one finished.

Every workload returns a :class:`Outcome`: the end-to-end metrics, the
operations attempted and failed, the wrong-output count, and the
samples the traced run turns into per-layer metrics.
"""

from __future__ import annotations

import copy
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field, replace
from datetime import datetime

from .check import canonical, query_matches, stream_errors
from .gen import StreamSpec, generate
from .spans import Tracer

# --- stream workloads --------------------------------------------------


@dataclass(frozen=True)
class StreamShape:
    spec: StreamSpec
    resume_leg: bool  # second leg: new processor, same store, fresh checkpoint
    first_leg_share: float = 1.0  # share of files present for the first leg
    validate_every: int = 0  # soft-fail validation once on every k-th epoch
    backoff_ms: float = 0.0  # initial backoff, really slept
    rounds: int = 1  # drains of a fresh copy of the backlog per run


def stream_shapes(seconds: int) -> dict[str, StreamShape]:
    """Backlog sizes scale with ``--seconds``: on a 4-core host one
    micro-batch takes about 1 s, so a stream_ingest drain lasts about
    ``2.5 × seconds`` and the three stream_kinesis rounds (each with a
    backlog of ``0.3 × seconds`` files, read by leg 1 in part and by the
    resume leg in full) about ``1.5 × seconds`` together."""
    return {
        "stream_ingest": StreamShape(
            StreamSpec(shards=8, files=max(10, round(seconds * 2.5)), records_per_file=500),
            resume_leg=False,
        ),
        "stream_kinesis": StreamShape(
            StreamSpec(
                shards=32,
                files=max(3, round(seconds * 0.3)),
                records_per_file=2000,
                string_seq=True,
                soft_share=0.05,
                hard_share=0.01,
            ),
            resume_leg=True,
            first_leg_share=0.6,
            validate_every=3,
            backoff_ms=5.0,
            rounds=3,
        ),
    }


RESTARTS = 5  # stream_ingest: no-work restarts timed for rerun_s


@dataclass
class Outcome:
    metrics: dict[str, float]
    attempted: int
    failed: int
    wrong: int
    denominator: int  # records (streams) or queries: base of wrong_frac
    detail: dict = field(default_factory=dict)  # traced-run inputs


def _user_transform(df):
    """The user map: decode the payload and classify it. ``soft``
    records fail their first attempt only; ``hard`` records always
    fail."""
    from pyspark.sql import functions as F

    kind = F.substring_index("data", ":", 1)
    return (
        df.withColumn("payload_len", F.length("data"))
        .withColumn("payload_hash", F.xxhash64("data"))
        .withColumn(
            "outcome",
            F.when(kind == "hard", "hard")
            .when((kind == "soft") & (F.col("attempt") < 1), "soft")
            .otherwise("success"),
        )
    )


class _TracedStore:
    """Delegates to the real store with a span around each call."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self.get_checkpoint = tracer.wrap("checkpoint.get", store.get_checkpoint)
        self.save_checkpoint = tracer.wrap("checkpoint.save", store.save_checkpoint)
        self.all_checkpoints = tracer.wrap("checkpoint.resume", store.all_checkpoints)


def _read_dlq(path: str) -> list[tuple[str, str]]:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["shard_id", "sequence_number"]
    )
    return list(zip(t["shard_id"].to_pylist(), map(str, t["sequence_number"].to_pylist())))


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the JVM and its Python workers), reaped children included. Unlike
    wall time, it does not grow while the hypervisor of a shared host
    gives these CPUs to another guest."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after "(comm)": state, ppid, ..., utime, stime, cutime, cstime
        f = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(f[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _progress_end(p) -> float:
    """Epoch seconds at which a micro-batch's trigger finished."""
    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return start + p.durationMs.get("triggerExecution", 0) / 1000


WARM_UP_FILES = 2  # files in the untimed warm-up drain


def _stream_round(ctx, name: str, shape: StreamShape, work: str, counters: dict) -> dict:
    """One drain of a fresh backlog: leg 1, then the resume leg
    (stream_kinesis) or the no-work restarts (stream_ingest). Returns the
    legs, the output check and the round's timings."""
    from pyspark.errors import StreamingQueryException

    from go_zoom_kinesis_spark.sources import gzk_sink
    from go_zoom_kinesis_spark.streaming.backoff import ExponentialBackoff
    from go_zoom_kinesis_spark.streaming.checkpoint import JsonFileCheckpointStore
    from go_zoom_kinesis_spark.streaming.monitoring import MetricsAggregator
    from go_zoom_kinesis_spark.streaming.processor import (
        ProcessorConfig,
        SoftValidationError,
        StreamProcessor,
    )
    from go_zoom_kinesis_spark.streaming.sinks import idempotent_parquet_sink

    spec = shape.spec
    tr: Tracer = ctx.tracer
    spark = ctx.spark
    expected = generate(spec, ctx.seed, work)
    src = os.path.join(work, "src")
    later = os.path.join(work, "later")
    files = sorted(os.listdir(src))
    n_first = max(1, round(len(files) * shape.first_leg_share))
    if shape.resume_leg:
        os.makedirs(later)
        for f in files[n_first:]:
            os.replace(os.path.join(src, f), os.path.join(later, f))

    seq_type = "string" if spec.string_seq else "bigint"
    schema = f"shard_id string, sequence_number {seq_type}, ts timestamp, partition_key string, data string"
    store_raw = JsonFileCheckpointStore(os.path.join(work, "store"), key_prefix="bench-")
    store = _TracedStore(store_raw, tr) if tr.enabled else store_raw
    failed_epochs: set = set()

    def sleep(s: float) -> None:
        counters["backoff_s"] += s
        time.sleep(s)

    def validate(items, epoch: int) -> None:
        key = (len(legs), epoch)
        if shape.validate_every and epoch % shape.validate_every == shape.validate_every - 1:
            if key not in failed_epochs:
                failed_epochs.add(key)
                counters["validate_retries"] += 1
                raise SoftValidationError(f"epoch {epoch}: transient validation failure")
        missing = {"shard_id", "sequence_number", "outcome"} - set(items.columns)
        if missing:
            raise SoftValidationError(f"missing columns {sorted(missing)}")

    def leg(idx: int, span: str):
        out = os.path.join(work, f"out{idx}")
        dlq = os.path.join(work, f"dlq{idx}")
        agg = MetricsAggregator()
        sunk: set[int] = set()  # epochs that delivered records to the sink
        first_cpu: list[float] = []  # CPU clock when the first result was committed

        def sink(df, epoch: int) -> None:
            gzk_sink.commit_batch(df, out, epoch)
            if not sunk:
                first_cpu.append(tree_cpu_s())
            sunk.add(epoch)

        if tr.enabled:
            emit = agg.emit

            def counted_emit(*a, **kw):
                tr.count("monitoring.emit_calls")
                emit(*a, **kw)

            agg.emit = counted_emit
        proc = StreamProcessor(
            spark,
            processor=tr.wrap("processor.transform", _user_transform),
            store=store,
            config=ProcessorConfig(
                checkpoint_location=os.path.join(work, f"ckpt{idx}"),
                backoff=ExponentialBackoff(
                    initial=shape.backoff_ms / 1000, maximum=0.05, jitter_factor=0
                ),
            ),
            before_checkpoint=tr.wrap("validate", validate) if shape.validate_every else None,
            aggregator=agg,
            sink=tr.wrap("sink.commit", sink),
            dlq_sink=tr.wrap("dlq.write", idempotent_parquet_sink(dlq)),
            sleep=sleep,
        )
        proc.process_batch = tr.wrap("processor.process_batch", proc.process_batch)
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        with tr.span(span) as sp:
            tr.default_parent = sp.id if sp else None
            t0, c0 = time.time(), tree_cpu_s()
            q = proc.run_stream(stream)
            try:
                q.awaitTermination()
                err = None
            except StreamingQueryException as e:
                err = e
            t1, c1 = time.time(), tree_cpu_s()
        return {
            "t0": t0,
            "t1": t1,
            "cpu_s": c1 - c0,
            "first_cpu_s": first_cpu[0] - c0 if first_cpu else 0.0,
            "progress": [p for p in q.recentProgress if "addBatch" in p.durationMs],
            "sunk": sunk,
            "agg": agg,
            "out": out,
            "dlq": dlq,
            "error": err,
            "resume": span == "stream.resume",
        }

    legs: list[dict] = []
    t_start = time.time()
    legs.append(leg(1, "stream.drain"))
    if shape.resume_leg:
        for f in files[n_first:]:
            os.replace(os.path.join(later, f), os.path.join(src, f))
        legs.append(leg(2, "stream.resume"))
    t_end = time.time()
    if not shape.resume_leg:
        # restarts on the same checkpoint: Spark's offset log says all
        # input is consumed, so these measure a restart with no work
        for _ in range(RESTARTS):
            legs.append(leg(1, "stream.restart"))

    committed: list[tuple[str, str]] = []
    dlq_keys: list[tuple[str, str]] = []
    for lg in legs[: 2 if shape.resume_leg else 1]:
        for row in gzk_sink.read_committed(lg["out"]):
            committed.append((row["shard_id"], str(row["sequence_number"])))
        dlq_keys.extend(_read_dlq(lg["dlq"]))
    errors = stream_errors(expected, committed, dlq_keys, store_raw.all_checkpoints())

    # latency samples: micro-batches that delivered records; the resume
    # leg's fully skipped batches are timed by rerun_s instead
    trig = [
        p.durationMs["triggerExecution"] / 1000
        for lg in legs
        for p in lg["progress"]
        if p.batchId in lg["sunk"]
    ]
    first = [p for p in legs[0]["progress"] if p.batchId in legs[0]["sunk"]]
    return {
        "legs": legs,
        "committed": len(committed),
        "dlq_records": len(dlq_keys),
        "errors": errors,
        "records": expected["records"],
        "planned": len(files) + (n_first if shape.resume_leg else 0),
        "trig": trig,
        "drain_s": t_end - t_start,
        "first_result_s": _progress_end(first[0]) - legs[0]["t0"] if first else 0.0,
        "rerun_s": statistics.median(lg["t1"] - lg["t0"] for lg in legs[1:]),
        "drain_cpu_s": sum(lg["cpu_s"] for lg in legs[: 2 if shape.resume_leg else 1]),
        "first_result_cpu_s": legs[0]["first_cpu_s"],
        "rerun_cpu_s": statistics.median(lg["cpu_s"] for lg in legs[1:]),
    }


def run_stream(ctx, name: str, files: int | None = None, rounds: int | None = None) -> Outcome:
    """``rounds`` drains of the same seeded backlog, each on fresh
    directories and a fresh store. Throughput pools every round, as do
    batch latencies; one-off figures (first result, rerun) are the median
    over rounds."""
    shape = stream_shapes(ctx.seconds)[name]
    if files is not None:
        shape = replace(shape, spec=replace(shape.spec, files=files))
    counters = {"validate_retries": 0, "backoff_s": 0.0}
    rs = [
        _stream_round(ctx, name, shape, os.path.join(ctx.work, name, f"round{i}"), counters)
        for i in range(rounds or shape.rounds)
    ]
    legs = [lg for r in rs for lg in r["legs"]]
    batches = [p for lg in legs for p in lg["progress"]]
    trig = [t for r in rs for t in r["trig"]]
    committed = sum(r["committed"] for r in rs)
    errors: dict[str, int] = {}
    for r in rs:
        for k, v in r["errors"].items():
            errors[k] = errors.get(k, 0) + v
    failed = sum(1 for lg in legs if lg["error"] is not None)
    for lg in legs:
        if lg["error"] is not None:
            print(f"[perfbench] {name}: stream failed: {lg['error']}", flush=True)
    metrics = {
        "records_per_s": committed / sum(r["drain_s"] for r in rs),
        "batch_s_p50": statistics.median(trig) if trig else 0.0,
        "batch_s_p90": statistics.quantiles(trig, n=10)[-1] if len(trig) > 1 else 0.0,
        "first_result_s": statistics.median(r["first_result_s"] for r in rs),
        "rerun_s": statistics.median(r["rerun_s"] for r in rs),
        "records_per_cpu_s": committed / sum(r["drain_cpu_s"] for r in rs),
        "total_cpu_s": sum(r["drain_cpu_s"] for r in rs),
        "first_result_cpu_s": statistics.median(r["first_result_cpu_s"] for r in rs),
        "rerun_cpu_s": statistics.median(r["rerun_cpu_s"] for r in rs),
    }
    detail = {
        "legs": legs,
        "batches": batches,
        "counters": counters,
        "committed": committed,
        "dlq_records": sum(r["dlq_records"] for r in rs),
        "errors": errors,
        "batch_s": trig,
    }
    return Outcome(
        metrics=metrics,
        attempted=max(sum(r["planned"] for r in rs), len(batches)),
        failed=failed,
        wrong=sum(errors.values()),
        denominator=sum(r["records"] for r in rs),
        detail=detail,
    )


def run_stream_warm(ctx, name: str) -> Outcome:
    """Drain a small backlog of the same shape, untimed and untraced, so
    the JIT and Spark's streaming code paths are warm; then the timed
    run."""
    warm = copy.copy(ctx)
    warm.tracer = Tracer("warm-up", enabled=False)
    warm.work = os.path.join(ctx.work, "warm-up")
    run_stream(warm, name, files=WARM_UP_FILES, rounds=1)
    clean(warm.work)
    return run_stream(ctx, name)


# --- query_mix ---------------------------------------------------------

# Frozen list, by family. Curation queries spend most of their time in
# the Python build (eager pins, driver collects); relational ones in JVM
# planning, shuffle and scan; pyworker ones in Python/Arrow workers; the
# stream analogs are the batch twins of the streaming consumer.
QUERY_MIX = {
    "curation": [
        "simhash_hamming_join",
        "dedup_components_star",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_two_tier_pipeline",
        "similarity_prefix_join",
        "tokenizer_apply_bpe",
        "profile_columns",
    ],
    "relational": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q8_market_share",
        "q9_product_type_profit",
        "q18_large_volume",
        "q21_only_late_supplier",
    ],
    "pyworker": [
        "entity_resolution_pipeline",
        "dedup_embedding_nearest",
        "datasource_scan_rollup",
        "arrow_scalar_udf_norm",
    ],
    "stream_analog": ["windowed_metrics", "checkpoint_commit", "record_map"],
}
# Fixed run order: each query's cold run follows the same predecessor
# in every run, so the sums do not move with the seed. The tables are
# fixed too; the seed only names the run.
QUERY_ORDER = [(fam, q) for fam, qs in QUERY_MIX.items() for q in qs]
STEADY_RUNS = 1


# DuckDB results for the shipped tables, in the cache's key format, so a
# fresh checkout does not spend half a minute on oracles before its first
# query_mix result. A query whose SQL changed misses and is recomputed.
ORACLE_BUNDLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "oracle-sf0.01.json")


def _oracle_bundle() -> dict:
    import json

    if not os.path.exists(ORACLE_BUNDLE):
        return {}
    with open(ORACLE_BUNDLE) as fh:
        return json.load(fh)


def _oracle(ctx, name: str, sql: str) -> dict:
    """DuckDB's canonical result for ``sql``, cached in the checkout's
    build directory keyed by the SQL and the data files."""
    import hashlib
    import json

    import duckdb

    data = ctx.data_dir
    tables = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
    key = hashlib.sha256(sql.encode())
    for t in tables:
        st = os.stat(os.path.join(data, t))
        key.update(f"{t}:{st.st_size}".encode())
    entry = f"oracle-{name}-{key.hexdigest()[:16]}"
    if ctx.oracles is None:
        ctx.oracles = _oracle_bundle()
    if entry in ctx.oracles:
        return ctx.oracles[entry]
    path = os.path.join(ctx.cache_dir, entry + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    try:
        for t in tables:
            view = t[: -len(".parquet")]
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{os.path.join(data, t)}'")
        rel = con.execute(sql)
        result = canonical([d[0] for d in rel.description], rel.fetchall())
    finally:
        con.close()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, path)
    return result


def run_query_mix(ctx, name: str) -> Outcome:
    from go_zoom_kinesis_spark import registry

    tr: Tracer = ctx.tracer
    spark = ctx.spark
    queries = registry.all_queries()
    oracles = registry.all_oracle_sql()
    first_result = rerun = 0.0
    failed = wrong = rows_out = 0
    per_query: dict[str, dict] = {}

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for fam, q in QUERY_ORDER:
        rec = {"family": fam, "build_s": 0.0, "cold_s": 0.0, "steady_s": [], "cpu_s": []}
        per_query[q] = rec
        spark.catalog.clearCache()
        t0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            with tr.span("query", query=q, family=fam):
                with tr.span("registry.build", query=q, family=fam):
                    df = queries[q](spark, ctx.data_dir)
                t1 = time.perf_counter()
                rec["build_s"] = t1 - t0
                # the first result: collected to the driver, then checked
                with tr.span("query.cold", query=q, family=fam):
                    rows = [tuple(r) for r in df.collect()]
                rec["cold_s"] = time.perf_counter() - t1
                rec["cpu_s"].append(tree_cpu_s() - c0)
                for _ in range(STEADY_RUNS):
                    with tr.span("query.steady", query=q, family=fam):
                        a, ca = time.perf_counter(), tree_cpu_s()
                        noop(df)
                        rec["steady_s"].append(time.perf_counter() - a)
                        rec["cpu_s"].append(tree_cpu_s() - ca)
        except Exception:
            # a query that raises still costs what it spent; it is
            # counted as failed, never dropped from the sums
            failed += 1
            rec["error"] = traceback.format_exc(limit=3)
            print(f"[perfbench] {q} failed:\n{rec['error']}", flush=True)
            first_result += time.perf_counter() - t0
            rec["cpu_s"] = [tree_cpu_s() - c0]
            continue
        first_result += rec["build_s"] + rec["cold_s"]
        rerun += statistics.median(rec["steady_s"])
        rows_out += len(rows)
        # oracle check, outside the timed region
        ok = query_matches(canonical(list(df.columns), rows), _oracle(ctx, q, oracles[q]))
        rec["correct"] = ok
        if not ok:
            wrong += 1
            print(f"[perfbench] {q}: result differs from the DuckDB oracle", flush=True)
        del df

    done = [r for r in per_query.values() if r["steady_s"]]
    rerun_cpu = sum(statistics.median(r["cpu_s"][1:]) for r in done)
    latency = sorted(r["build_s"] + r["cold_s"] for r in done)
    metrics = {
        "records_per_s": rows_out / rerun if rerun else 0.0,
        "batch_s_p50": statistics.median(latency) if latency else 0.0,
        "batch_s_p90": statistics.quantiles(latency, n=10)[-1] if len(latency) > 1 else 0.0,
        "first_result_s": first_result,
        "rerun_s": rerun,
        "records_per_cpu_s": rows_out / rerun_cpu if rerun_cpu else 0.0,
        "first_result_cpu_s": sum(r["cpu_s"][0] for r in per_query.values() if r["cpu_s"]),
        "rerun_cpu_s": rerun_cpu,
        "total_cpu_s": sum(sum(r["cpu_s"]) for r in per_query.values()),
    }
    return Outcome(
        metrics=metrics,
        attempted=len(per_query),
        failed=failed,
        wrong=wrong,
        denominator=len(per_query),
        detail={"per_query": per_query},
    )


WORKLOADS = {
    "stream_ingest": run_stream_warm,
    "stream_kinesis": run_stream_warm,
    "query_mix": run_query_mix,
}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
