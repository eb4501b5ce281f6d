"""perfbench: the repository's end-to-end benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload stream_kinesis --seed 1 --seconds 30 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` makes the traced run and reports the per-layer metrics.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The lines before it print
every metric by name with its unit, plus the run fingerprint. See
``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # the first set-up sample starts here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "go_zoom_kinesis_spark"
SETUP_SAMPLES = 5
SCALE_FILES = 6  # micro-batches in the traced run's single-core drain
END_TO_END = {
    "setup_s": "s",
    "records_per_cpu_s": "rec/cpu-s",
    "rerun_cpu_s": "cpu-s",
    "total_cpu_s": "cpu-s",
}
# printed with the others, but not in BENCHMARK.json: on a shared host
# wall times move with the host's load by more than any bound could
# absorb, a stream's first result is one sample per round, p90 rests on
# one or two batches, and the JVM's heap growth differs from run to run
PRINTED_ONLY = {
    "first_result_cpu_s": "cpu-s",
    "records_per_s": "rec/s",
    "batch_s_p50": "s",
    "batch_s_p90": "s",
    "first_result_s": "s",
    "rerun_s": "s",
    "peak_rss_mb": "MB",
}


@dataclass
class Ctx:
    seed: int
    seconds: int
    tracer: object
    work: str  # per-run scratch, removed at exit
    cache_dir: str  # survives between runs in one checkout
    data_dir: str
    oracles: dict | None = None  # the shipped oracle results, loaded on first use
    spark: object = None
    setup: dict = field(default_factory=dict)
    fingerprint: dict = field(default_factory=dict)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Point every file Spark, the JVM and Python workers write into the
    run's scratch dir, and let workers import the package from any
    working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(ctx: Ctx, event_log: str | None = None):
    from go_zoom_kinesis_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", extra_conf=conf)


def _warm(spark) -> None:
    spark.range(100_000).selectExpr("sum(id)", "count(distinct id % 97)").collect()


def set_up(ctx: Ctx, event_log: str | None = None) -> None:
    """Set the session up ``SETUP_SAMPLES`` times; the first sample runs
    from process start (imports and JVM launch included), later ones
    rebuild the SparkContext in the same JVM. ``setup_s`` is the median
    of the samples' CPU seconds (driver and JVM), which unlike their wall
    time does not grow while a shared host lends the CPUs elsewhere."""
    from perfbench.workloads import tree_cpu_s

    samples, cpu, get_s, warm_s = [], [], [], []
    for i in range(SETUP_SAMPLES):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = T_PROCESS if i == 0 else time.perf_counter()
        c0 = 0.0 if i == 0 else tree_cpu_s()
        a = time.perf_counter()
        with ctx.tracer.span("session.get_spark"):
            ctx.spark = start_session(ctx, event_log if i == SETUP_SAMPLES - 1 else None)
        b = time.perf_counter()
        with ctx.tracer.span("session.warm"):
            _warm(ctx.spark)
        c = time.perf_counter()
        cpu.append(tree_cpu_s() - c0)
        samples.append(c - t0)
        get_s.append(b - a)
        warm_s.append(c - b)
    ctx.setup = {
        "samples": samples,
        "cpu_samples": cpu,
        "setup_s": statistics.median(cpu),
        "session.get_spark_s": statistics.median(get_s),
        "session.warm_s": statistics.median(warm_s),
    }


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def memory() -> dict[str, float]:
    proc = _jvm_proc()
    return {
        "mem.python_rss_mb": _vm_hwm_mb("self"),
        "mem.jvm_rss_mb": _vm_hwm_mb(proc.pid) if proc is not None else 0.0,
    }


def shut_down(ctx: Ctx) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fingerprint(ctx: Ctx, trace: bool) -> dict:
    import duckdb
    import pyspark

    mem_total = ""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_total = line.split(":", 1)[1].strip()
    digest = hashlib.sha256()
    for base, _, names in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(base, n), "rb") as fh:
                    digest.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        commit = ""
    conf = ctx.spark.sparkContext.getConf() if ctx.spark is not None else None
    return {
        "nproc": _cpus(),
        "MemTotal": mem_total,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "master": ctx.spark.sparkContext.master if ctx.spark else None,
        "shuffle_partitions": ctx.spark.conf.get("spark.sql.shuffle.partitions") if ctx.spark else None,
        "driver_memory": conf.get("spark.driver.memory", "1g") if conf else None,
        "git_commit": commit or "unknown (not a git checkout)",
        "source_sha256": digest.hexdigest(),
        "seed": ctx.seed,
        "trace": trace,
    }


# --- traced run --------------------------------------------------------


def _patch_pin(tracer):
    """Wrap ``persist.pin`` in a span wherever the package bound it.
    Returns the undo function."""
    from go_zoom_kinesis_spark import persist

    orig = persist.pin
    traced = tracer.wrap("persist.pin", orig)
    patched = [
        mod
        for name, mod in list(sys.modules.items())
        if name.startswith(PACKAGE) and getattr(mod, "pin", None) is orig
    ]
    for mod in patched:
        mod.pin = traced

    def undo():
        for mod in patched:
            mod.pin = orig

    return undo


def _key_time(name: str, m: dict) -> float:
    """The end-to-end time the tracing overhead is judged on."""
    if name == "query_mix":
        return m["first_result_s"] + m["rerun_s"]
    return 1.0 / m["records_per_s"] if m["records_per_s"] else 0.0


def _untraced_path(ctx: Ctx, name: str) -> str:
    return os.path.join(ctx.cache_dir, f"untraced-{name}-{ctx.seconds}s.jsonl")


def _untraced_reference(ctx: Ctx, name: str) -> float | None:
    path = _untraced_path(ctx, name)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        vals = [json.loads(line)["key_time"] for line in fh if line.strip()]
    return statistics.median(vals) if vals else None


def _record_untraced(ctx: Ctx, name: str, metrics: dict) -> None:
    with open(_untraced_path(ctx, name), "a") as fh:
        fh.write(json.dumps({"seed": ctx.seed, "key_time": _key_time(name, metrics)}) + "\n")


def traced_run(ctx: Ctx, name: str, workloads, layers, spans_mod):
    """The traced pass with the event log on, then the single-core
    drain. Returns (outcome, per-layer metrics)."""
    tracer = ctx.tracer
    ref = _untraced_reference(ctx, name)
    event_log = os.path.join(ctx.work, "eventlog")
    set_up(ctx, event_log)
    setup = dict(ctx.setup)
    undo = _patch_pin(tracer)
    try:
        outcome = workloads.WORKLOADS[name](ctx, name)
    finally:
        undo()
    mem = memory()
    ctx.fingerprint = fingerprint(ctx, trace=True)
    ctx.spark.stop()  # flushes the event log
    ctx.spark = None
    jobs = spans_mod.read_event_logs(event_log)
    spans = tracer.spans
    by_span = spans_mod.attribute(jobs, spans)

    out = {metric: 0.0 for metric, _ in layers.PER_LAYER}
    out["session.get_spark_s"] = setup["session.get_spark_s"]
    out["session.warm_s"] = setup["session.warm_s"]
    if name == "query_mix":
        out.update(layers.query_layers(outcome, spans, by_span))
    else:
        out.update(layers.stream_layers(outcome, spans, by_span, tracer.counters))
    out.update(layers.self_time_by_layer(spans))
    out.update(mem)
    traced_key = _key_time(name, outcome.metrics)
    # the reference is earlier untraced runs in this checkout: an untraced
    # pass in this process would share a warming JVM with the traced one,
    # and one in a child process would take the run past its time limit
    out["trace.overhead_frac"] = traced_key / ref - 1 if ref else 0.0
    if not ref:
        print(f"perfbench: no untraced {name} run in this checkout; trace.overhead_frac reads 0")

    if name != "query_mix":
        # the scaling baseline: a short stream_ingest drain on one core
        tracer.enabled = False
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            ctx.spark = start_session(ctx)
            _warm(ctx.spark)
            small = Ctx(**{**ctx.__dict__, "work": os.path.join(ctx.work, "scale")})
            scale = workloads.run_stream(small, "stream_ingest", files=SCALE_FILES)
            out["scale.records_per_s_1cpu"] = scale.metrics["records_per_s"]
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
        tracer.enabled = True
    return outcome, out


# --- main --------------------------------------------------------------


def _report(name: str, unit: str, value) -> None:
    print(f"  {name:<40} {value:>14.6g} {unit}", flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, spans, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    build = os.path.join(ROOT, ".bench_build", "perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    ctx = Ctx(
        seed=args.seed,
        seconds=args.seconds,
        tracer=spans.Tracer(run_id, enabled=bool(args.trace)),
        work=os.path.join(build, "run-" + run_id),
        cache_dir=os.path.join(build, "cache"),
        data_dir=os.path.join(ROOT, "perfbench", "data", "sf0.01"),
    )
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.cache_dir, exist_ok=True)
    _prepare_env(ctx.work)
    try:
        if args.trace:
            outcome, metrics = traced_run(ctx, args.workload, workloads, layers, spans)
            units = dict(layers.PER_LAYER)
        else:
            set_up(ctx)
            outcome = workloads.WORKLOADS[args.workload](ctx, args.workload)
            mem = memory()
            metrics = {"setup_s": ctx.setup["setup_s"], **outcome.metrics}
            metrics["peak_rss_mb"] = mem["mem.python_rss_mb"] + mem["mem.jvm_rss_mb"]
            units = END_TO_END
            _record_untraced(ctx, args.workload, outcome.metrics)
            ctx.fingerprint = fingerprint(ctx, trace=False)
    finally:
        shut_down(ctx)
        traces = os.path.join(build, "traces")
        if args.trace:
            os.makedirs(traces, exist_ok=True)
            ctx.tracer.dump(os.path.join(traces, run_id + ".jsonl"))
        shutil.rmtree(ctx.work, ignore_errors=True)

    failed_frac = outcome.failed / outcome.attempted
    wrong_frac = outcome.wrong / outcome.denominator if outcome.denominator else 0.0
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    shown = units if args.trace else {**END_TO_END, **PRINTED_ONLY}
    for k, unit in shown.items():
        _report(k, unit, metrics[k])
    _report("failed_frac", "ratio", failed_frac)
    _report("wrong_frac", "ratio", wrong_frac)
    for kind in ("samples", "cpu_samples"):
        print(f"  setup {kind}: " + ", ".join(f"{s:.3f}" for s in ctx.setup.get(kind, [])))
    if "errors" in outcome.detail:
        print(f"  stream check: {outcome.detail['errors']}")
    print("fingerprint " + json.dumps(ctx.fingerprint, sort_keys=True))
    record = {
        "fingerprint": ctx.fingerprint,
        "workload": args.workload,
        "failed_frac": failed_frac,
        "wrong_frac": wrong_frac,
        "metrics": metrics,
        "setup_samples": ctx.setup.get("samples", []),
        "setup_cpu_samples": ctx.setup.get("cpu_samples", []),
        "per_query": outcome.detail.get("per_query"),
        "batch_s": outcome.detail.get("batch_s"),
    }
    results = os.path.join(build, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "correct": outcome.wrong == 0 and outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
