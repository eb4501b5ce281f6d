"""SparkSession factory.

Local-mode defaults tuned for the driver harness (local[$SPARK_GRAFT_CPUS],
single JVM). At cluster scale the same session options hold: AQE handles
runtime re-planning/skew, shuffle partitions are sized explicitly, UTC
timezone pins timestamp semantics for oracle comparison.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for ``local[N]`` and the shuffle width: ``$SPARK_GRAFT_CPUS``
    when set, otherwise the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


# runtime confs every engine session carries, whoever built it
_ENGINE_CONFS = {
    # UTC pins timestamp semantics for oracle-comparable results
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS); read as long, the
    # loader converts to micros (matches DuckDB's ns→µs truncation)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # naive-micros parquet timestamps read as TIMESTAMP (UTC session
    # tz), not TIMESTAMP_NTZ — keeps epoch casts legal and matches
    # DuckDB's naive-timestamp epoch() semantics
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def get_spark(
    app_name: str = "go-zoom-kinesis-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is enabled so skewed joins/aggregations re-plan at runtime —
    essential at 100 TB, harmless at sf0.001.
    """
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_ENGINE_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-provided session.

    The driver hands us its own SparkSession; only runtime-mutable confs
    may be set here (UTC matters for oracle-comparable timestamps).
    """
    for k, v in {
        **_ENGINE_CONFS,
        # right-size shuffles for the local test scale (runtime-settable;
        # a cluster deployment would size this to cores × 2-3)
        "spark.sql.shuffle.partitions": str(local_cpus()),
        # restore runtime-bloom-filter injection gates to their cluster
        # defaults — operators/layout.py forces them per-query at local
        # test scale and this reset stops the override leaking into
        # whatever query the driver runs next on the shared session
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — keep going
    return spark
