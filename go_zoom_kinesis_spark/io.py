"""Table loading over the driver-generated parquet test data.

``TESTDATA.md``: tables ``region nation customer supplier part orders
lineitem events documents embeddings`` live as one parquet file each
under ``/root/testdata/sf{0.001,0.01,0.1}/``.

Parquet scans are the engine's only batch source; Catalyst handles
predicate pushdown and column pruning, so loaders stay dumb — no
caching, no collect, no schema mangling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _normalize_ns_timestamps(df: DataFrame) -> DataFrame:
    """Normalize timestamp columns to session-local TIMESTAMP.

    Two generator variants exist in the wild:

    - TIMESTAMP(NANOS), which Spark's parquet reader rejects; with
      ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a long of
      nanoseconds. Convert to a microsecond timestamp (floor division —
      identical to DuckDB's ns→µs truncation).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark ≥3.4 infers
      as TIMESTAMP_NTZ. NTZ cannot cast to numeric epoch; cast to
      TIMESTAMP (LTZ). The session timezone is pinned to UTC, so the
      wall-clock value — and therefore every epoch extraction and the
      DuckDB-oracle hash — is unchanged.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name in _TS_COLUMNS and isinstance(field.dataType, T.LongType):
            # integer division — nanos ~1.7e18 exceed double precision
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"{field.name} div 1000")),
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


# Every timestamp column the generator has ever shipped (TESTDATA.md
# schemas). Under nanosAsLong a NANOS column arrives as a plain long —
# Spark's schema carries no marker of what it was — so normalization
# must key on the known column names, not just "ts": generations have
# shipped l_shipdate / o_orderdate as TIMESTAMP(NANOS) too.
_TS_COLUMNS = frozenset({"ts", "o_orderdate", "l_shipdate"})


def fan_out_narrow(df: DataFrame) -> DataFrame:
    """Repartition a narrow scan up to the session's default parallelism
    before a CPU-heavy projection. A single-file parquet table arrives
    as ONE input partition (row-group granularity blocks splitting), so
    per-row work like shingling/hashing serializes onto one core;
    shuffling the few raw rows is cheap next to the projection itself.
    Inputs already at ≥ cores partitions pass through untouched — at
    100 TB the scan is thousands of splits and this is a no-op (never a
    shuffle of the full raw text). The target is always the session's
    default parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # metadata-only checks: df.rdd.getNumPartitions() would materialize
    # the RDD conversion path on every call; the input-file count is the
    # same signal (files ≥ cores ⇒ the scan already parallelizes), and
    # an already-fanned frame short-circuits via the marker
    if getattr(df, "_gzk_fanned_out", False):
        return df
    files = df.inputFiles()
    if files and len(files) >= target:
        return df
    wide = df.repartition(target)
    wide._gzk_fanned_out = True
    return wide


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return _normalize_ns_timestamps(spark.read.parquet(table_path(sf_dir, name)))
