"""Batch analogs of the reference's streaming dataflow stages.

The reference (`/root/reference`, Rust) consumes Kinesis shards in
parallel, maps each record through a user function with soft/hard retry
classification, checkpoints the max successful sequence per shard, and
aggregates per-shard windowed metrics. Each query below re-expresses one
stage (SURVEY.md §2.1 row ids in brackets) over the ``events`` table
using the fixture mapping of FIXTURES.md §B:

  shard_id          = user_id % N_SHARDS     (src/processor.rs:256-258)
  sequence_number   = event_id; string form lpad(event_id, 20, '0')
                      (src/processor.rs:233-235; 100-digit-safe ordering
                       per src/tests/initial_position_tests.rs:717)
  partition_key     = cast(user_id as string) (src/processor.rs:251-253)
  arrival timestamp = ts                      (src/processor.rs:241-245)
  payload           = props JSON              (src/lib.rs:69)
  outcome           = 'hard' if event_type='error', 'soft' if
                      event_id%17==0 else 'success'
                      (src/error.rs:213-230 classification)

Everything is built-in `pyspark.sql.functions` — no Python UDFs — so the
whole surface stays inside whole-stage codegen and scales by partition
count alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import fan_out_narrow, load_table
from ..persist import pin

N_SHARDS = 8
# S4/S5: GetRecords batch_size default 100 (src/processor.rs:373) ×
# max_batch_retrieval_loops default 10 (src/processor.rs:384)
BATCH_SIZE = 100
MAX_BATCH_LOOPS = 10

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def with_envelope(df: DataFrame) -> DataFrame:
    """Attach the Kinesis-record envelope columns (FIXTURES.md §B)."""
    return df.select(
        "*",
        F.pmod(F.col("user_id"), F.lit(N_SHARDS)).alias("shard_id"),
        F.lpad(F.col("event_id").cast("string"), 20, "0").alias("sequence_number"),
        F.col("user_id").cast("string").alias("partition_key"),
    )


def with_outcome(df: DataFrame) -> DataFrame:
    """Soft/hard/success classification (src/error.rs:213-230): hard ⇒
    skip permanently, soft ⇒ retried until success, else success."""
    return df.withColumn(
        "outcome",
        F.when(F.col("event_type") == "error", F.lit("hard"))
        .when(F.col("event_id") % 17 == 0, F.lit("soft"))
        .otherwise(F.lit("success")),
    )


# --- S1: shard discovery (src/client.rs:98-106) -------------------------


def shard_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """list_shards → the distinct shard ids present in the stream."""
    ev = _events(spark, sf_dir)
    return ev.select(
        F.pmod(F.col("user_id"), F.lit(N_SHARDS)).alias("shard_id")
    ).distinct()


# --- S2: stream positioning (src/client.rs:108-165) ---------------------


def position_after_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AtSequenceNumber resume: records strictly after the stored
    checkpoint (AfterSequenceNumber semantics, src/processor.rs:825-837).
    The filter is a pushed-down parquet predicate."""
    ev = with_envelope(_events(spark, sf_dir))
    return ev.filter(F.col("event_id") > 500).select(
        "event_id", "shard_id", "sequence_number", "partition_key", "ts"
    )


def position_at_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AtTimestamp resume (src/client.rs:150-158): ts >= t."""
    ev = with_envelope(_events(spark, sf_dir))
    return ev.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp")).select(
        "event_id", "shard_id", "ts", "event_type"
    )


# --- S4/S5: record batch scan with batch caps ---------------------------


def batch_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One accumulated processing batch per shard: ordered scan capped at
    batch_size × max_batch_retrieval_loops records
    (src/processor.rs:997-1138, caps src/processor.rs:1013-1022)."""
    ev = with_envelope(_events(spark, sf_dir))
    w = Window.partitionBy("shard_id").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BATCH_SIZE * MAX_BATCH_LOOPS)
        .select("shard_id", "event_id", "rn")
    )


# --- T1: per-record user map (src/processor.rs:133-155) -----------------


def record_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user `process_record` surface: decode the opaque payload
    (from_json = the doc example's UTF-8 decode, src/processor.rs:51-53),
    transform, and drop Ok(None) records (src/processor.rs:1502-1505).

    Spark-first: from_json + arithmetic stays in codegen; no Python.

    r13 (guide §2.5): fanned out — the per-row from_json parse of the
    props payload otherwise runs on the single scan partition.
    """
    ev = with_envelope(fan_out_narrow(_events(spark, sf_dir)))
    decoded = ev.withColumn("k", F.from_json(F.col("props"), PROPS_SCHEMA)["k"])
    return (
        decoded.filter(F.col("k") % 5 != 0)  # Ok(None) ⇒ filtered out
        .select(
            "event_id",
            "shard_id",
            "k",
            # no in-query round(): value·1.1 is one IEEE multiply —
            # bit-identical in both engines — while round(x, 4) splits
            # on half-boundaries differently (repo determinism rule)
            F.when(
                F.col("event_type") == "purchase", F.col("value") * 1.1
            )
            .otherwise(F.col("value"))
            .alias("adjusted_value"),
        )
    )


# --- T2: retry-with-error-classification (src/processor.rs:1490-1525) ---


def failure_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard outcome counts: soft ⇒ retried to success
    (src/processor.rs:1506-1510), hard ⇒ skipped permanently
    (src/processor.rs:1511-1514). Partial aggregation (map-side combine)
    makes this a single shuffle of N_SHARDS rows regardless of input size.
    """
    ev = with_outcome(with_envelope(_events(spark, sf_dir)))
    return ev.groupBy("shard_id").agg(
        F.count(F.when(F.col("outcome") == "success", 1)).alias("n_success"),
        F.count(F.when(F.col("outcome") == "soft", 1)).alias("n_soft"),
        F.count(F.when(F.col("outcome") == "hard", 1)).alias("n_hard"),
        F.max(F.when(F.col("outcome") != "hard", F.col("event_id"))).alias(
            "last_successful_seq"
        ),
    )


# --- K1: checkpoint sink (src/processor.rs:1561-1629) -------------------


def checkpoint_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint value = max successfully-processed sequence per shard
    (fold at src/processor.rs:1542-1560; save at src/processor.rs:1607-1629).
    Hard-failed records are skipped but do not block the checkpoint."""
    ev = with_outcome(with_envelope(_events(spark, sf_dir)))
    return ev.filter(F.col("outcome") != "hard").groupBy("shard_id").agg(
        F.max("event_id").alias("checkpoint_seq"),
        F.lpad(F.max("event_id").cast("string"), 20, "0").alias("checkpoint_seq_str"),
        F.count("*").alias("n_committed"),
    )


# --- A2: running per-shard metrics (src/monitoring/metrics.rs:114-302) --


def metrics_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MetricsAggregator equivalent: per-shard processed/failed/retry
    counts plus running avg/max (avg src/monitoring/metrics.rs:149-153,
    max :154-156) — one hash aggregate, N_SHARDS output rows."""
    ev = with_outcome(with_envelope(_events(spark, sf_dir)))
    return ev.groupBy("shard_id").agg(
        F.count(F.when(F.col("outcome") != "hard", 1)).alias("records_processed"),
        F.count(F.when(F.col("outcome") == "hard", 1)).alias("records_failed"),
        F.count(F.when(F.col("outcome") == "soft", 1)).alias("soft_retries"),
        # decimal-exact sum → double ÷ count: bit-identical on both
        # engines. No in-query round() — Spark and DuckDB disagree on
        # round-half boundaries for doubles (seen at sf0.1); emit the
        # exact double and let consumers format.
        (F.sum(F.col("value").cast("decimal(25,6)")).cast("double") / F.count("*"))
        .alias("avg_value"),
        F.max("value").alias("max_value"),
        F.min("ts").alias("first_event_ts"),
        F.max("ts").alias("last_event_ts"),
    )


# --- A3: windowed metrics emission (src/monitoring/metrics.rs:304-356) --


def windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window per-shard metrics (metrics_interval ticks,
    src/monitoring/types.rs:32) + the checkpoint analog max(seq). Uses
    F.window so the identical expression runs under Structured Streaming
    with a watermark (state eviction = the reference's idle-shard drop,
    src/monitoring/metrics.rs:357-360)."""
    ev = with_envelope(_events(spark, sf_dir))
    return (
        ev.groupBy("shard_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
                / F.count("*")
            ).alias("avg_value"),
            F.max("value").alias("max_value"),
            F.max("event_id").alias("checkpoint_seq"),
        )
        .select(
            "shard_id",
            F.col("w.start").alias("window_start"),
            "n_events",
            "avg_value",
            "max_value",
            "checkpoint_seq",
        )
    )


# --- O1: per-shard ordering audit (src/processor.rs:1450-1459) ----------


def ordering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within a shard, records must be strictly sequence-ordered. Audit:
    read in shard/sequence order, count inversions via lag (must be 0)
    and the max sequence gap (resharding/skip visibility)."""
    ev = with_envelope(_events(spark, sf_dir))
    w = Window.partitionBy("shard_id").orderBy("event_id")
    gaps = ev.select(
        "shard_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
    )
    return gaps.groupBy("shard_id").agg(
        F.count("*").alias("n_records"),
        F.count(F.when(F.col("event_id") <= F.col("prev_id"), 1)).alias("n_violations"),
        F.max(F.col("event_id") - F.col("prev_id")).alias("max_gap"),
    )


QUERIES = {
    "shard_discovery": shard_discovery,
    "position_after_sequence": position_after_sequence,
    "position_at_timestamp": position_at_timestamp,
    "batch_limit": batch_limit,
    "record_map": record_map,
    "failure_classification": failure_classification,
    "checkpoint_commit": checkpoint_commit,
    "metrics_aggregation": metrics_aggregation,
    "windowed_metrics": windowed_metrics,
    "ordering_audit": ordering_audit,
}

_OUTCOME_SQL = (
    "CASE WHEN event_type = 'error' THEN 'hard' "
    "WHEN event_id % 17 = 0 THEN 'soft' ELSE 'success' END"
)

ORACLE = {
    "shard_discovery": f"""
        SELECT DISTINCT user_id % {N_SHARDS} AS shard_id FROM events
    """,
    "position_after_sequence": f"""
        SELECT event_id,
               user_id % {N_SHARDS} AS shard_id,
               lpad(CAST(event_id AS VARCHAR), 20, '0') AS sequence_number,
               CAST(user_id AS VARCHAR) AS partition_key,
               ts
        FROM events WHERE event_id > 500
    """,
    "position_at_timestamp": f"""
        SELECT event_id, user_id % {N_SHARDS} AS shard_id, ts, event_type
        FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    """,
    "batch_limit": f"""
        SELECT shard_id, event_id, rn FROM (
            SELECT user_id % {N_SHARDS} AS shard_id, event_id,
                   row_number() OVER (PARTITION BY user_id % {N_SHARDS}
                                      ORDER BY event_id) AS rn
            FROM events
        ) WHERE rn <= {BATCH_SIZE * MAX_BATCH_LOOPS}
    """,
    "record_map": f"""
        SELECT event_id,
               user_id % {N_SHARDS} AS shard_id,
               CAST(regexp_extract(props, '-?[0-9]+', 0) AS BIGINT) AS k,
               CASE WHEN event_type = 'purchase' THEN value * 1.1
                    ELSE value END AS adjusted_value
        FROM events
        WHERE CAST(regexp_extract(props, '-?[0-9]+', 0) AS BIGINT) % 5 <> 0
    """,
    "failure_classification": f"""
        SELECT user_id % {N_SHARDS} AS shard_id,
               count(*) FILTER (WHERE {_OUTCOME_SQL} = 'success') AS n_success,
               count(*) FILTER (WHERE {_OUTCOME_SQL} = 'soft') AS n_soft,
               count(*) FILTER (WHERE {_OUTCOME_SQL} = 'hard') AS n_hard,
               max(event_id) FILTER (WHERE {_OUTCOME_SQL} <> 'hard')
                   AS last_successful_seq
        FROM events GROUP BY 1
    """,
    "checkpoint_commit": f"""
        SELECT user_id % {N_SHARDS} AS shard_id,
               max(event_id) AS checkpoint_seq,
               lpad(CAST(max(event_id) AS VARCHAR), 20, '0') AS checkpoint_seq_str,
               count(*) AS n_committed
        FROM events WHERE {_OUTCOME_SQL} <> 'hard'
        GROUP BY 1
    """,
    "metrics_aggregation": f"""
        SELECT user_id % {N_SHARDS} AS shard_id,
               count(*) FILTER (WHERE {_OUTCOME_SQL} <> 'hard') AS records_processed,
               count(*) FILTER (WHERE {_OUTCOME_SQL} = 'hard') AS records_failed,
               count(*) FILTER (WHERE {_OUTCOME_SQL} = 'soft') AS soft_retries,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*)
                   AS avg_value,
               max(value) AS max_value,
               min(ts) AS first_event_ts,
               max(ts) AS last_event_ts
        FROM events GROUP BY 1
    """,
    "windowed_metrics": f"""
        SELECT user_id % {N_SHARDS} AS shard_id,
               date_trunc('hour', ts) AS window_start,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*)
                   AS avg_value,
               max(value) AS max_value,
               max(event_id) AS checkpoint_seq
        FROM events GROUP BY 1, 2
    """,
    "ordering_audit": f"""
        SELECT shard_id,
               count(*) AS n_records,
               count(*) FILTER (WHERE event_id <= prev_id) AS n_violations,
               max(event_id - prev_id) AS max_gap
        FROM (
            SELECT user_id % {N_SHARDS} AS shard_id, event_id,
                   lag(event_id) OVER (PARTITION BY user_id % {N_SHARDS}
                                       ORDER BY event_id) AS prev_id
            FROM events
        ) GROUP BY 1
    """,
}


# --- custom Python DataSource scan (Spark 4 DataSource API) -------------

DS_SHARDS = 8
DS_RECORDS = 500


def datasource_scan_rollup(spark, sf_dir):
    """Per-shard rollup over the Kinesis-shaped custom Python
    DataSource (sources/gzk_datasource.py — shard partitions, sequence
    numbers, GetRecords-style limits). The source generates its stream
    deterministically from (shard, seq) with the portable polynomial
    hash, so the DuckDB oracle re-derives the exact records from
    generate_series and the scan is hash-verified end-to-end. sf_dir is
    unused: the source IS the data."""
    from pyspark.sql import functions as F

    from ..sources import gzk_datasource as ds

    try:
        ds.register(spark)
    except Exception:
        pass  # already registered on this session
    df = (
        spark.read.format("gzk_stream")
        .option("shards", DS_SHARDS)
        .option("records_per_shard", DS_RECORDS)
        .load()
    )
    return df.groupBy("shard_id").agg(
        F.count("*").alias("n_records"),
        F.min("sequence_number").alias("min_seq"),
        F.max("sequence_number").alias("max_seq"),
        F.sum("payload_hash").alias("hash_sum"),
    )


QUERIES["datasource_scan_rollup"] = datasource_scan_rollup

_DS_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(split(payload, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 2147483647)"
)

ORACLE["datasource_scan_rollup"] = f"""
    WITH shards AS (
        SELECT unnest(generate_series(0, {DS_SHARDS - 1})) AS s
    ),
    seqs AS (
        SELECT unnest(generate_series(0, {DS_RECORDS - 1})) AS q
    ),
    recs AS (
        SELECT concat('shard-', s) AS shard_id,
               q AS sequence_number,
               concat('rec-', s, '-', q) AS payload
        FROM shards CROSS JOIN seqs
    )
    SELECT shard_id,
           count(*) AS n_records,
           CAST(min(sequence_number) AS BIGINT) AS min_seq,
           CAST(max(sequence_number) AS BIGINT) AS max_seq,
           CAST(sum({_DS_HASH}) AS BIGINT) AS hash_sum
    FROM recs GROUP BY shard_id
"""


# --- round 9: rendezvous (HRW) shard→worker assignment --------------------
# The reference rebalances shard leases across consumer workers when the
# fleet resizes (src/processor.rs shard fan-out + the resharding pickup
# the P7 pytest pins). Rendezvous hashing (Thaler & Ravishankar 1998 —
# public literature) is the standard assignment function: each worker
# change moves only the shards whose argmax flips, ~1/(W+1) of them.

HRW_VSHARDS = 64  # virtual shards (pmod of the partition key)
HRW_W = 5  # current worker fleet size
# score(s, w) = affine_s(s) · affine_w(w) mod P — the product of two
# independent affine hashes. A single affine of (s·131 + w) is MONOTONE
# in w for fixed s (consecutive w rarely wrap mod P), which silently
# degenerates to "highest worker id wins everything"; the product form
# decorrelates workers per shard (caught by the per-worker balance
# referee test). The worker side is affined TWICE: a single affine of a
# small w (0..5) yields a small multiplier, and the coarse product
# lattice skews ownership toward particular workers (measured 7..19 of
# 64 shards at W=5; double affine gives 9..16, binomially plausible).
HRW_AS, HRW_BS = 393241, 107  # shard-side affine (H.A[9] / H.B[8])
HRW_AW, HRW_BW = 786433, 127  # worker-side affine (H.A[10] / H.B[9])
HRW_P = 2_147_483_647


def shard_rendezvous_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard assignment audit: assign {HRW_VSHARDS}
    virtual shards (derived from the stream's partition-key space) to a
    {HRW_W}-worker fleet and to the {HRW_W}+1-worker fleet by
    highest-random-weight — score(s, w) = affine(s)·affine(w) mod P — and
    report, per worker, how many shards it owns before and after the
    scale-out plus how many moved IN. The HRW property under test:
    growing the fleet by one moves ONLY the shards the new worker wins
    (~1/(W+1) of them); every other lease stays put — the minimal-
    movement rebalance the reference's lease-stealing loop converges to.

    Determinism: the argmax is taken over ``score·8 + (7 − w)`` so a
    (never observed, but possible) score tie breaks toward the LOWER
    worker id identically on both engines. Plan shape: one distinct
    over the pmod projection (pushdown-friendly), one {HRW_VSHARDS}×
    ({HRW_W}+1) explode, two tiny hash-aggregates — fact-table work is
    the single distinct scan regardless of scale.
    """
    ev = _events(spark, sf_dir)
    shards = ev.select(
        F.pmod(F.col("user_id"), F.lit(HRW_VSHARDS)).alias("shard")
    ).distinct()
    scored = shards.select(
        "shard",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(HRW_W).cast("long"))
        ).alias("w"),
    ).select(
        "shard",
        "w",
        (
            ((F.col("shard") * HRW_AS + HRW_BS) % HRW_P)
            * ((((F.col("w") * HRW_AW + HRW_BW) % HRW_P) * HRW_AW + HRW_BW)
               % HRW_P)
            % HRW_P
            * 8
            + (7 - F.col("w"))
        ).alias("rank_key"),
    )
    owner_now = (
        scored.filter(F.col("w") < HRW_W)
        .groupBy("shard")
        .agg(F.max_by("w", "rank_key").alias("owner_now"))
    )
    owner_next = scored.groupBy("shard").agg(
        F.max_by("w", "rank_key").alias("owner_next")
    )
    both = owner_now.join(owner_next, "shard")
    return (
        both.groupBy(F.col("owner_next").alias("worker"))
        .agg(
            F.count_if(F.col("owner_now") == F.col("owner_next")).alias(
                "n_kept"
            ),
            F.count_if(F.col("owner_now") != F.col("owner_next")).alias(
                "n_moved_in"
            ),
            F.count("*").alias("n_owned_next"),
        )
        .join(
            both.groupBy(F.col("owner_now").alias("worker")).agg(
                F.count("*").alias("n_owned_now")
            ),
            "worker",
            "full_outer",
        )
        .select(
            "worker",
            F.coalesce("n_owned_now", F.lit(0)).alias("n_owned_now"),
            F.coalesce("n_owned_next", F.lit(0)).alias("n_owned_next"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_moved_in", F.lit(0)).alias("n_moved_in"),
        )
    )


QUERIES["shard_rendezvous_assign"] = shard_rendezvous_assign

ORACLE["shard_rendezvous_assign"] = f"""
    WITH shards AS (
        SELECT DISTINCT user_id % {HRW_VSHARDS} AS shard FROM events
    ),
    scored AS (
        SELECT shard, w,
               ((shard * {HRW_AS} + {HRW_BS}) % {HRW_P})
                   * ((((w * {HRW_AW} + {HRW_BW}) % {HRW_P})
                       * {HRW_AW} + {HRW_BW}) % {HRW_P})
                   % {HRW_P} * 8
                   + (7 - w) AS rank_key
        FROM shards, unnest(generate_series(0, {HRW_W})) AS u(w)
    ),
    owner_now AS (
        SELECT shard, arg_max(w, rank_key) AS owner_now
        FROM scored WHERE w < {HRW_W} GROUP BY shard
    ),
    owner_next AS (
        SELECT shard, arg_max(w, rank_key) AS owner_next
        FROM scored GROUP BY shard
    ),
    pairs AS (
        SELECT n.shard, n.owner_now, x.owner_next
        FROM owner_now n JOIN owner_next x USING (shard)
    ),
    nxt AS (
        SELECT owner_next AS worker,
               count(*) FILTER (owner_now = owner_next) AS n_kept,
               count(*) FILTER (owner_now <> owner_next) AS n_moved_in,
               count(*) AS n_owned_next
        FROM pairs GROUP BY owner_next
    ),
    now AS (
        SELECT owner_now AS worker, count(*) AS n_owned_now
        FROM pairs GROUP BY owner_now
    )
    SELECT CAST(coalesce(nxt.worker, now.worker) AS BIGINT) AS worker,
           CAST(coalesce(n_owned_now, 0) AS BIGINT) AS n_owned_now,
           CAST(coalesce(n_owned_next, 0) AS BIGINT) AS n_owned_next,
           CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(n_moved_in, 0) AS BIGINT) AS n_moved_in
    FROM nxt FULL OUTER JOIN now ON nxt.worker = now.worker
"""


# --- round 9: watermark allowed-lateness sweep ----------------------------

WM_SWEEP_SEC = (0, 60, 300, 3600)  # candidate allowed-lateness values


def watermark_lateness_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The allowed-lateness tuning curve: for every candidate watermark
    delay, how many events the downstream pipeline would DROP as
    too-late — the decision input for ``withWatermark``. The arrival
    tape models the reference consumer exactly: each shard delivers
    records in sequence order in GetRecords batches of {BATCH_SIZE}
    (src/processor.rs batch loop), and the downstream merger drains the
    shards round-robin — tape order (batch_no, shard_id, sequence). A
    record's lateness is how far its event time sits behind the
    maximum event time already on the tape; within one shard that is
    zero by the per-shard ordering guarantee (O1), so ALL lateness here
    is CROSS-SHARD interleave — the batch-width clock skew a real
    multi-shard merge produces, and precisely what a global watermark
    must tolerate.

    THREE-phase running max (r10 — the r9 draft's one residual
    single-task pass, recursed away as its own docstring sketched):
    per-(batch, shard) chunk maxima (a rows/{BATCH_SIZE} relation)
    reduce AGAIN into super-chunks of {BATCH_SIZE} consecutive batches
    (a rows/{BATCH_SIZE}² relation — the only globally-ordered window
    left runs over THAT, thousands of rows at 100M events and still
    tiny at 100 TB; recurse a third time if a corpus ever outgrows
    it). Super-chunk offsets broadcast back onto the chunk relation,
    whose within-super prefix window partitions by super-chunk
    (≤ {BATCH_SIZE}·shards rows per task); chunk offsets then join
    back onto the rows, whose within-chunk running max partitions by
    chunk. The prefix over earlier tape rows decomposes exactly:
    rows before chunk c = rows in earlier SUPER-chunks ∪ earlier
    chunks of c's own super-chunk, and max is associative, so
    greatest(super_prefix, within_super_prefix) is bit-for-bit the
    single-window prefix the bucket-free oracle computes (Spark's
    ``greatest`` skips NULLs, preserving the no-predecessor case).
    Then a 4-value explode into a bounded aggregate. All frames are
    growing (streamed O(n) — the r9 shrinking-frame rule), and no
    window orders a relation bigger than rows/{BATCH_SIZE}² without a
    partition key (plan-pinned).
    """
    ev = with_envelope(_events(spark, sf_dir)).select(
        "shard_id",
        "event_id",
        F.unix_timestamp(F.col("ts")).cast("long").alias("tsu"),
    )
    w_shard = Window.partitionBy("shard_id").orderBy("event_id")
    chunked = ev.withColumn("rn", F.row_number().over(w_shard)).withColumn(
        "batch_no", F.expr(f"(rn - 1) div {BATCH_SIZE}")
    ).drop("rn")
    # materialized: the rows/BATCH chunk relation feeds BOTH the
    # super-chunk reduction and the offset join-back — left lazy, each
    # branch would re-scan the fact table (2 scans stay the contract).
    # A/B sf0.1 0.45→0.77 / 1.5→2.0 s, sf1 0.79→2.17 / 2.4→4.8 s
    cmax = (
        chunked.groupBy("batch_no", "shard_id")
        .agg(F.max("tsu").alias("cmax"))
        .withColumn("sbucket", F.expr(f"batch_no div {BATCH_SIZE}"))
        .transform(pin)
    )
    smax = cmax.groupBy("sbucket").agg(F.max("cmax").alias("smax"))
    s_tape = Window.orderBy("sbucket")
    soff = smax.select(
        "sbucket",
        F.max("smax")
        .over(s_tape.rowsBetween(Window.unboundedPreceding, -1))
        .alias("soff"),
    )
    in_tape = Window.partitionBy("sbucket").orderBy("batch_no", "shard_id")
    off = (
        cmax.join(F.broadcast(soff), "sbucket")
        .withColumn(
            "inoff",
            F.max("cmax").over(
                in_tape.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select(
            "batch_no",
            "shard_id",
            F.greatest("soff", "inoff").alias("off"),
        )
    )
    inwin = Window.partitionBy("batch_no", "shard_id").orderBy(
        "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    late = (
        chunked.join(off, ["batch_no", "shard_id"])
        .withColumn("inmax", F.max("tsu").over(inwin))
        .select(
            "shard_id",
            (
                F.greatest(F.coalesce("off", F.lit(0)), F.col("inmax"))
                - F.col("tsu")
            ).alias("late_by_sec"),
        )
    )
    swept = late.withColumn(
        "lateness_sec",
        F.explode(
            F.array(*[F.lit(v).cast("long") for v in WM_SWEEP_SEC])
        ),
    )
    agg = swept.groupBy("lateness_sec").agg(
        F.count_if(F.col("late_by_sec") <= F.col("lateness_sec")).alias(
            "n_kept"
        ),
        F.count_if(F.col("late_by_sec") > F.col("lateness_sec")).alias(
            "n_dropped"
        ),
        F.countDistinct(
            F.when(
                F.col("late_by_sec") > F.col("lateness_sec"),
                F.col("shard_id"),
            )
        ).alias("n_shards_dropping"),
        F.max("late_by_sec").alias("max_late_by_sec"),
    )
    return agg.select(
        "lateness_sec",
        "n_kept",
        "n_dropped",
        F.expr(
            "n_dropped * 1000000 div (n_kept + n_dropped)"
        ).alias("dropped_ppm"),
        "n_shards_dropping",
        "max_late_by_sec",
    )


QUERIES["watermark_lateness_sweep"] = watermark_lateness_sweep

ORACLE["watermark_lateness_sweep"] = f"""
    WITH env AS (
        SELECT user_id % {N_SHARDS} AS shard_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsu
        FROM events
    ),
    chunked AS (
        SELECT shard_id, event_id, tsu,
               (row_number() OVER (
                   PARTITION BY shard_id ORDER BY event_id) - 1)
                   // {BATCH_SIZE} AS batch_no
        FROM env
    ),
    cmax AS (
        SELECT batch_no, shard_id, max(tsu) AS cmax
        FROM chunked GROUP BY batch_no, shard_id
    ),
    offs AS (
        SELECT batch_no, shard_id,
               max(cmax) OVER (
                   ORDER BY batch_no, shard_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS off
        FROM cmax
    ),
    late AS (
        SELECT c.shard_id,
               greatest(coalesce(o.off, CAST(0 AS BIGINT)),
                        max(c.tsu) OVER (
                            PARTITION BY c.batch_no, c.shard_id
                            ORDER BY c.event_id
                            ROWS UNBOUNDED PRECEDING)) - c.tsu
                   AS late_by_sec
        FROM chunked c
        JOIN offs o USING (batch_no, shard_id)
    ),
    swept AS (
        SELECT l.shard_id, l.late_by_sec, s.lateness_sec
        FROM late l,
             (VALUES {', '.join(f'({v})' for v in WM_SWEEP_SEC)})
                 s(lateness_sec)
    )
    SELECT CAST(lateness_sec AS BIGINT) AS lateness_sec,
           count(*) FILTER (late_by_sec <= lateness_sec) AS n_kept,
           count(*) FILTER (late_by_sec > lateness_sec) AS n_dropped,
           CAST(count(*) FILTER (late_by_sec > lateness_sec) * 1000000
                // count(*) AS BIGINT) AS dropped_ppm,
           CAST(count(DISTINCT CASE WHEN late_by_sec > lateness_sec
                                    THEN shard_id END) AS BIGINT)
               AS n_shards_dropping,
           CAST(max(late_by_sec) AS BIGINT) AS max_late_by_sec
    FROM swept GROUP BY lateness_sec
"""
