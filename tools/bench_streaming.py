"""Streaming-harness throughput benchmark.

Measures end-to-end records/sec through ``StreamProcessor`` — the
reference's full pipeline shape (position filter → user map with
retry classification → validation barrier → checkpoint commit →
monitoring events), driven by Structured Streaming's file source with
an availableNow trigger.

Context for the number: the reference (go-zoom-kinesis) is a Kinesis
consumer, so its single-node ceiling is the Kinesis service itself —
GetRecords returns at most 10k records / 10 MB per call per shard,
with 5 calls/s/shard (AWS service quotas; the reference adds no
batching beyond ``batch_size``, /root/reference/src/client.rs:167-233).
A consumer saturating 8 shards therefore tops out well under ~400k
records/s regardless of CPU. This benchmark measures the Spark harness
against that bound on ``local[N]``, N = ``session.local_cpus()`` (the
CPUs the process may use), while ALSO running the retry/validation/
checkpoint semantics per batch.

Usage:
    python tools/bench_streaming.py [--records 2000000] [--shards 8]
                                    [--soft-pct 0]   # % of soft retries

Prints one JSON line:
    {"metric": "streaming_throughput", "records": N, "sec": S,
     "records_per_sec": R, "shards": K, "soft_pct": P}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--records", type=int, default=2_000_000)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--soft-pct", type=float, default=0.0)
    args = ap.parse_args()

    from go_zoom_kinesis_spark.session import get_spark
    from go_zoom_kinesis_spark.streaming.backoff import ExponentialBackoff
    from go_zoom_kinesis_spark.streaming.checkpoint import (
        InMemoryCheckpointStore,
    )
    from go_zoom_kinesis_spark.streaming.processor import (
        ProcessorConfig,
        StreamProcessor,
    )

    spark = get_spark()
    work = tempfile.mkdtemp(prefix="gzk_stream_bench_")
    src = os.path.join(work, "src")
    try:
        # Envelope-shaped input: shard_id / sequence_number / ts / payload
        n, k = args.records, args.shards
        (
            spark.range(n)
            .select(
                F.concat(F.lit("shard-"), (F.col("id") % k)).alias("shard_id"),
                F.col("id").alias("sequence_number"),
                (F.lit(1_700_000_000) + F.col("id") / 1000)
                .cast("timestamp")
                .alias("ts"),
                F.concat(F.lit("pk"), F.col("id") % 1000).alias(
                    "partition_key"
                ),
                F.sha1(F.col("id").cast("string")).alias("data"),
            )
            .repartition(k, "shard_id")
            .write.mode("overwrite")
            .parquet(src)
        )
        schema = spark.read.parquet(src).schema

        soft_mod = int(100 / args.soft_pct) if args.soft_pct > 0 else 0

        def transform(df):
            out = df.withColumn("decoded_len", F.length("data"))
            if soft_mod:
                return out.withColumn(
                    "outcome",
                    F.when(
                        (F.col("sequence_number") % soft_mod == 0)
                        & (F.col("attempt") < 1),
                        F.lit("soft"),
                    ).otherwise(F.lit("success")),
                )
            return out.withColumn("outcome", F.lit("success"))

        sunk_counts: list[int] = []
        proc = StreamProcessor(
            spark,
            processor=transform,
            store=InMemoryCheckpointStore(),
            config=ProcessorConfig(
                checkpoint_location=os.path.join(work, "ckpt"),
                backoff=ExponentialBackoff(0.001, 0.002, jitter_factor=0),
            ),
            sink=lambda df, e: sunk_counts.append(df.count()),
            sleep=lambda s: None,
        )
        stream = spark.readStream.schema(schema).parquet(src)
        t0 = time.time()
        q = proc.run_stream(stream, source_snapshot=spark.read.parquet(src))
        q.awaitTermination()
        sec = time.time() - t0
        processed = sum(sunk_counts)
        assert processed == n, (processed, n)
        print(
            json.dumps(
                {
                    "metric": "streaming_throughput",
                    "records": n,
                    "sec": round(sec, 3),
                    "records_per_sec": int(n / sec),
                    "shards": k,
                    "soft_pct": args.soft_pct,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
