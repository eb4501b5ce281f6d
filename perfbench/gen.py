"""Seeded input generator for the stream workloads.

Built on pyarrow only, never on the Spark session under test, so input
generation costs nothing the benchmark measures. The same seed gives
byte-identical inputs.

Each stream input is a directory of parquet files, one micro-batch per
file (the benchmark reads them with ``maxFilesPerTrigger=1``). File
modification times increase with the file index, so the file source
consumes them in arrival order and sequence numbers increase per shard
in that order. Beside the source directory the generator writes ``expected.json``:
every record key, the per-shard max sequence of the records that should
reach the store, and the set of records that must end in the DLQ.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("shard_id", pa.string()),
        ("sequence_number", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("partition_key", pa.string()),
        ("data", pa.string()),
    ]
)
# Kinesis sequence numbers are decimal strings; 56 digits is their
# usual width and well past int64/Decimal(38) range.
KINESIS_SCHEMA = SCHEMA.set(1, pa.field("sequence_number", pa.string()))
KINESIS_SEQ_DIGITS = 56
_T0_US = 1_700_000_000_000_000


@dataclass(frozen=True)
class StreamSpec:
    """Shape of one generated stream backlog."""

    shards: int
    files: int  # one micro-batch per file
    records_per_file: int
    string_seq: bool = False
    soft_share: float = 0.0  # soft on attempt 0, success on retry
    hard_share: float = 0.0  # hard on every attempt: DLQ


def _kinesis_seq(shard: int, n: int) -> str:
    # "49" + 6-digit shard tag + zero-padded counter: equal width, so
    # lexicographic order is numeric order
    head = f"49{shard:06d}"
    return head + str(n).zfill(KINESIS_SEQ_DIGITS - len(head))


def generate(spec: StreamSpec, seed: int, out_dir: str) -> dict:
    """Write ``spec``'s backlog to ``out_dir/src`` and return the
    expected-outcome record (also written to ``out_dir/expected.json``,
    outside the source directory the stream lists)."""
    rng = random.Random(seed)
    src = os.path.join(out_dir, "src")
    os.makedirs(src, exist_ok=True)
    schema = KINESIS_SCHEMA if spec.string_seq else SCHEMA
    next_seq = [0] * spec.shards
    max_ok: dict[str, str | int] = {}
    keys: list[list] = []
    hard: list[list] = []
    soft = 0
    k = 0
    for f in range(spec.files):
        cols: dict[str, list] = {name: [] for name in schema.names}
        for _ in range(spec.records_per_file):
            s = rng.randrange(spec.shards)
            next_seq[s] += 1 + rng.randrange(3)  # gaps, like Kinesis
            shard = f"shardId-{s:012d}"
            seq = _kinesis_seq(s, next_seq[s]) if spec.string_seq else next_seq[s]
            u = rng.random()
            kind = (
                "hard"
                if u < spec.hard_share
                else "soft"
                if u < spec.hard_share + spec.soft_share
                else "ok"
            )
            cols["shard_id"].append(shard)
            cols["sequence_number"].append(seq)
            cols["ts"].append(_T0_US + k * 1000)
            cols["partition_key"].append(f"pk-{rng.randrange(1000)}")
            cols["data"].append(f"{kind}:{rng.getrandbits(64):016x}")
            keys.append([shard, str(seq)])
            if kind == "hard":
                hard.append([shard, str(seq)])
            else:
                soft += kind == "soft"
                max_ok[shard] = seq  # per-shard sequences only grow
            k += 1
        path = os.path.join(src, f"part-{f:05d}.parquet")
        pq.write_table(pa.table(cols, schema=schema), path)
        # arrival order = file index, whole seconds apart, so the
        # file source never sees two files with the same timestamp
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    expected = {
        "records": len(keys),
        "keys": keys,
        "hard": hard,
        "soft": soft,
        "max_seq": {s: str(v) for s, v in sorted(max_ok.items())},
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    return expected
