"""Output checks that feed ``wrong_frac``.

Streams: the committed output must equal the generated success set
(nothing lost, nothing duplicated), hard records must appear only in
the DLQ, and the final store positions must equal the generator's
per-shard max. Queries: Spark's rows must equal DuckDB's after the
driver's canonicalization (columns sorted by name, cells normalized,
rows sorted) — the same rule as ``tests/util.canonical_rows``.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import date, datetime


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6f}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical(columns: list[str], rows: list[tuple]) -> dict:
    """Sorted column names plus canonical rows, JSON-serializable so
    oracle results can be cached between runs."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted([_norm_cell(r[i]) for i in order] for r in rows)
    return {"columns": sorted(columns), "rows": out}


def query_matches(spark_result: dict, oracle_result: dict) -> bool:
    """Both arguments come from :func:`canonical`."""
    return spark_result == oracle_result


def stream_errors(
    expected: dict,
    committed: list[tuple[str, str]],
    dlq: list[tuple[str, str]],
    positions: dict[str, str],
) -> dict[str, int]:
    """Count what went wrong, in records.

    - ``lost``: success records missing from the sink, plus hard
      records missing from the DLQ;
    - ``duplicated``: extra copies in the sink;
    - ``misrouted``: hard records in the sink, or DLQ records that are
      not hard;
    - ``bad_positions``: shards whose stored position differs from the
      expected max (each counts as one record).

    A hard record may reach the DLQ more than once: a resumed run
    re-reads records above a shard's stored position, and the DLQ is
    at-least-once.
    """
    hard = {tuple(k) for k in expected["hard"]}
    want = {tuple(k) for k in expected["keys"]} - hard
    got = Counter(committed)
    dlq_set = set(dlq)
    lost = len(want - got.keys()) + len(hard - dlq_set)
    duplicated = sum(n - 1 for n in got.values() if n > 1)
    misrouted = len(got.keys() & hard) + len(dlq_set - hard)
    exp_pos = expected["max_seq"]
    bad_positions = sum(
        1
        for shard in exp_pos.keys() | positions.keys()
        if exp_pos.get(shard) != positions.get(shard)
    )
    return {
        "lost": lost,
        "duplicated": duplicated,
        "misrouted": misrouted,
        "bad_positions": bad_positions,
    }
