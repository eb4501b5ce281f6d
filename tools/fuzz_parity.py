"""Adversarial-distribution parity sweep.

The driver regenerates its testdata between rounds, and distribution
shifts (timestamp physical types, decimal widths, ASCII-ness, tie
density) have been the historical source of hash-fails. This tool
rebuilds the two generator-owned tables with EDGE-CASE distributions —
duplicate-heavy documents, empty/1-token texts, zipfian sources,
same-second event ties, negative/zero values, hot users — then runs
the full preflight oracle comparison against the fuzzed directory.

Non-fuzzed tables symlink to the base sf dir, so TPC-H queries run
unchanged and the sweep isolates the documents/events-dependent
surface.

Usage:
    python tools/fuzz_parity.py [--base /root/testdata/sf0.001]
                                [--seed 7] [--only name1,name2]
Exit 1 if any query goes red on the fuzzed data.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORDS = (
    "the a of and to is in data stream shard record spark engine "
    "batch retry checkpoint quality token near dup corpus train"
).split()

# Non-ASCII vocabulary for --unicode: accented Latin, CJK, Cyrillic,
# and an astral-plane emoji (surrogate-pair territory in UTF-16
# engines). The byte-level multimodal queries are excluded under this
# mode — their oracles equate UTF-8 payload bytes with codepoints,
# which only holds for ASCII (guarded by
# tests/test_multimodal_skew.py); everything else must survive.
UNICODE_WORDS = WORDS + (
    "café naïve übermäßig złoty żółć "
    "数据 流处理 éngine 模型 привет данные "
    "🚀rocket ñandú søster"
).split()

# Queries whose oracle contract is byte-level (UTF-8 == codepoint only
# for ASCII); excluded from the --unicode sweep by design.
BYTE_LEVEL_QUERIES = (
    "multimodal_meta",
    "multimodal_modality_stats",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_phash_clusters",
    "multimodal_arrow_hist",
)


VOCAB = WORDS


def _doc_text(rng: random.Random, kind: int) -> str:
    if kind == 0:
        return ""  # empty text
    if kind == 1:
        return rng.choice(VOCAB)  # single token (no shingles)
    if kind == 2:
        w = rng.choice(VOCAB)
        return " ".join([w] * rng.randint(2, 40))  # max repetition
    if kind == 3:  # near-identical cluster seed
        return "the data stream engine processes every shard record " + rng.choice(
            VOCAB
        )
    if kind == 5:  # adversarial whitespace: tabs, newlines, runs of
        # spaces — single-space tokenization must agree across engines
        seps = [" ", "  ", "   ", "\t", "\n", " \n ", "\t "]
        n = rng.randint(2, 20)
        out = rng.choice(VOCAB)
        for _ in range(n - 1):
            out += rng.choice(seps) + rng.choice(VOCAB)
        return out
    n = rng.randint(2, 60)
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def gen_documents(path: str, rng: random.Random, n: int = 400) -> None:
    rows = []
    for i in range(n):
        kind = rng.choices(
            [0, 1, 2, 3, 4, 5], weights=[3, 5, 5, 12, 65, 10]
        )[0]
        text = _doc_text(rng, kind)
        rows.append(
            {
                "doc_id": i,
                "text": text,
                # zipfian-ish source skew: half the corpus in src0
                "lang": rng.choice(["en", "en", "en", "de", "zh"]),
                "source": f"src{min(rng.randint(0, 9), rng.randint(0, 9))}",
                "n_chars": len(text),
            }
        )
    # exact duplicates: repeat a slice verbatim under new ids
    for j, base in enumerate(rows[:40]):
        d = dict(base)
        d["doc_id"] = n + j
        rows.append(d)
    t = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    pq.write_table(t, path)


def gen_events(path: str, rng: random.Random, n: int = 5000) -> None:
    base_us = 1_700_000_000_000_000
    rows = []
    for i in range(n):
        # dense ties: only 300 distinct seconds; hot user 0 gets 30%
        sec = rng.randint(0, 299)
        user = 0 if rng.random() < 0.3 else rng.randint(1, 80)
        value = rng.choice(
            [0.0, -1.5, rng.uniform(-100, 100), rng.uniform(0, 1)]
        )
        rows.append(
            {
                "event_id": i,
                "ts": base_us + sec * 1_000_000,
                "user_id": user,
                "event_type": rng.choice(
                    ["click", "view", "error", "purchase", "scroll"]
                ),
                "value": round(value, 6),
                "props": '{"k": %d}' % rng.randint(-5, 5),
            }
        )
    t = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )
    pq.write_table(t, path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--unicode",
        action="store_true",
        help="non-ASCII document vocabulary; byte-level multimodal "
        "queries are excluded (their oracles are ASCII-contracted)",
    )
    args = ap.parse_args()

    if args.unicode:
        global VOCAB
        VOCAB = UNICODE_WORDS

    rng = random.Random(args.seed)
    work = tempfile.mkdtemp(prefix="gzk_fuzz_sf_")
    try:
        gen_documents(os.path.join(work, "documents.parquet"), rng)
        gen_events(os.path.join(work, "events.parquet"), rng)
        for f in os.listdir(args.base):
            if f.endswith(".parquet") and not os.path.exists(
                os.path.join(work, f)
            ):
                os.symlink(
                    os.path.join(args.base, f), os.path.join(work, f)
                )
        cmd = [
            sys.executable,
            os.path.join(REPO, "tools", "preflight.py"),
            "--sf",
            work,
        ]
        if args.only:
            cmd += ["--only", args.only]
        elif args.unicode:
            sys.path.insert(0, REPO)
            import __spark_entry__ as entry

            keep = [
                q
                for q in entry.queries()
                if q not in BYTE_LEVEL_QUERIES
            ]
            cmd += ["--only", ",".join(keep)]
        raise SystemExit(subprocess.call(cmd))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
