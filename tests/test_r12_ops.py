"""Round-12 referees: star-round shuffle auto-sizing, the
containment-join persist shape, and the Wilson-center columns."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def _sym_edges(spark, pairs):
    df = spark.createDataFrame(pairs, "a long, b long")
    return (
        df.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(df.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint()
    )


# --- star-round shuffle auto-sizing (VERDICT r11 #5) ----------------------


def test_star_autosizing_tiny_graph_keeps_session_partitions(spark):
    """Registered-query-scale graphs must NOT resize: the sizing knob
    exists for decade beds, and tiny graphs keep the exact prior plan
    (no conf churn, labels stay lazy)."""
    from go_zoom_kinesis_spark.operators.search import _star_components

    old = spark.conf.get("spark.sql.shuffle.partitions")
    edges = _sym_edges(spark, [(1, 2), (2, 3), (10, 11)])
    stats = {}
    got = {r.node: r.lbl for r in _star_components(edges, _stats=stats).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert stats["shuffle_partitions"] == int(old)
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_star_autosizing_scales_partitions_with_edges(spark, monkeypatch):
    """Force the resize path on a small graph by shrinking the
    rows-per-partition target: partitions must derive from the edge
    count (ceil(2·|E|/target)), labels must stay exact, and the
    session conf must be restored afterwards — including when the
    escalation path (_min_label_propagate deep fallback) invokes the
    star rounds internally."""
    from go_zoom_kinesis_spark.operators import search

    monkeypatch.setattr(search, "STAR_ROWS_PER_PARTITION", 4)
    old = spark.conf.get("spark.sql.shuffle.partitions")

    n = 130  # deep chain: diameter 129 > ER_MAX_ITERS, forces escalation
    pairs = [(i, i + 1) for i in range(1, n)]
    edges = _sym_edges(spark, pairs)

    stats = {}
    got = {
        r.node: r.lbl
        for r in search._star_components(edges, _stats=stats).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    # 2 * 258 symmetrized edges / 4 per partition, capped by the clamp
    expect = min(-(-2 * stats["n_edges"] // 4), search.STAR_MAX_PARTITIONS)
    assert stats["shuffle_partitions"] == max(int(old), expect)
    assert stats["shuffle_partitions"] > int(old)
    assert spark.conf.get("spark.sql.shuffle.partitions") == old

    # escalation path under the same forced resize: exact + restored
    labels0 = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    merged = {
        r.node: r.lbl
        for r in search._min_label_propagate(edges, labels0).collect()
    }
    assert merged == got
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_star_autosizing_restores_conf_on_cap_failure(spark, monkeypatch):
    """The loud-fail RuntimeError must not leak the resized conf."""
    from go_zoom_kinesis_spark.operators import search

    monkeypatch.setattr(search, "STAR_ROWS_PER_PARTITION", 4)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    edges = _sym_edges(spark, [(i, i + 1) for i in range(1, 40)])
    with pytest.raises(RuntimeError, match="still changing"):
        search._star_components(edges, max_rounds=1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


# --- containment join: lazy persist shape (ADVICE r11 #1) ------------------


def test_containment_join_pins_compact_arrays_not_explode(spark):
    """r13 reworked the persist shape: the COMPACT per-doc
    shingle-array relation (|docs| rows) is pinned and feeds the
    shingle stream and both verify-dictionary sides; a_pref is pinned
    too. What r12's no-checkpoint pin actually guarded against — an
    eager checkpoint of the EXPLODED corpus-scale shingle stream —
    must stay gone: the plan reads pinned RDD scans (so no parquet
    re-scan and no re-run of the shingling HOF per execution), and no
    explode sits BELOW a pin (every RDD scan carries the compact
    array or prefix schema, never one-row-per-shingle of the whole
    corpus)."""
    from go_zoom_kinesis_spark.operators.simjoin import (
        similarity_containment_join,
    )

    df = similarity_containment_join(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, "r13 pinned relations missing"
    assert "Relation" not in plan.replace("LogicalRDD", "LRDD"), (
        "parquet re-scan present — the pinned arrays should be the "
        "only source"
    )
    # the verify stage must re-spread the candidate relation so the
    # array_intersect projection cannot be one-cored by AQE's
    # bytes-based partition coalescing
    assert "RepartitionByExpression" in plan


# --- PNG decode (VERDICT r11 #4) -------------------------------------------


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png_sig() -> bytes:
    return b"\x89PNG\r\n\x1a\n"


def test_png_roundtrip_all_filters():
    """encode_png rotates the scanline filter per row (row % 5), so a
    ≥5-row raster round-trips through every defilter path; random
    rasters pin bit-exactness."""
    import numpy as np

    from go_zoom_kinesis_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    rng = np.random.default_rng(12)
    for _ in range(25):
        h, w = int(rng.integers(5, 14)), int(rng.integers(1, 14))
        pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        img = decode_image(encode_png(pix))
        assert (img.width, img.height) == (w, h)
        assert np.array_equal(img.pixels, pix)


def test_png_unsupported_variants_stay_loud():
    """16-bit, non-RGB color types, and Adam7 interlace raise
    NotImplementedError (need a real codec / more parser); corrupt
    CRC, bad filter bytes, and truncation raise ValueError — never a
    silent wrong decode."""
    import struct

    import pytest

    from go_zoom_kinesis_spark.operators.multimodal import (
        _decode_png,
        encode_png,
        synth_raster,
    )

    def ihdr(depth, ctype, interlace):
        return _png_sig() + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", 2, 2, depth, ctype, 0, 0, interlace)
        ) + _png_chunk(b"IEND", b"")

    with pytest.raises(NotImplementedError, match="bit depth 16"):
        _decode_png(ihdr(16, 2, 0))
    for ctype in (0, 3, 4, 6):  # gray, palette, gray+a, rgba
        with pytest.raises(NotImplementedError, match="color type"):
            _decode_png(ihdr(8, ctype, 0))
    with pytest.raises(NotImplementedError, match="interlaced"):
        _decode_png(ihdr(8, 2, 1))

    good = encode_png(synth_raster(5))
    bad = bytearray(good)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        _decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        _decode_png(good[:-8])


def test_png_ancillary_chunks_skipped_and_idat_split():
    """The chunk walk must skip ancillary chunks and concatenate
    multiple IDATs (both legal per spec; encode_png emits one tEXt,
    this referee splits the IDAT in two as real encoders do)."""
    import struct
    import zlib

    import numpy as np

    from go_zoom_kinesis_spark.operators.multimodal import (
        _decode_png,
        synth_raster,
    )

    pix = synth_raster(7)
    h, w, _ = pix.shape
    raw = b"".join(
        b"\x00" + pix[y].tobytes() for y in range(h)
    )  # all-None filters
    z = zlib.compress(raw)
    mid = len(z) // 2
    payload = (
        _png_sig()
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(b"pHYs", struct.pack(">IIB", 2835, 2835, 1))
        + _png_chunk(b"IDAT", z[:mid])
        + _png_chunk(b"IDAT", z[mid:])
        + _png_chunk(b"tEXt", b"Comment\x00split idat")
        + _png_chunk(b"IEND", b"")
    )
    img = _decode_png(payload)
    assert np.array_equal(img.pixels, pix)


def test_multimodal_decode_image_mixed_corpus(spark):
    """The registered query now grades a three-format corpus: fmt
    follows doc_id % 3 and every per-channel sum matches the generator
    closed form — the same relation the DuckDB oracle recomputes."""
    from go_zoom_kinesis_spark.operators.multimodal import (
        multimodal_decode_image,
        synth_raster,
    )

    rows = multimodal_decode_image(spark, SF_DIR).collect()
    assert {r.fmt for r in rows} == {"bmp", "ppm", "png"}
    import numpy as np

    for r in rows[:30]:
        assert r.fmt == ("bmp", "ppm", "png")[r.doc_id % 3]
        pix = synth_raster(r.doc_id).astype(np.int64)
        flat = pix.ravel()
        assert r.sum_r == int(flat[0::3].sum())
        assert r.pos_checksum == int(
            (np.arange(flat.size) * flat).sum()
        )


# --- lsh_recall_audit: Wilson interval centered correctly (ADVICE r11) ----


def test_lsh_recall_audit_wilson_center(spark):
    """recall/precision_wilson_center_ppm = 1e6·(hits + z²/2)/(n + z²)
    — the point the ci95 half-width applies around; center ± hw must
    stay inside [0, 1e6] even at boundary rates (the raw ppm ratio ±
    hw need not, which is why the center column exists)."""
    from go_zoom_kinesis_spark.operators.dedup import lsh_recall_audit

    row = lsh_recall_audit(spark, SF_DIR).collect()[0]
    z2 = 1.96 * 1.96
    for num, den, center, hw in (
        ("n_hits", "n_true_pairs", "recall_wilson_center_ppm", "recall_ci95_ppm"),
        (
            "n_hits",
            "n_lsh_candidates",
            "precision_wilson_center_ppm",
            "precision_ci95_ppm",
        ),
    ):
        n = row[den]
        if not n:
            assert row[center] is None
            continue
        expect = 1_000_000.0 * (row[num] + z2 / 2) / (n + z2)
        assert row[center] == pytest.approx(expect, abs=1e-5)
        assert 0 <= row[center] - row[hw]
        assert row[center] + row[hw] <= 1_000_000
