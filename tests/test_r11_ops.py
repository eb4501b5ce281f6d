"""Round-11 referees: ADVICE r10 closures (BMP core-header loud-fail)
and the large-star/small-star connected-components path."""

from __future__ import annotations

import pytest

from go_zoom_kinesis_spark.registry import all_queries

Q = all_queries()


# --- decode_image: BITMAPCOREHEADER must fail loudly (ADVICE r10) --------


def test_decode_bmp_coreheader_fails_loudly():
    """bpp/biCompression live at offsets 28/30 only for
    BITMAPINFOHEADER (hdr_size >= 40); a BITMAPCOREHEADER
    (hdr_size = 12: 16-bit width/height, no compression field) must
    raise instead of misparsing garbage offsets."""
    import struct

    # valid-looking BMP file header + a 12-byte BITMAPCOREHEADER
    # (w=4, h=4, planes=1, bpp=24) padded so len > 54
    core = struct.pack("<IHHHH", 12, 4, 4, 1, 24)
    payload = (
        struct.pack("<2sIHHI", b"BM", 26 + 48, 0, 0, 26)
        + core
        + b"\x00" * 64
    )
    from go_zoom_kinesis_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError, match="header size 12"):
        decode_image(payload)


# --- cache hygiene: no CacheManager entry outlives its query -------------


@pytest.mark.parametrize(
    "name",
    [
        "ivf_probe_sweep",
        "similarity_ivf_topk",
        "watermark_lateness_sweep",
        "coreset_kcenter_sample",
        # r11 follow-up: the whole dedup family rides localCheckpoint
        # now (shingle arrays / bands / signatures / pair relations
        # were all CacheManager-resident corpus-scale blocks)
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_components",
        "dedup_components_star",
        "dedup_canonical_chain",
        "dedup_incremental_lsh",
        "dedup_two_tier_pipeline",
        "lsh_recall_audit",
        "simhash_hamming_join",
        "minhash_user_overlap",
        # BPE training caches its word-type table for the merge loop
        # and releases it before returning collected rows
        "bpe_train_merges",
        "tokenizer_apply_bpe",
        # each held a raw .cache() with no release; they pin now
        "purged_timefold_assign",
        "ts_rollup_multires",
        "kmv_sketch_overlap",
        "quantile_sketch_audit",
        "pagerank_nation_trade",
        "collocation_pmi_top",
        "embedding_pca_top",
    ],
)
def test_no_cache_entry_outlives_query(spark, sf_dir, name):
    """VERDICT r10 #2: corpus-scale cached blocks must not outlive
    their query. The fixed operators persist via localCheckpoint
    (GC-bounded blocks) or a construction-scoped try/finally
    unpersist — either way, the session CacheManager (the strong-ref
    registry whose entries survive until an explicit unpersist) must
    be EMPTY after the query materializes."""
    spark.catalog.clearCache()
    df = Q[name](spark, sf_dir)
    df.collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), f"{name} left CacheManager entries behind"
    spark.catalog.clearCache()


# --- large-star/small-star connected components (VERDICT r10 #1) ---------


def _sym_edges(spark, pairs):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pairs, "a long, b long")
    return (
        df.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(df.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint()
    )


def _init_labels(edges):
    from pyspark.sql import functions as F

    return (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )


def _uf_truth(pairs):
    """Pure-python union-find ground truth: node -> component min."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_components_deep_chain_beats_the_cap(spark):
    """The planted referee from the verdict ask: a diameter-120 chain
    (> ER_MAX_ITERS = 50). The r10 loud-fail contract still trips with
    deep_fallback=False; the default path now converges via the star
    rounds in ~log2 alternations and returns exact labels."""
    from go_zoom_kinesis_spark.operators.search import (
        ER_MAX_ITERS,
        _min_label_propagate,
        _star_components,
    )

    n = 121  # nodes 1..121, diameter 120 > the 50-round budget
    pairs = [(i, i + 1) for i in range(1, n)]
    edges = _sym_edges(spark, pairs)

    with pytest.raises(RuntimeError, match="still changing"):
        _min_label_propagate(
            edges, _init_labels(edges), ER_MAX_ITERS, deep_fallback=False
        )

    stats = {}
    star = {
        r.node: r.lbl
        for r in _star_components(edges, _stats=stats).collect()
    }
    assert star == {i: 1 for i in range(1, n + 1)}
    # log-round contract: a 121-node chain must converge in far fewer
    # alternations than its diameter (log2(121) ~ 7; slack to 12)
    assert 1 <= stats["rounds"] <= 12, stats

    merged = {
        r.node: r.lbl
        for r in _min_label_propagate(
            edges, _init_labels(edges), ER_MAX_ITERS
        ).collect()
    }
    assert merged == star


def test_star_components_matches_union_find_fuzz(spark):
    """Seeded random multigraphs (mixed chains, blobs, isolated pairs,
    self-loops, duplicate edges) vs pure-python union-find."""
    import random

    rng = random.Random(0xC0FFEE)
    for trial in range(4):
        n = rng.randrange(30, 160)
        m = rng.randrange(n // 2, 2 * n)
        pairs = [
            (rng.randrange(1, n + 1), rng.randrange(1, n + 1))
            for _ in range(m)
        ]
        pairs += [(5, 5), (7, 7)]  # self-loops must be inert
        pairs += pairs[: m // 3]  # duplicates must be inert
        truth = _uf_truth(pairs)
        edges = _sym_edges(spark, pairs)
        from go_zoom_kinesis_spark.operators.search import _star_components

        got = {r.node: r.lbl for r in _star_components(edges).collect()}
        assert got == truth, f"trial {trial}"


def test_star_probe_survives_large_star_fixpoint(spark):
    """The soundness subtlety from the docstring, pinned: the edge set
    {(3,1),(3,2)} is a LARGE-STAR fixpoint whose labels are wrong
    (L(2)=2, but 2's component min is 1) — only the small-star half
    rewires 2 onto 1. The probe compares across FULL alternations, so
    _star_components must still return the correct labels here."""
    from go_zoom_kinesis_spark.operators.search import _star_components

    edges = _sym_edges(spark, [(3, 1), (3, 2)])
    got = {r.node: r.lbl for r in _star_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_star_escalation_respects_initial_labels(spark):
    """The generic _min_label_propagate contract: the fixpoint is the
    per-component min of the INITIAL labels, not of node ids — the
    escalation path must preserve that on a deep chain."""
    from pyspark.sql import functions as F

    from go_zoom_kinesis_spark.operators.search import _min_label_propagate

    n = 80
    pairs = [(i, i + 1) for i in range(1, n)]
    edges = _sym_edges(spark, pairs)
    # seed labels = node + 1000, except node 37 seeded with 3 — the
    # whole chain must converge to 3
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn(
            "lbl",
            F.when(F.col("node") == 37, F.lit(3)).otherwise(
                F.col("node") + 1000
            ),
        )
        .localCheckpoint()
    )
    got = {
        r.node: r.lbl
        for r in _min_label_propagate(edges, labels, max_iters=10).collect()
    }
    assert got == {i: 3 for i in range(1, n + 1)}


def test_dedup_components_star_matches_min_label_path(spark, sf_dir):
    """Both engines over the real sf0.001 LSH pair graph produce the
    identical component relation (the driver checks the star variant
    against the recursive-CTE oracle at sf0.01; this referee pins the
    two engines against each other)."""
    a = {
        (r.doc_id, r.component_id, r.n_members)
        for r in Q["dedup_components"](spark, sf_dir).collect()
    }
    b = {
        (r.doc_id, r.component_id, r.n_members)
        for r in Q["dedup_components_star"](spark, sf_dir).collect()
    }
    assert a == b
    assert len(a) > 0


def test_decode_bmp_v4_header_still_decodes():
    """hdr_size > 40 (BITMAPV4/V5) keeps the INFOHEADER field layout
    for the first 40 bytes — those must keep decoding."""
    import struct

    import numpy as np

    from go_zoom_kinesis_spark.operators.multimodal import (
        decode_image,
        synth_raster,
    )

    pix = synth_raster(3)
    h, w, _ = pix.shape
    row_bytes = (w * 3 + 3) // 4 * 4
    body = np.zeros((h, row_bytes), np.uint8)
    body[:, : w * 3] = pix[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    hdr_size = 108  # BITMAPV4HEADER
    data_ofs = 14 + hdr_size
    head = struct.pack(
        "<2sIHHI", b"BM", data_ofs + body.size, 0, 0, data_ofs
    ) + struct.pack(
        "<IiiHHIIiiII", hdr_size, w, h, 1, 24, 0, body.size, 2835, 2835, 0, 0
    )
    head += b"\x00" * (data_ofs - len(head))
    img = decode_image(head + body.tobytes())
    assert np.array_equal(img.pixels, pix)
