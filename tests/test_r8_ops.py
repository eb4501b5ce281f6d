"""The round-8 cohort: pure-Python referees and plan pins for the 14
operators registered at round 8. Their oracle parity runs with every
other registered query in ``test_oracle_parity.py``.
"""

from __future__ import annotations

import math
from collections import Counter

from go_zoom_kinesis_spark import registry
from go_zoom_kinesis_spark.io import load_table

P = 2_147_483_647

# the round-8 cohort
R8_NAMES = (
    "simhash_hamming_join",
    "duplicate_span_scrub",
    "retrieval_mrr_eval",
    "feature_hash_vectorize",
    "negative_sampling_unigram",
    "ts_linear_interpolate",
    "bpe_train_merges",
    "tokenizer_apply_bpe",
    "winnow_fingerprint_overlap",
    "dedup_incremental_lsh",
    "domain_frequency_cap",
    "lsh_recall_audit",
    "filter_survival_sweep",
    "purged_timefold_assign",
)
_ALL_Q = registry.all_queries()
R8_Q = {n: _ALL_Q[n] for n in R8_NAMES}


def _py_tokens(text):
    return [w for w in text.lower().split(" ") if w]


def _py_char_hash(s):
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % P
    return h


def test_r8_cohort_registered():
    """Every cohort name is registered in ``__spark_entry__``'s
    queries and oracle SQL."""
    import __spark_entry__ as entrymod

    assert set(R8_NAMES) <= set(entrymod.queries())
    assert set(R8_NAMES) <= set(entrymod.oracle_sql())


# --- simhash_hamming_join: pigeonhole no-false-negatives -----------------


def _py_simw_bands(ths):
    from go_zoom_kinesis_spark.operators.dedup import (
        SIMW_A,
        SIMW_B,
        SIMW_BAND_BITS,
        SIMW_BANDS,
        SIMW_BITS,
    )

    votes = [0] * SIMW_BITS
    for t in ths:
        for j in range(SIMW_BITS):
            votes[j] += ((t * SIMW_A[j] + SIMW_B[j]) % P % 2) * 2 - 1
    bands = []
    for k in range(SIMW_BANDS):
        v = 0
        for r in range(SIMW_BAND_BITS):
            if votes[k * SIMW_BAND_BITS + r] > 0:
                v |= 1 << r
        bands.append(v)
    return bands


def test_simhash_hamming_join_no_false_negatives(spark, sf_dir):
    """Brute-force referee: every pair at Hamming distance <=
    SIMW_HAMMING_MAX in the full wide signature space MUST appear
    (pigeonhole over the SIMW_BANDS bands), and every reported hamming
    must match the exact XOR popcount."""
    from go_zoom_kinesis_spark.operators.dedup import (
        SIMW_HAMMING_MAX,
        simhash_hamming_join,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    sigs = {}
    for d in docs:
        ths = sorted({_py_char_hash(t) for t in _py_tokens(d["text"])})
        if ths:
            sigs[d["doc_id"]] = _py_simw_bands(ths)
    expected = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(
                bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b])
            )
            if ham <= SIMW_HAMMING_MAX:
                expected[(a, b)] = ham
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_hamming_join(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "referee corpus produced no near pairs - test is vacuous"


# --- duplicate_span_scrub: greedy-removal referee ------------------------


def test_duplicate_span_scrub_referee(spark, sf_dir):
    from go_zoom_kinesis_spark.operators.relational4 import (
        SPAN_N,
        duplicate_span_scrub,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    inst = []  # (shash, doc_id, pos1based)
    ntok = {}
    for d in docs:
        th = [_py_char_hash(t) for t in _py_tokens(d["text"])]
        ntok[d["doc_id"]] = len(th)
        for i in range(len(th) - SPAN_N + 1):
            h = th[i]
            for x in th[i + 1 : i + SPAN_N]:
                h = (h * 31 + x) % P
            inst.append((h, d["doc_id"], i + 1))
    first = {}
    for h, doc, pos in inst:
        k = doc * 1_000_000_000 + pos
        if h not in first or k < first[h]:
            first[h] = k
    dups = {}
    for h, doc, pos in inst:
        if doc * 1_000_000_000 + pos != first[h]:
            dups.setdefault(doc, []).append(pos)
    expected = {}
    for doc, ps in dups.items():
        last_end, n = 0, 0
        for p in sorted(ps):
            if p >= last_end:
                last_end, n = p + SPAN_N, n + 1
        expected[doc] = (ntok[doc], len(ps), n, n * SPAN_N, ntok[doc] - n * SPAN_N)
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_dup_instances"],
            r["n_spans_removed"],
            r["tokens_removed"],
            r["surviving_tokens"],
        )
        for r in duplicate_span_scrub(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "referee corpus has no duplicate spans - test is vacuous"


# --- retrieval_mrr_eval: composition law ---------------------------------


def test_retrieval_mrr_composition(spark, sf_dir):
    """found/rank/rr must agree with the two registered operators the
    audit composes: rank = position of the brute-force top-1 in the IVF
    list, rr_ppm = floor(1e6/rank) (0 on a miss)."""
    from go_zoom_kinesis_spark.operators.similarity import (
        retrieval_mrr_eval,
        similarity_ivf_topk,
        similarity_topk,
    )

    truth1 = {
        r["q_id"]: r["vec_id"]
        for r in similarity_topk(spark, sf_dir).collect()
        if r["rk"] == 1
    }
    ivf = {}
    for r in similarity_ivf_topk(spark, sf_dir).collect():
        ivf.setdefault(r["q_id"], {})[r["vec_id"]] = r["rk"]
    rows = retrieval_mrr_eval(spark, sf_dir).collect()
    assert {r["q_id"] for r in rows} == set(truth1)
    for r in rows:
        rel = truth1[r["q_id"]]
        assert r["rel_vec"] == rel
        rank = ivf.get(r["q_id"], {}).get(rel)
        assert r["found"] == (rank is not None)
        assert r["rank_in_approx"] == rank
        assert r["rr_ppm"] == (math.floor(1_000_000.0 / rank) if rank else 0)


# --- feature_hash_vectorize: python vectorizer referee -------------------


def test_feature_hash_referee(spark, sf_dir):
    from go_zoom_kinesis_spark.functions import hashes as H
    from go_zoom_kinesis_spark.operators.text import (
        FH_DIM,
        FH_SIGN_FAMILY,
        feature_hash_vectorize,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {}
    for d in docs:
        vec = Counter()
        for t in _py_tokens(d["text"]):
            h = _py_char_hash(t)
            s = ((h * H.A[FH_SIGN_FAMILY] + H.B[FH_SIGN_FAMILY]) % P % 2) * 2 - 1
            vec[h % FH_DIM] += s
        vec = {k: v for k, v in vec.items() if v != 0}
        if vec:
            expected[d["doc_id"]] = (
                len(vec),
                sum(abs(v) for v in vec.values()),
                sum(v * v for v in vec.values()),
                sum((k + 1) * v for k, v in vec.items()),
            )
    got = {
        r["doc_id"]: (r["nnz"], r["l1_mass"], r["sq_norm"], r["dim_checksum"])
        for r in feature_hash_vectorize(spark, sf_dir).collect()
    }
    assert got == expected


# --- negative_sampling_unigram: python table referee ---------------------


def test_negative_sampling_referee(spark, sf_dir):
    from go_zoom_kinesis_spark.operators.chunking import (
        NS_FP,
        NS_VOCAB,
        negative_sampling_unigram,
    )

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    counts = Counter()
    for d in docs:
        counts.update(_py_tokens(d["text"]))
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:NS_VOCAB]
    weighted = [
        (t, c, math.floor(float(NS_FP) * c / math.sqrt(math.sqrt(c))))
        for t, c in top
    ]
    total = sum(w for _, _, w in weighted)
    expected, cum = [], 0
    for t, c, w in weighted:
        cum += w
        expected.append((t, c, w, (w * NS_FP) // total, (cum * NS_FP) // total))
    rows = negative_sampling_unigram(spark, sf_dir).collect()
    got = sorted(
        ((r["token"], r["c"], r["w"], r["prob_ppm"], r["cum_ppm"]) for r in rows),
        key=lambda x: (-x[1], x[0]),
    )
    assert got == expected
    # the table is a valid sampler: cumulative ends exactly at 1.0
    assert got[-1][4] == NS_FP


# --- ts_linear_interpolate: python interpolation referee -----------------


def test_ts_linear_interpolate_referee(spark, sf_dir):
    from go_zoom_kinesis_spark.operators.timeseries import ts_linear_interpolate

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).collect()
    hourly = {}
    for r in ev:
        eh = int(r["ts"].timestamp()) // 3600
        key = (r["event_type"], eh)
        n, c = hourly.get(key, (0, 0))
        hourly[key] = (n + 1, c + int(round(r["value"] * 100)))
    lo = min(eh for _, eh in hourly)
    hi = max(eh for _, eh in hourly)
    types = {t for t, _ in hourly}
    expected = {}
    for t in types:
        series = {eh: hourly.get((t, eh)) for eh in range(lo, hi + 1)}
        real = sorted(eh for eh, v in series.items() if v)
        for eh in range(lo, hi + 1):
            v = series[eh]
            if v:
                expected[(t, eh)] = (v[0], v[1], False)
                continue
            prevs = [x for x in real if x < eh]
            nexts = [x for x in real if x > eh]
            if prevs and nexts:
                pt, nt = prevs[-1], nexts[0]
                pv, nv = series[pt][1], series[nt][1]
                iv = pv + math.floor(
                    float((nv - pv) * (eh - pt)) / float(nt - pt)
                )
                expected[(t, eh)] = (0, iv, True)
            else:
                expected[(t, eh)] = (0, None, False)
    got = {}
    for r in ts_linear_interpolate(spark, sf_dir).collect():
        eh = int(r["bucket_hour"].timestamp()) // 3600
        got[(r["event_type"], eh)] = (
            r["n_events"],
            r["value_cents"],
            r["interpolated"],
        )
    assert got == expected
    assert any(v[2] for v in expected.values()), "no gaps - test is vacuous"


# --- DuckDB list_reduce conditional-lambda hazard ------------------------


def test_duck_list_reduce_conditional_hazard():
    """The greedy fold in duplicate_span_scrub's oracle must stay
    BRANCH-FREE: DuckDB 1.0's list_reduce mis-evaluates lambdas with a
    conditional pass-through branch (CASE WHEN ... ELSE acc) under bulk
    vectorization — observed 2/96 rows wrong on the fuzz corpus while
    the same fold on a single filtered row is correct. This test (a)
    guards the shipped oracle text against a CASE creeping back into
    the fold, and (b) stress-verifies the branch-free fold against a
    sequential Python replay on 5k variable-length lists."""
    import random

    import duckdb

    from go_zoom_kinesis_spark.operators.relational4 import (
        GREEDY_ENC,
        ORACLE,
        SPAN_N,
    )

    sql = ORACLE["duplicate_span_scrub"]
    fold = sql[sql.index("folded AS") : sql.index("nrem")]
    assert "CASE" not in fold, "greedy fold must stay branch-free (see docstring)"

    con = duckdb.connect()
    rng = random.Random(11)
    rows = []
    for i in range(5000):
        n = rng.randint(0, 30)
        rows.append((i, sorted(rng.sample(range(1, 200), n))))
    con.execute("CREATE TABLE t (i BIGINT, ps BIGINT[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    got = dict(
        con.execute(
            f"""
        SELECT i, list_reduce(
            list_prepend(CAST(0 AS BIGINT), ps),
            (acc, p) -> acc
                + CAST(p >= CAST((acc - acc % {GREEDY_ENC})
                       / {GREEDY_ENC} AS BIGINT) AS BIGINT)
                * ((p + {SPAN_N}
                    - CAST((acc - acc % {GREEDY_ENC})
                           / {GREEDY_ENC} AS BIGINT))
                   * {GREEDY_ENC} + 1)) % {GREEDY_ENC}
        FROM t WHERE len(ps) > 0
        """
        ).fetchall()
    )
    for i, ps in rows:
        if not ps:
            continue
        last, n = 0, 0
        for p in ps:
            if p >= last:
                last, n = p + SPAN_N, n + 1
        assert got[i] == n, f"row {i}: duck {got[i]} != py {n}"
    con.close()


# --- plan pins: the r8 operators must ship 100 TB-shaped plans -------


def _plan(spark, sf_dir, name):
    return (
        R8_Q[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_r8_plans_no_cartesian(spark, sf_dir):
    for name in sorted(R8_Q):
        assert "CartesianProduct" not in _plan(spark, sf_dir, name), name


def test_span_scrub_plan_joinless(spark, sf_dir):
    """duplicate_span_scrub's contract: first-occurrence is a window
    min, NOT a join — the whole plan carries zero join operators and
    exactly two KEYED exchanges (span-hash window + per-doc rollup).
    The r12 fan_out_narrow adds one RoundRobin exchange before the
    token hashing (single-file-scan parallelization, no-op at scale);
    the pin counts keyed shuffles so that deliberate fan-out passes
    while any join- or extra-aggregation-shaped regression still
    fails."""
    plan = _plan(spark, sf_dir, "duplicate_span_scrub")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Exchange rangepartitioning") == 0


def test_feature_hash_plan_joinless_partial_agg(spark, sf_dir):
    """feature_hash_vectorize: two uniform-key hash aggregates, each
    with a map-side partial (4 HashAggregate nodes), no joins. r13:
    count KEYED exchanges only — the shared `_docs` loader now fans the
    single-file test scan out with a round-robin exchange (a
    metadata-checked no-op at production split counts)."""
    plan = _plan(spark, sf_dir, "feature_hash_vectorize")
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 4
    assert plan.count("Exchange hashpartitioning") == 2


def test_negative_sampling_plan_topk_not_global_sort(spark, sf_dir):
    """The corpus-scale top-N must compile to TakeOrderedAndProject
    (partial top-k per task), never a global Sort of the vocabulary."""
    plan = _plan(spark, sf_dir, "negative_sampling_unigram")
    assert "TakeOrderedAndProject" in plan


def test_simhash_hamming_band_join_is_equi(spark, sf_dir):
    """The candidate join must be hash-equi on the band key (broadcast
    at test scale, shuffle-hash/sort-merge at 100 TB) — never a
    nested-loop over doc pairs."""
    plan = _plan(spark, sf_dir, "simhash_hamming_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- bpe_train_merges: pure-python BPE trainer referee -------------------


def test_bpe_train_merges_referee(spark, sf_dir):
    """Replay Sennrich-style BPE in plain Python (word-type table,
    greedy left-to-right pair merging, (count DESC, pair ASC) choice)
    and require the identical merge sequence."""
    from go_zoom_kinesis_spark.operators.chunking import (
        N_BPE_MERGES,
        bpe_train_merges,
    )

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    wc = Counter()
    for d in docs:
        wc.update(_py_tokens(d["text"]))
    words = {tuple(w): c for w, c in wc.items()}  # symbol tuple -> count

    def merge_word(syms, a, b, m):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(m)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    expected = []
    for step in range(1, N_BPE_MERGES + 1):
        pc = Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, a, b, a + b, n))
        merged = Counter()
        for syms, c in words.items():
            merged[merge_word(syms, a, b, a + b)] += c
        words = dict(merged)
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged_sym"], r["pair_count"])
        for r in bpe_train_merges(spark, sf_dir).orderBy("step").collect()
    ]
    assert got == expected
    assert len(expected) == N_BPE_MERGES


def test_tokenizer_apply_bpe_referee(spark, sf_dir):
    """Replay merge application in Python: train merges (same replay as
    the trainer referee), apply greedily to every word type, aggregate
    per language — totals and the integer ppm must match exactly."""
    from go_zoom_kinesis_spark.operators.chunking import (
        N_BPE_MERGES,
        tokenizer_apply_bpe,
    )

    docs = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    wc = Counter()
    lw = Counter()
    for d in docs:
        for w in _py_tokens(d["text"]):
            wc[w] += 1
            lw[(d["lang"], w)] += 1
    words = {tuple(w): c for w, c in wc.items()}

    def merge_word(syms, a, b, m):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(m)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    merges = []
    for _ in range(N_BPE_MERGES):
        pc = Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), _n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b))
        merged = Counter()
        for syms, c in words.items():
            merged[merge_word(syms, a, b, a + b)] += c
        words = dict(merged)

    final = {}
    for w in wc:
        syms = tuple(w)
        for a, b in merges:
            syms = merge_word(syms, a, b, a + b)
        final[w] = len(syms)
    expected = {}
    for (lang, w), c in lw.items():
        t = expected.setdefault(lang, [0, 0, 0, 0])
        t[0] += 1
        t[1] += c
        t[2] += c * len(w)
        t[3] += c * final[w]
    got = {}
    for r in tokenizer_apply_bpe(spark, sf_dir).collect():
        lang = r["lang"]
        e = expected[lang]
        assert (r["n_word_types"], r["n_tokens"], r["n_chars"], r["n_symbols"]) == tuple(e)
        assert r["symbols_per_char_ppm"] == e[3] * 1_000_000 // e[2]
        got[lang] = True
    assert set(got) == set(expected)


# --- winnow_fingerprint_overlap: pure-python winnowing referee -----------


def test_winnow_referee(spark, sf_dir):
    """Replay Schleimer-style winnowing in plain Python (k-gram Horner
    hashes, per-window minimum, distinct per doc, df-capped posting
    self-join) and require identical overlap pairs."""
    from go_zoom_kinesis_spark.operators.text import (
        WINNOW_K,
        WINNOW_MAX_DF,
        WINNOW_MIN_SHARED,
        WINNOW_W,
        winnow_fingerprint_overlap,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    doc_prints = {}
    for d in docs:
        th = [_py_char_hash(t) for t in _py_tokens(d["text"])]
        kh = []
        for i in range(len(th) - WINNOW_K + 1):
            acc = th[i]
            for x in th[i + 1 : i + WINNOW_K]:
                acc = (acc * 31 + x) % P
            kh.append(acc)
        prints = {
            min(kh[j : j + WINNOW_W])
            for j in range(len(kh) - WINNOW_W + 1)
        }
        doc_prints[d["doc_id"]] = prints
    df_count = Counter()
    for prints in doc_prints.values():
        df_count.update(prints)
    good = {
        fp for fp, c in df_count.items() if 2 <= c <= WINNOW_MAX_DF
    }
    expected = Counter()
    posting = {}
    for doc, prints in doc_prints.items():
        for fp in prints & good:
            posting.setdefault(fp, []).append(doc)
    for fp, ds in posting.items():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                expected[(ds[i], ds[j])] += 1
    expected = {
        pair: n for pair, n in expected.items() if n >= WINNOW_MIN_SHARED
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnow_fingerprint_overlap(spark, sf_dir).collect()
    }
    assert got == expected


# --- dedup_incremental_lsh: consistency vs the full pairwise surface -----


def test_dedup_incremental_consistent_with_full_lsh(spark, sf_dir):
    """The incremental screen must equal the incoming×existing slice of
    the registered full-pairwise dedup_minhash_lsh result: same bands,
    same threshold, so a cross pair appears in one iff it appears in
    the other."""
    from go_zoom_kinesis_spark.operators.dedup import (
        INCR_MOD,
        INCR_SLOT,
        dedup_incremental_lsh,
        dedup_minhash_lsh,
    )

    full = dedup_minhash_lsh(spark, sf_dir).collect()
    per_doc = {}
    for r in full:
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard"]
        a_in = a % INCR_MOD == INCR_SLOT
        b_in = b % INCR_MOD == INCR_SLOT
        if a_in == b_in:
            continue
        new, old = (a, b) if a_in else (b, a)
        st = per_doc.setdefault(new, [0, None, 0.0])
        st[0] += 1
        st[1] = old if st[1] is None else min(st[1], old)
        st[2] = max(st[2], j)
    got = {
        r["doc_id"]: (r["n_matches"], r["match_id"], r["best_jaccard"])
        for r in dedup_incremental_lsh(spark, sf_dir).collect()
    }
    expected = {k: tuple(v) for k, v in per_doc.items()}
    assert got.keys() == expected.keys()
    for k in expected:
        assert got[k][0] == expected[k][0], k
        assert got[k][1] == expected[k][1], k
        assert abs(got[k][2] - expected[k][2]) < 1e-9, k


# --- domain_frequency_cap: pure-python rank referee ----------------------


def test_domain_cap_referee(spark, sf_dir):
    from go_zoom_kinesis_spark.operators.sampling import (
        DOMAIN_CAP,
        domain_frequency_cap,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    by_src = {}
    for d in docs:
        by_src.setdefault(d["source"], []).append((d["n_chars"], d["doc_id"]))
    expected = {}
    for src, rows in by_src.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        kept = rows[:DOMAIN_CAP]
        expected[src] = (
            len(rows),
            len(kept),
            len(rows) - len(kept),
            sum(c for c, _ in rows),
            sum(c for c, _ in kept),
        )
    got = {
        r["source"]: (
            r["n_docs"],
            r["n_kept"],
            r["n_dropped"],
            r["total_chars"],
            r["kept_chars"],
        )
        for r in domain_frequency_cap(spark, sf_dir).collect()
    }
    assert got == expected


def test_domain_cap_plan_joinless_value_bucket_window(spark, sf_dir):
    """The cap must never rank raw rows: the plan carries no joins and
    its window runs AFTER the (source, n_chars) bucket aggregate —
    visible as HashAggregate below Window in the tree."""
    plan = _plan(spark, sf_dir, "domain_frequency_cap")
    assert "Join" not in plan
    assert "Window" in plan
    # plan string is top-down: the (source, n_chars) bucket aggregate
    # must sit BELOW the window (later in the string), proving the
    # window ranks value buckets, not raw rows
    assert plan.rindex("HashAggregate") > plan.index("Window")


# --- lsh_recall_audit: brute-force truth + python LSH referee ------------


def test_lsh_recall_audit_referee(spark, sf_dir):
    """Replay BOTH sides in plain Python — brute-force all-pairs
    Jaccard over shingle hashes for the ground truth (which also pins
    the prefix-filter join's no-false-negatives claim) and the full
    minhash→band→bucket pipeline for the candidates — then require the
    audit row to match exactly."""
    from go_zoom_kinesis_spark.functions import hashes as HH
    from go_zoom_kinesis_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        RECALL_AUDIT_MOD,
        RECALL_AUDIT_SLOT,
    )

    docs = [
        d
        for d in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
        if d["doc_id"] % RECALL_AUDIT_MOD == RECALL_AUDIT_SLOT
    ]
    hs = {}
    for d in docs:
        toks = _py_tokens(d["text"])
        sh = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        hs[d["doc_id"]] = {_py_char_hash(s) for s in sh}
    ids = sorted(hs)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            u = hs[a] | hs[b]
            if u and len(hs[a] & hs[b]) / len(u) >= JACCARD_THRESHOLD:
                truth.add((a, b))
    buckets = {}
    for doc, s in hs.items():
        if not s:
            continue
        mh = [
            min((h * HH.A[i] + HH.B[i]) % HH.P for h in s)
            for i in range(HH.NUM_HASHES)
        ]
        for b in range(HH.NUM_BANDS):
            key = (
                b,
                "-".join(
                    str(mh[b * HH.ROWS_PER_BAND + r])
                    for r in range(HH.ROWS_PER_BAND)
                ),
            )
            buckets.setdefault(key, []).append(doc)
    cand = set()
    for ds in buckets.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cand.add((ds[i], ds[j]))
    hits = truth & cand
    [row] = R8_Q["lsh_recall_audit"](spark, sf_dir).collect()
    assert row["n_true_pairs"] == len(truth)
    assert row["n_lsh_candidates"] == len(cand)
    assert row["n_hits"] == len(hits)
    if truth:
        assert row["recall_ppm"] == len(hits) * 1_000_000 // len(truth)
    if cand:
        assert row["precision_ppm"] == len(hits) * 1_000_000 // len(cand)


# --- filter_survival_sweep: python sweep referee --------------------------


def test_filter_survival_sweep_referee(spark, sf_dir):
    """Python-replay the integer-ppm quality score and the threshold
    sweep; every output row must match exactly."""
    from go_zoom_kinesis_spark.operators.curation import SWEEP_THRESHOLDS
    from go_zoom_kinesis_spark.operators.text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    stop = set(STOPWORDS["en"])
    scores = []
    for d in docs:
        toks = _py_tokens(d["text"])
        if not toks:
            continue
        nt, nd = len(toks), len(set(toks))
        sh = len(set(toks) & stop)
        scores.append(
            (
                400000 * nd // nt
                + 300000 * min(nt, 100) // 100
                + 300000 * sh // nd,
                nt,
            )
        )
    tot_docs = len(scores)
    tot_tokens = sum(nt for _, nt in scores)
    expected = {}
    for t in SWEEP_THRESHOLDS:
        kd = sum(1 for s, _ in scores if s >= t)
        kt = sum(nt for s, nt in scores if s >= t)
        expected[t] = (
            kd,
            kt,
            kd * 1_000_000 // tot_docs,
            kt * 1_000_000 // tot_tokens,
        )
    rows = R8_Q["filter_survival_sweep"](spark, sf_dir).collect()
    assert len(rows) == len(SWEEP_THRESHOLDS)
    for r in rows:
        e = expected[r["threshold_ppm"]]
        got = (
            r["n_docs_kept"],
            r["n_tokens_kept"],
            r["doc_share_ppm"],
            r["token_share_ppm"],
        )
        assert got == e, (r["threshold_ppm"], got, e)
    # the curve must be monotone non-increasing — a sanity invariant of
    # any survival sweep, independent of the referee
    by_thr = sorted((r["threshold_ppm"], r["n_docs_kept"]) for r in rows)
    kept_seq = [k for _, k in by_thr]
    assert kept_seq == sorted(kept_seq, reverse=True)


def test_filter_survival_plan_single_scan_bucketed(spark, sf_dir):
    """The sweep's contract: ONE corpus scan feeding a score-bucket
    aggregate; thresholds join the bounded histogram (never the row
    stream), so the plan has exactly one parquet scan and no
    cartesian."""
    plan = _plan(spark, sf_dir, "filter_survival_sweep")
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


# --- purged_timefold_assign: python temporal-CV referee -------------------


def test_purged_timefold_referee(spark, sf_dir):
    """Replay the hour-bucket fold assignment, embargo purge, and
    train accounting in plain Python; every fold row must match."""
    from go_zoom_kinesis_spark.operators.sampling import (
        TIMEFOLD_EMBARGO_HOURS,
        TIMEFOLD_K,
        _HOUR_US,
    )

    rows = (
        load_table(spark, sf_dir, "events")
        .selectExpr(f"unix_micros(ts) div {_HOUR_US} as hour")
        .collect()
    )
    cnt = Counter(r["hour"] for r in rows)
    total = sum(cnt.values())
    hours = sorted(cnt)
    cum = 0
    fold_of = {}
    for h in hours:
        cum += cnt[h]
        fold_of[h] = (cum - 1) * TIMEFOLD_K // total
    franges = {}
    for h, f in fold_of.items():
        lo, hi, n = franges.get(f, (h, h, 0))
        franges[f] = (min(lo, h), max(hi, h), n + cnt[h])
    expected = {}
    for f, (h0, h1, n_test) in franges.items():
        n_emb = sum(
            c
            for h, c in cnt.items()
            if (h0 - TIMEFOLD_EMBARGO_HOURS <= h < h0)
            or (h1 < h <= h1 + TIMEFOLD_EMBARGO_HOURS)
        )
        expected[f] = (h0, h1, n_test, n_emb, total - n_test - n_emb)
    out = R8_Q["purged_timefold_assign"](spark, sf_dir).collect()
    assert len(out) == len(expected)
    for r in out:
        e = expected[r["fold"]]
        got = (
            r["test_start_hour"],
            r["test_end_hour"],
            r["n_test"],
            r["n_embargo"],
            r["n_train"],
        )
        assert got == e, (r["fold"], got, e)
    # temporal-CV invariants independent of the referee: folds are
    # contiguous and ordered, and every event is accounted exactly once
    # per fold row (test + embargo + train == total)
    byf = sorted(out, key=lambda r: r["fold"])
    for a, b in zip(byf, byf[1:]):
        assert a["test_end_hour"] < b["test_start_hour"]
    for r in out:
        assert r["n_test"] + r["n_embargo"] + r["n_train"] == total


def test_purged_timefold_plan_bucketed(spark, sf_dir):
    """Contract: event rows are never windowed or joined — every
    window and join input is the bounded hour-bucket relation, pinned
    once (the plan reads one materialized bucket aggregate in every
    branch; the single parquet scan ran inside the pin), and there is
    no cartesian."""
    plan = _plan(spark, sf_dir, "purged_timefold_assign")
    # every branch (fold ranges, embargo bucket side, corpus total)
    # reads the pinned bucket relation, and no branch scans events
    assert plan.count("Scan ExistingRDD") >= 3
    assert "FileScan" not in plan
    assert "CartesianProduct" not in plan
