"""Property-based checks (hypothesis) for the pure kernels — the tier
the reference lacks (SURVEY §5 'not present'). Round-trips and
invariants that hold for ALL inputs, not just fixture shapes."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from avocado_spark.functions.realign import (
    align,
    collapse,
    extract_reference,
    make_cigar_md,
    ops_from_cigar_md,
    realign_read,
)
from avocado_spark.operators.coverage import sweep_limit
from avocado_spark.schemas import GENOTYPE_ALLELES

BASES = "ACGT"


@st.composite
def op_lists(draw):
    """Random well-formed operator lists (start/end anchored in match)."""
    ops = [("=", draw(st.integers(1, 20)), None)]
    for _ in range(draw(st.integers(0, 6))):
        kind = draw(st.sampled_from(["=", "X", "I", "D"]))
        n = draw(st.integers(1, 8))
        if kind in ("X", "D"):
            bases = "".join(draw(st.sampled_from(BASES)) for _ in range(n))
            ops.append((kind, n, bases))
        else:
            ops.append((kind, n, None))
        ops.append(("=", draw(st.integers(1, 10)), None))
    return collapse(ops)


def read_for(ops, draw_char="A"):
    n = sum(size for kind, size, _ in ops if kind in ("=", "X", "I", "S"))
    return draw_char * n


@given(op_lists())
@settings(max_examples=200, deadline=None)
def test_cigar_md_roundtrip(ops):
    """ops → (cigar, md) → ops is the identity on collapsed op lists."""
    read = read_for(ops)
    cigar, md = make_cigar_md(ops)
    back = ops_from_cigar_md(cigar, md, read)
    # X runs' ref bases survive; = runs merge identically
    assert back == ops, (cigar, md)


@given(op_lists())
@settings(max_examples=200, deadline=None)
def test_extract_reference_length_invariant(ops):
    """|ref| = Σ match/mismatch/deletion lengths, regardless of shape."""
    read = read_for(ops)
    ref = extract_reference(read, ops)
    want = sum(size for kind, size, _ in ops if kind in ("=", "X", "D"))
    assert len(ref) == want


@given(
    st.text(alphabet=BASES, min_size=0, max_size=40),
    st.text(alphabet=BASES, min_size=0, max_size=40),
    st.integers(2, 8),
)
@settings(max_examples=300, deadline=None)
def test_align_consumes_both_sequences(ref, alt, k):
    """Whatever path align() takes (anchored, trimmed, degenerate), the
    emitted operators must consume exactly |alt| read bases and |ref|
    reference bases."""
    try:
        ops = align(ref, alt, k)
    except ValueError:
        return  # k-mer repeat / degenerate block: caller falls back
    read_len = sum(s for kind, s, _ in ops if kind in ("=", "X", "I"))
    ref_len = sum(s for kind, s, _ in ops if kind in ("=", "X", "D"))
    assert read_len == len(alt)
    assert ref_len == len(ref)


@given(op_lists(), st.integers(2, 10))
@settings(max_examples=150, deadline=None)
def test_realign_read_is_safe_and_conservative(ops, k):
    """realign_read never throws, never changes read length, and its
    output parses back to a consistent operator list."""
    read = read_for(ops)
    cigar, md = make_cigar_md(ops)
    new_cigar, new_md, _ = realign_read(read, cigar, md, k)
    back = ops_from_cigar_md(new_cigar, new_md, read)
    read_len = sum(s for kind, s, _ in back if kind in ("=", "X", "I", "S"))
    assert read_len == len(read)


@given(
    st.lists(st.tuples(st.integers(0, 100), st.integers(1, 30)), max_size=50),
    st.integers(1, 5),
)
@settings(max_examples=200, deadline=None)
def test_sweep_limit_depth_bound(intervals, cap):
    """After capping, no position is covered by more than `cap` kept
    intervals — the operator's defining invariant."""
    rows = sorted((s, s + l) for s, l in intervals)
    keep = sweep_limit([s for s, _ in rows], [e for _, e in rows], cap)
    kept = [iv for iv, k in zip(rows, keep) if k]
    for pos in {s for s, _ in rows}:
        depth = sum(1 for s, e in kept if s <= pos < e)
        assert depth <= cap


def test_allele_domain():
    assert set(GENOTYPE_ALLELES) == {"REF", "ALT", "OTHER_ALT", "NO_CALL"}


def test_scd2_history_matches_pandas_replay(spark):
    """Property: SCD2 compile equals a direct sequential replay over
    randomized per-user event streams (fixed LCG seeds)."""
    from datetime import datetime, timedelta

    from avocado_spark.operators.relational import scd2_history

    def lcg(seed):
        x = seed
        while True:
            x = (x * 1103515245 + 12345) % 2147483648
            yield x

    t0 = datetime(2026, 1, 1)
    types = ["a", "b", "c"]
    for seed in (3, 77):
        g = lcg(seed)
        rows = []
        eid = 0
        for uid in range(6):
            for _ in range(next(g) % 12 + 1):
                rows.append(
                    (
                        eid,
                        t0 + timedelta(minutes=next(g) % 10_000),
                        uid,
                        types[next(g) % 3],
                        0.0,
                        "",
                    )
                )
                eid += 1
        ev = spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        got = {
            (r.user_id, r.version): (
                r.event_type,
                r.valid_from_us,
                r.valid_to_us,
                r.is_current,
                r.n_events,
            )
            for r in scd2_history(ev).collect()
        }
        # sequential replay
        want = {}
        by_user: dict[int, list] = {}
        for eid_, ts, uid, et, _v, _p in rows:
            by_user.setdefault(uid, []).append((ts, eid_, et))
        for uid, evs in by_user.items():
            evs.sort()
            runs = []
            for ts, _eid, et in evs:
                us = int(ts.timestamp() * 1_000_000)
                if runs and runs[-1][0] == et:
                    runs[-1][2] += 1
                else:
                    runs.append([et, us, 1])
            for i, (et, us, n) in enumerate(runs):
                nxt = runs[i + 1][1] if i + 1 < len(runs) else None
                want[(uid, i + 1)] = (et, us, nxt, nxt is None, n)
        assert got == want, seed


def test_ols_two_features_matches_numpy(spark):
    """Cramer-on-exact-moments must agree with numpy lstsq on a
    deterministic synthetic fit (y = 7 + 3*x1 - 2*x2 + LCG noise)."""
    import numpy as np

    from avocado_spark.operators.relational import ols_two_features

    rows = []
    for i in range(500):
        x1 = (i * 7919) % 40
        x2 = (i * 104729) % 15
        noise = ((i * 2654435761) % 11) - 5
        rows.append(("g", x1, x2, 7 + 3 * x1 - 2 * x2 + noise))
    df = spark.createDataFrame(rows, ["grp", "x1", "x2", "y"])
    [got] = ols_two_features(df, "grp", "x1", "x2", "y").collect()
    a = np.array([[1.0, r[1], r[2]] for r in rows])
    b = np.array([float(r[3]) for r in rows])
    beta, *_ = np.linalg.lstsq(a, b, rcond=None)
    assert abs(got["b0"] - beta[0]) < 1e-4
    assert abs(got["b1"] - beta[1]) < 1e-4
    assert abs(got["b2"] - beta[2]) < 1e-4


def test_weighted_row_sample_biases_toward_heavy_rows(spark):
    """Efraimidis-Spirakis property: with weights 1..5 and k well below
    the group size, the sampled rows' mean weight must exceed the
    population mean (heavier rows are preferentially included), and the
    draw is exactly reproducible."""
    from pyspark.sql import functions as F

    from avocado_spark.operators.relational import weighted_row_sample_per_group

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).alias("g"),
        (1 + F.col("id") % 5).alias("w"),
    )
    out = weighted_row_sample_per_group(
        df, ["g"], k=200, id_col="doc_id", weight_col=F.col("w")
    )
    assert out.groupBy("g").count().collect()[0]["count"] == 200
    pop_mean = df.agg(F.avg("w")).first()[0]
    samp_mean = out.agg(F.avg("w")).first()[0]
    assert samp_mean > pop_mean + 0.3, (samp_mean, pop_mean)
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in out.collect())
    assert a == b


def test_jl_projection_beats_random_shortlist_baseline(spark):
    """JL shortlist quality: summed containment of exact top-5 inside
    the projected top-20 must exceed the random-shortlist expectation
    (20/499 * 5 per query ≈ 0.2 → ~4/100 over 20 queries) by an order
    of magnitude. Guards against a structured (correlated-rows) sign
    matrix, which passes the value differential but destroys the
    geometry — the bug this test caught once already."""
    from pyspark.sql import functions as F

    from avocado_spark.queries import get_queries

    df = get_queries()["embedding_jl_recall"](spark, "/root/testdata/sf0.01")
    total = df.agg(F.sum("contained_at_20")).first()[0]
    assert total >= 25, f"containment {total}/100 — sign matrix degenerate?"


def test_bpe_merges_match_scan_reference(spark):
    """bpe_phrase_merges vs a literal greedy-scan Python reference,
    including the left=right run case ("a a a a a") where greedy
    left-to-right merges only at even run offsets."""
    from avocado_spark.operators.text import bpe_phrase_merges

    docs_py = [
        (1, "the cat sat on the mat the cat ran"),
        (2, "the cat sat the cat sat on a mat"),
        (3, "a a a a a b a b the the the"),
        (4, "x y x y x y"),
    ]
    docs = spark.createDataFrame(docs_py, "doc_id long, text string")

    def merge(seq, a, b):
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + " " + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return out

    seqs = [t.split() for _, t in docs_py]
    expected = []
    for it in range(1, 6):
        counts = {}
        for sq in seqs:
            for x, y in zip(sq, sq[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + 1
        (a, b), n = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expected.append((it, a, b, a + " " + b, n))
        seqs = [merge(sq, a, b) for sq in seqs]

    got = sorted(
        (r["iteration"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in bpe_phrase_merges(docs, 5).collect()
    )
    assert got == expected


def test_nb_train_predict_matches_hand_computation(spark):
    """Tiny corpus where the MNB posterior is computable by hand:
    train has two classes with disjoint signal tokens plus one shared
    token; the held-out docs (doc_id % 5 == 0) must go to the class
    whose signal they carry, and a signal-free doc must fall back to
    the larger prior."""
    import math

    from avocado_spark.operators.text import nb_train_predict

    rows = [
        # train (doc_id % 5 != 0): class a = {x}, class b = {y}, shared {s}
        (1, "a", "x x s"),
        (2, "a", "x s"),
        (3, "a", "x x x"),
        (4, "b", "y s"),
        (6, "b", "y y"),
        # holdout (doc_id % 5 == 0)
        (5, "a", "x x"),    # pure a-signal
        (10, "b", "y"),     # pure b-signal
        (15, "b", "s"),     # shared only -> prior => a (3 docs vs 2)
        (20, "a", "zz"),    # OOV only -> prior => a
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {
        r.doc_id: (r.true_label, r.pred_label, r.score)
        for r in nb_train_predict(docs).collect()
    }
    assert out[5][1] == "a"
    assert out[10][1] == "b"
    assert out[15][1] == "a"
    assert out[20][1] == "a"
    # hand-check doc 5 ("x x") against class a:
    # train(a): tokens {x:6, s:2}, N_a=8; V=3 (x, s, y); prior 3/5
    # score = ln(3/5) + 2*ln(6+1) - 2*ln(8+3), each term @9dp, sum @6dp
    want = round(
        round(math.log(3 / 5), 9)
        + round(round(2 * math.log(7.0), 9), 6)
        - 2 * round(math.log(11.0), 9),
        6,
    )
    assert abs(out[5][2] - want) <= 2e-6


def test_bigram_backoff_matches_python_reference(spark):
    """bigram_backoff_scores vs a literal Python Stupid-Backoff
    replay (independent of both Spark expressions and the SQL
    oracle), on a corpus crafted so both the seen-bigram and the
    backoff path fire."""
    from collections import Counter

    from avocado_spark.operators.text import bigram_backoff_scores

    rows = [
        (1, "a b a b c"),        # train
        (2, "b c b c"),          # train
        (0, "a b zz c"),         # score: a-b seen; b-zz, zz-c backoff
        (5, "c b a"),            # score: c-b seen, b-a unseen bigram
        (10, "solo"),            # score: <2 tokens -> no output row
        (3, "a a a"),            # train
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_bigrams, r.bits_total, r.n_backoff)
        for r in bigram_backoff_scores(docs).collect()
    }

    train = [t for i, t in rows if i % 5 != 0]
    uni = Counter(w for t in train for w in t.split())
    n_tok, v = sum(uni.values()), len(uni)
    bi = Counter(
        (ws[i], ws[i + 1])
        for t in train
        for ws in [t.split()]
        for i in range(len(ws) - 1)
    )
    expect = {}
    for i, t in rows:
        if i % 5 != 0:
            continue
        ws = t.split()
        if len(ws) < 2:
            continue
        bits = n_back = 0
        for a, b in zip(ws, ws[1:]):
            if bi[(a, b)]:
                bits += (uni[a] // bi[(a, b)]).bit_length() - 1
            else:
                bits += ((2 * (n_tok + v)) // (uni.get(b, 0) + 1)).bit_length() - 1
                n_back += 1
        expect[i] = (len(ws) - 1, bits, n_back)
    assert got == expect


def test_retrieval_metrics_hand_computed(spark):
    """retrieval_metrics vs hand-computed MRR/nDCG on a tiny fixture."""
    import math

    from avocado_spark.operators.ranking import retrieval_metrics

    ranked = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2)],
        ["q_id", "doc_id", "rank"],
    )
    qrels = spark.createDataFrame(
        # q1: docs 11, 12 relevant (ranks 2, 3); q2: doc 99 relevant,
        # never retrieved; q3: relevant but q3 absent from ranking
        [(1, 11), (1, 12), (2, 99), (3, 30)],
        ["q_id", "doc_id"],
    )
    got = {r.q_id: r.asDict() for r in retrieval_metrics(ranked, qrels, k=2).collect()}
    assert set(got) == {1, 2, 3}
    r1 = got[1]
    assert (r1["n_relevant"], r1["n_hits_at_k"]) == (2, 1)
    assert r1["mrr"] == 0.5
    idcg = 1.0 / math.log2(2) + 1.0 / math.log2(3)
    assert r1["ndcg_at_k"] == round((1.0 / math.log2(3)) / idcg, 6)
    assert got[2]["mrr"] == 0.0 and got[2]["ndcg_at_k"] == 0.0
    assert got[3]["n_retrieved_at_k"] == 0 and got[3]["recall_at_k"] == 0.0


def test_bpe_apply_frozen_rules_matches_training_encoding(spark, job_group):
    """bpe_apply with the trained rule list reproduces the training
    loop's own final encoding (train→freeze→apply is lossless)."""
    from avocado_spark.checkpoints import release
    from avocado_spark.operators.text import bpe_apply, bpe_phrase_merges

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b c b c a b"), (3, "x"), (4, "")],
        ["doc_id", "text"],
    )
    enc: dict = {}
    rules = bpe_phrase_merges(docs, n_merges=3, encoded_out=enc)
    merges = [(r["left_sym"], r["right_sym"]) for r in rules.orderBy("iteration").collect()]
    trained = {(r.doc_id, r.pos): r.sym for r in enc["encoded"].collect()}
    applied = {(r.doc_id, r.pos): r.sym for r in bpe_apply(docs, merges).collect()}
    assert trained == applied
    release(spark)
