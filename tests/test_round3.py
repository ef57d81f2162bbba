"""Regression tests for the round-3 punch list (VERDICT.md round 2 +
ADVICE.md): multi-chunk pigeonhole selectivity, containment build-side
prune, multi-probe ANN, IVF sample bias, n_probe clamp, kernel-version
checkpoint keying, token-shingle mode, salted probe join losslessness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# SimHash multi-chunk pigeonhole (VERDICT #3, Manku WWW'07)
# ---------------------------------------------------------------------------

def test_simhash_multichunk_recall_radius8(spark):
    """Set-equality vs brute force at radius 8 on random fps with planted
    near pairs — the exactness guarantee must survive the multi-chunk keys."""
    from facematch_spark.operators.dedup import _pigeonhole_hamming_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(0, 2**63, size=200, dtype=np.int64)
    planted = []
    for i in range(40):  # pairs at Hamming 1..8 off base fps
        fp = int(base[i])
        flips = rng.choice(64, size=(i % 8) + 1, replace=False)
        for b in flips:
            fp ^= 1 << int(b)
        planted.append(fp if fp < 2**63 else fp - 2**64)
    fps = [(i, int(v)) for i, v in enumerate(base)] + [
        (1000 + i, v) for i, v in enumerate(planted)
    ]
    df = spark.createDataFrame(fps, "file_id long, fp long")
    got = {
        (r.id_a, r.id_b)
        for r in _pigeonhole_hamming_pairs(df, 8, 64).select("id_a", "id_b").collect()
    }
    arr = np.array([v for _, v in fps], dtype=np.int64).view(np.uint64)
    ids = np.array([i for i, _ in fps])
    x = arr[:, None] ^ arr[None, :]

    def popcount(v):  # vectorized uint64 popcount (bit tricks)
        v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
        v = (v & np.uint64(0x3333333333333333)) + ((v >> np.uint64(2)) & np.uint64(0x3333333333333333))
        v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        return (v * np.uint64(0x0101010101010101)) >> np.uint64(56)

    ham = popcount(x)
    ia, ib = np.where((ham <= 8) & (ids[:, None] < ids[None, :]))
    want = {(int(ids[a]), int(ids[b])) for a, b in zip(ia, ib)}
    assert got == want


def test_simhash_multichunk_group_selectivity(spark):
    """At radius 8 / 64 bits the multi-chunk keys must partition a uniform
    corpus far more finely than single ~7-bit chunks: max group size ≪
    N / 2^7 (the single-chunk expectation)."""
    from facematch_spark.operators.dedup import pigeonhole_chunk_keys, simhash_chunk_bounds

    n = 50_000
    rng = np.random.default_rng(11)
    fps = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(i), int(v)) for i, v in enumerate(fps)], "file_id long, fp long"
    )
    bounds = simhash_chunk_bounds(8, 64)
    assert len(bounds) == 10  # c = r + 2 → m = 2 chunk combinations
    keys = pigeonhole_chunk_keys(df, 8, 64)
    max_group = (
        keys.groupBy("chunk_id", "chunk").count().agg(F.max("count")).collect()[0][0]
    )
    single_chunk_expectation = n / 2**7  # ≈ 390
    assert max_group < single_chunk_expectation / 10  # ≪, not just <


@pytest.mark.parametrize("radius", [0, 1, 2, 3, 4, 6, 8])
def test_pigeonhole_guarantee_all_radii(spark, radius):
    """Any two fingerprints within the Hamming radius MUST share at least
    one (chunk_id, chunk) key — the lossless-candidate invariant, checked
    for every supported radius with adversarial flip placements (clustered
    in one chunk, spread across chunks, at chunk boundaries)."""
    from facematch_spark.operators.dedup import pigeonhole_chunk_keys

    rng = np.random.default_rng(radius)
    rows, want_pairs = [], []
    next_id = 0
    for trial in range(12):
        base = int(rng.integers(0, 2**63))
        if radius == 0:
            flips = []
        elif trial % 3 == 0:   # clustered: all flips in the low bits
            flips = list(range(radius))
        elif trial % 3 == 1:   # spread: maximally separated
            flips = [(i * 64) // max(radius, 1) for i in range(radius)]
        else:                  # random placements
            flips = list(rng.choice(64, size=radius, replace=False))
        other = base
        for b in flips:
            other ^= 1 << int(b)

        def signed(v):
            return v if v < 2**63 else v - 2**64

        a_id, b_id = next_id, next_id + 1
        next_id += 2
        rows += [(a_id, signed(base)), (b_id, signed(other))]
        want_pairs.append((a_id, b_id))

    df = spark.createDataFrame(rows, "file_id long, fp long")
    keys = pigeonhole_chunk_keys(df, radius, 64)
    a = keys.alias("a")
    b = keys.alias("b")
    shared = {
        (r.ia, r.ib)
        for r in a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.file_id") < F.col("b.file_id")),
        )
        .select(F.col("a.file_id").alias("ia"), F.col("b.file_id").alias("ib"))
        .distinct()
        .collect()
    }
    for pair in want_pairs:
        assert pair in shared, f"radius {radius}: pair {pair} lost by chunk keys"


def test_simhash_chunk_bounds_validation():
    from facematch_spark.operators.dedup import simhash_chunk_bounds

    # r=0 degenerates to whole-fingerprint equality: one combo of all chunks
    bounds = simhash_chunk_bounds(0, 64)
    assert sum(w for _, w in bounds) == 64


# ---------------------------------------------------------------------------
# salted probe join (shared skew machinery for asymmetric candidates)
# ---------------------------------------------------------------------------

def test_salted_probe_join_lossless(spark, monkeypatch):
    from facematch_spark.operators import lsh as L

    monkeypatch.setattr(L, "HOT_GROUP_CAP", 50)
    monkeypatch.setattr(L, "SALT_BUCKETS", 4)

    rng = np.random.default_rng(3)
    # one hot key (0) with 400 build rows, the rest small
    build_rows = [(0, int(i)) for i in range(400)] + [
        (int(k), int(1000 + i)) for i, k in enumerate(rng.integers(1, 50, 300))
    ]
    probe_rows = [(0, 1), (0, 2), (5, 3), (7, 4), (99, 5)]  # 99 matches nothing
    build = spark.createDataFrame(build_rows, "key int, nid long")
    probes = spark.createDataFrame(probe_rows, "key int, qid long")
    got = {
        (r.qid, r.nid)
        for r in L.salted_probe_join(
            probes, build, keys=["key"], left_id="qid", right_id="nid",
            n_build=build.count(),
        ).collect()
    }
    want = {
        (q, n) for k1, q in probe_rows for k2, n in build_rows if k1 == k2
    }
    assert got == want


# ---------------------------------------------------------------------------
# ANN: multi-probe recall, IVF sampling, n_probe clamp
# ---------------------------------------------------------------------------

def _random_embeddings(spark, n, dim=16, seed=5):
    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, dim))
    return spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


def test_multiprobe_recall_beats_single_probe(spark):
    from facematch_spark.operators.similarity import ann_topk_lsh, cosine_topk_bruteforce

    emb = _random_embeddings(spark, 300, dim=16).cache()
    truth = cosine_topk_bruteforce(emb, emb, k=1).select(
        "query_id", F.col("neighbor_id").alias("nn")
    ).cache()
    n = emb.count()

    def recall(multi):
        ann = ann_topk_lsh(emb, k=3, n_bits=4, n_tables=4, dim=16, multi_probe=multi)
        hits = truth.join(
            ann, (truth.query_id == ann.query_id) & (truth.nn == ann.neighbor_id), "left_semi"
        ).count()
        return hits / n

    r_multi, r_single = recall(True), recall(False)
    assert r_multi > r_single
    assert r_multi >= 0.9


def test_ivf_sample_not_head_biased(spark):
    """Label-clustered fixture where ALL of cluster B sits in the tail: a
    head-biased (limit) sample trains centroids that never see B. The seeded
    Bernoulli sample must place a centroid near each true center."""
    from facematch_spark.operators.similarity import train_ivf_centroids

    rng = np.random.default_rng(9)
    dim = 8
    ca, cb = np.zeros(dim), np.full(dim, 10.0)
    A = ca + 0.1 * rng.standard_normal((4000, dim))
    B = cb + 0.1 * rng.standard_normal((4000, dim))
    X = np.vstack([A, B])  # cluster order preserved: B entirely in the tail
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    ).coalesce(4)  # few partitions so limit() would stay in the head
    C = train_ivf_centroids(df, n_lists=4, seed=1, sample_rows=500)
    d_a = np.linalg.norm(C - ca, axis=1).min()
    d_b = np.linalg.norm(C - cb, axis=1).min()
    assert d_a < 1.0 and d_b < 1.0  # both clusters represented


def test_ivf_assign_clamps_probe_to_centroids(spark):
    """n_probe > trained centroids must not crash the Arrow UDF (ADVICE)."""
    from facematch_spark.operators.similarity import ann_topk_ivf

    emb = _random_embeddings(spark, 5, dim=4)
    out = ann_topk_ivf(emb, k=2, n_lists=8, n_probe=6)
    assert out.count() >= 0  # executes without column-length mismatch


# ---------------------------------------------------------------------------
# kernel-version checkpoint keying (ADVICE medium)
# ---------------------------------------------------------------------------

def test_kernel_version_changes_config_hash(monkeypatch):
    from facematch_spark import config as C
    from facematch_spark.functions import hashing as H

    cfg = C.DedupeConfig()
    h1 = cfg.config_hash
    monkeypatch.setattr(H, "KERNEL_VERSION", H.KERNEL_VERSION + 1)
    h2 = cfg.config_hash
    assert h1 != h2  # old-family checkpoints key to a different table_suffix


# ---------------------------------------------------------------------------
# Iceberg snapshot re-pin decision (ADVICE medium — pure logic, no Iceberg)
# ---------------------------------------------------------------------------

def test_snapshot_repin_decision():
    from facematch_spark.sources.io import resolve_snapshot_pin

    # first run on a config: pin the head
    assert resolve_snapshot_pin({}, 100) == 100
    # previous run completed: RE-pin the head so appended rows enter
    assert resolve_snapshot_pin({"snapshot_id": 100, "run_complete": True}, 200) == 200
    # previous run interrupted: reuse the stored pin (resume isolation)
    assert resolve_snapshot_pin({"snapshot_id": 100, "run_complete": False}, 200) == 100
    # legacy metadata without the flag: treat as complete (the old
    # never-expiring-pin behavior is the bug; expire it)
    assert resolve_snapshot_pin({"snapshot_id": 100}, 200) == 200
    # parquet fallback: no head, nothing to pin
    assert resolve_snapshot_pin({}, None) is None


# ---------------------------------------------------------------------------
# token-shingle mode (VERDICT #8)
# ---------------------------------------------------------------------------

def test_token_shingles_match_python_reference(spark):
    from facematch_spark.operators.dedup import token_shingles

    docs = [
        (1, "a b c d"),
        (2, "  a   b\tc\nd  "),   # messy whitespace → same tokens as doc 1
        (3, "a b"),               # fewer than k tokens → no shingles
        (4, "x y z x y z"),       # duplicate shingles collapse
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.shingle)
        for r in token_shingles(df, 3).collect()
    }

    def ref(text, k=3):
        toks = text.split()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    want = {(d, s) for d, t in docs for s in ref(t)}
    assert got == want


def test_token_jaccard_pairs(spark):
    from facematch_spark.operators.dedup import ngram_jaccard_pairs

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words entirely here now then"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, 3, 0.3, shingle_kind="token").collect()
    assert len(pairs) == 1
    p = pairs[0]
    # doc1/doc2: 7 shingles each, 6 shared → J = 6/8
    assert (p.id_a, p.id_b) == (1, 2)
    assert abs(p.jaccard - 6 / 8) < 1e-12
