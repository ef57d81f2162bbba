"""Unit tests for the vectorized hashing kernels (SURVEY.md §5.1)."""

from __future__ import annotations

import numpy as np
import pytest

from facematch_spark.functions import hashing as H


def naive_char_shingles(data: bytes, k: int) -> set[bytes]:
    return {data[i : i + k] for i in range(len(data) - k + 1)}


def test_char_shingle_count_matches_naive():
    data = b"the quick brown fox jumps over the lazy dog the quick brown fox"
    for k in (3, 5, 9):
        got = H.char_shingle_hashes(data, k)
        assert len(got) == len(naive_char_shingles(data, k))


def test_char_shingles_deterministic():
    data = b"def foo(bar):\n    return bar * 2\n"
    a = H.char_shingle_hashes(data, 9)
    b = H.char_shingle_hashes(data, 9)
    assert np.array_equal(a, b)


def test_char_shingles_set_semantics():
    # repeated content adds no new shingles beyond the junction region
    once = H.char_shingle_hashes(b"abcabcabc", 3)
    # distinct 3-grams of 'abcabcabc': abc, bca, cab → 3
    assert once.size == 3


def test_shorter_than_k_empty():
    assert H.char_shingle_hashes(b"ab", 9).size == 0


def test_minhash_estimates_jaccard():
    """Property: |estimate - exact| bounded by O(1/sqrt(num_perm))."""
    rng = np.random.default_rng(7)
    universe = rng.integers(0, 2**63, size=2000, dtype=np.uint64)
    a = universe[:1200]
    b = universe[600:1800]  # overlap 600, union 1800 → J = 1/3
    exact = 600 / 1800
    gammas = H.perm_gammas(256, seed=42)
    sa = H.minhash_signature(np.unique(a), gammas)
    sb = H.minhash_signature(np.unique(b), gammas)
    est = float((sa == sb).mean())
    assert abs(est - exact) < 3.5 / np.sqrt(256)  # ~3.5 sigma


def test_minhash_identical_sets_equal_sigs():
    g = H.perm_gammas(64, seed=1)
    s = np.unique(np.arange(100, dtype=np.uint64) * np.uint64(2654435761))
    assert np.array_equal(H.minhash_signature(s, g), H.minhash_signature(s.copy(), g))


def test_minhash_chunking_invariant():
    g = H.perm_gammas(32, seed=5)
    s = np.unique(np.random.default_rng(0).integers(0, 2**63, 20000, dtype=np.uint64))
    full = H.minhash_signature(s, g)
    # order of shingles must not matter (min is commutative)
    shuffled = s.copy()
    np.random.default_rng(1).shuffle(shuffled)
    assert np.array_equal(full, H.minhash_signature(shuffled, g))


def test_simhash_hamming_monotone_under_small_edit():
    """A small edit moves few shingles ⇒ small Hamming distance; disjoint
    sets ⇒ large distance (on average)."""
    rng = np.random.default_rng(3)
    base = np.unique(rng.integers(0, 2**63, 500, dtype=np.uint64))
    near = base.copy()
    near[:10] = rng.integers(0, 2**63, 10, dtype=np.uint64)  # ~2% churn
    far = np.unique(rng.integers(0, 2**63, 500, dtype=np.uint64))
    fp = H.simhash_fingerprint
    d_near = bin(fp(base) ^ fp(np.unique(near))).count("1")
    d_far = bin(fp(base) ^ fp(far)).count("1")
    assert d_near < d_far
    assert d_near <= 8


def test_band_math_validation():
    from facematch_spark.config import DedupeConfig

    with pytest.raises(ValueError):
        DedupeConfig(num_perm=128, bands=30, rows_per_band=4)
    cfg = DedupeConfig()
    assert cfg.bands * cfg.rows_per_band == cfg.num_perm


def test_band_hashes_shape_and_determinism():
    g = H.perm_gammas(128, seed=42)
    s = np.unique(np.random.default_rng(2).integers(0, 2**63, 300, dtype=np.uint64))
    sig = H.minhash_signature(s, g)
    b1 = H.band_hashes(sig, 32, 4, seed=42)
    b2 = H.band_hashes(sig, 32, 4, seed=42)
    assert b1.shape == (32,)
    assert np.array_equal(b1, b2)
    # different seed ⇒ different band hashes
    b3 = H.band_hashes(sig, 32, 4, seed=43)
    assert not np.array_equal(b1, b3)


def test_config_hash_stability_and_sensitivity():
    from facematch_spark.config import DedupeConfig

    assert DedupeConfig().config_hash == DedupeConfig().config_hash
    assert DedupeConfig().config_hash != DedupeConfig(seed=7).config_hash
    # the keys of checkpoints written while the constants were still fields:
    # existing stores resume instead of recomputing
    assert DedupeConfig().config_hash == "aa24f1dcc8be"
    assert DedupeConfig(k=7).config_hash == "c69fc8ddbdd6"
    with pytest.raises(TypeError):
        DedupeConfig(normalize=False)


def _classify_then_shingle(text, cfg):
    """Reference for ``_doc_shingles``: classify (normalizing once), then
    shingle (normalizing again), and demote an empty set to too_short."""
    import re

    from facematch_spark import schema as S
    from facematch_spark.operators.signatures import normalize_content, shingle_hashes_for

    if text is None or text.strip() == "":
        return S.STATUS_EMPTY, None
    if len(text) > cfg.max_content_bytes:
        return S.STATUS_TOO_LARGE, None
    if re.search(r"[\x00-\x08\x0E-\x1F]", text[:4096]) is not None:
        return S.STATUS_NON_TEXT, None
    if len(normalize_content(text)) < cfg.k:
        return S.STATUS_TOO_SHORT, None
    sh = shingle_hashes_for(text, cfg)
    if sh.size == 0:
        return S.STATUS_TOO_SHORT, None
    return S.STATUS_OK, sh


def test_doc_shingles_matches_classify_then_shingle(monkeypatch):
    from facematch_spark.config import DedupeConfig
    from facematch_spark.fixtures import generate_corpus
    from facematch_spark.operators.signatures import _doc_shingles

    monkeypatch.setattr(DedupeConfig, "max_content_bytes", 4096)
    cfg = DedupeConfig(k=9)
    edge = [
        None, "", "  \n\t ", "ab", "abc def", "a\u00a0b\u00a0c\u00a0d",
        "é" * 5, "bin\x00ary " * 4, "\ud800 lone surrogate text here", "word " * 1000,
    ]
    texts = [r["content"] for r in generate_corpus(n_base=400, seed=7, edge_rows=True).rows] + edge
    statuses = set()
    for text in texts:
        want_status, want = _classify_then_shingle(text, cfg)
        got_status, got = _doc_shingles(text, cfg)
        assert got_status == want_status, repr(text)[:80]
        assert (got is None) == (want is None) and (got is None or np.array_equal(got, want))
        statuses.add(got_status)
    assert {"ok", "empty", "too_short", "too_large", "non_text"} <= statuses
