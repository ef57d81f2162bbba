"""Property-based tests (hypothesis) for the pure-NumPy kernels and the
driver union-find — no Spark session, so they run in milliseconds
(SURVEY.md §5.4: randomized/property testing)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from facematch_spark.functions import hashing as H
from facematch_spark.operators.cluster import union_find
from facematch_spark.operators.signatures import normalize_content
from facematch_spark.operators.verify import lcs_coverage

text_st = st.text(alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]), max_size=400)


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_normalize_idempotent(s):
    once = normalize_content(s)
    assert normalize_content(once) == once
    assert "  " not in once and "\n" not in once and "\t" not in once


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=500), st.integers(min_value=1, max_value=12))
def test_char_shingles_match_python_set(data, k):
    got = H.char_shingle_hashes(data, k)
    expect = {data[i : i + k] for i in range(len(data) - k + 1)}
    # hash distinctness: collisions over ≤500 shingles are ~2^-55
    assert got.size == len(expect)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=300, unique=True),
    st.integers(min_value=0, max_value=2**31),
)
def test_minhash_permutation_invariance(vals, seed):
    g = H.perm_gammas(64, seed)
    a = np.array(vals, dtype=np.uint64)
    rng = np.random.default_rng(0)
    b = a.copy()
    rng.shuffle(b)
    assert np.array_equal(H.minhash_signature(a, g), H.minhash_signature(b, g))


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=2, max_size=200, unique=True),
)
def test_minhash_subset_monotone(vals):
    """sig(min over union) is elementwise min of the parts' sigs — the
    mergeability property that makes MinHash a distributive sketch."""
    g = H.perm_gammas(32, 42)
    arr = np.array(vals, dtype=np.uint64)
    half = len(arr) // 2
    a, b = arr[:half], arr[half:]
    merged = np.minimum(H.minhash_signature(a, g), H.minhash_signature(b, g))
    assert np.array_equal(merged, H.minhash_signature(arr, g))


@settings(max_examples=30, deadline=None)
@given(st.text(min_size=1, max_size=120), st.text(max_size=60), st.text(max_size=60))
def test_lcs_containment_detects_substring(inner, pre, post):
    big = pre + inner + post
    assert lcs_coverage(inner, big) == 1.0


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=80), st.text(max_size=80))
def test_lcs_symmetric_and_bounded(a, b):
    c = lcs_coverage(a, b)
    assert 0.0 <= c <= 1.0
    assert abs(c - lcs_coverage(b, a)) < 1e-12


# a small pool of signed 64-bit ids, so random edges share endpoints
id_pool_st = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=40, unique=True
)
edges_st = id_pool_st.flatmap(
    lambda pool: st.lists(st.tuples(st.sampled_from(pool), st.sampled_from(pool)), max_size=60)
)


@settings(max_examples=50, deadline=None)
@given(edges_st)
def test_driver_union_find_matches_reference(edges):
    """``cluster.union_find`` agrees with a naive O(V·E) fixpoint label
    propagation on random graphs."""
    # naive reference
    nodes = {n for e in edges for n in e}
    label = {n: n for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
        # propagate through chains
        for n in nodes:
            if label[label[n]] < label[n]:
                label[n] = label[label[n]]
                changed = True

    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    ids, roots = union_find(a, b)
    assert dict(zip(ids.tolist(), roots.tolist())) == label
