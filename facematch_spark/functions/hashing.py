"""Vectorized (NumPy) hashing kernels used inside Arrow-batched pandas UDFs.

This module is the replacement for the reference's black-box feature
extractor ``DeepFace.represent`` (``utils.py:187-197``): instead of a face
embedding we compute, per document,

  * a set of char k-gram shingle hashes, via a vectorized
    polynomial rolling hash + splitmix64 finalizer;
  * a MinHash signature of ``num_perm`` values: one splitmix64 mix of each
    shingle hash, then a per-permutation uint32 multiply-add
    ``h_i(y) = a_i·y + b_i (mod 2³²)`` (standard practical MinHash — see
    Broder '97 resemblance estimation; the multiply-add-over-mixed-input
    family is the common production variant because it needs no 128-bit
    modular math and SIMD-vectorizes, unlike 64-bit multiplies);
  * a 64-bit SimHash fingerprint (Charikar '02): sign of the per-bit
    sum of ±1 votes over shingle hashes.

Everything operates on NumPy uint64 arrays with wraparound semantics — no
per-row Python hot path (BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np

# Identity of the signature-kernel family, folded into
# DedupeConfig.config_hash so checkpoints written by a different kernel
# generation key to a different table_suffix and get recomputed instead of
# silently merged on incremental resume. Bump on ANY change that alters the
# observable output of the shingle/minhash/simhash kernels (round 2's
# xor-mix64 → u32 multiply-add switch is the motivating incident). Band
# hashes are exempt: band keys are never persisted, and the candidates
# depend only on which band slices are equal, not on the hash values.
KERNEL_VERSION = 2

_U64 = np.uint64
# polynomial base for the rolling k-gram hash (odd, large → good diffusion
# after the splitmix finalizer)
_POLY_BASE = _U64(1099511628211)  # FNV-64 prime

# splitmix64 constants (public domain PRNG finalizer, Steele et al. JDK 8)
_SM_GAMMA = _U64(0x9E3779B97F4A7C15)
_SM_M1 = _U64(0xBF58476D1CE4E5B9)
_SM_M2 = _U64(0x94D049BB133111EB)


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64 arrays."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> _U64(30))) * _SM_M1
        x = (x ^ (x >> _U64(27))) * _SM_M2
        return x ^ (x >> _U64(31))


def perm_gammas(num_perm: int, seed: int) -> np.ndarray:
    """Deterministic per-permutation xor keys for the MinHash family."""
    idx = np.arange(1, num_perm + 1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return mix64(idx * _SM_GAMMA + _U64(seed & 0xFFFFFFFFFFFFFFFF))


def char_shingle_hashes(data: bytes, k: int) -> np.ndarray:
    """Distinct hashes of all char (byte) k-grams of ``data``.

    Vectorized: the k-gram polynomial hash is the sum of k shifted,
    base-power-scaled copies of the byte array (k vector ops total),
    finalized with splitmix64. Returns unique uint64 values (a set — shingle
    multiplicity is irrelevant to Jaccard resemblance).
    """
    n = len(data) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    with np.errstate(over="ignore"):
        acc = np.zeros(n, dtype=np.uint64)
        p = _U64(1)
        for j in range(k - 1, -1, -1):
            acc += b[j : j + n] * p
            p = p * _POLY_BASE
    return np.unique(mix64(acc))


def _perm_ab(gammas: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Derive the uint32 multiply-add parameters (a odd, b) of each
    permutation from its 64-bit gamma — deterministic, so existing
    ``perm_gammas`` call sites stay unchanged."""
    a = (gammas >> _U64(32)).astype(np.uint32) | np.uint32(1)
    b = gammas.astype(np.uint32)
    return a, b


def minhash_signature(shingles: np.ndarray, gammas: np.ndarray) -> np.ndarray:
    """MinHash signature: for each permutation i, min over shingles of
    ``h_i(y) = a_i·y + b_i (mod 2³²)`` where ``y = top32(mix64(shingle))``.
    Returns uint64[num_perm] (values < 2³²; the empty-set sentinel stays
    2⁶⁴−1).

    Why this family: the input shingle hashes are already splitmix64-mixed,
    so one more full 64-bit mix per (perm, shingle) — 2 scalar u64 multiplies
    that x86 SIMD cannot vectorize — was the entire kernel cost (~1.7 ms per
    2k-shingle doc). Mixing ONCE per shingle and then applying a per-perm
    u32 multiply-add (vpmulld — SIMD) does 2 vector ops per (perm, shingle):
    ~20× less compute, same estimator behavior (multiply-add over uniform
    u32 inputs; estimate-accuracy and recall are pytest-gated, not assumed).
    Blocked to keep temporaries L2-resident, same argument as before."""
    num_perm = len(gammas)
    if shingles.size == 0:
        return np.full(num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
    a, b = _perm_ab(gammas)
    y = (mix64(shingles) >> _U64(32)).astype(np.uint32)
    sig = np.full(num_perm, np.iinfo(np.uint32).max, dtype=np.uint32)
    PERM_BLOCK = 16
    SHINGLE_CHUNK = 8192
    with np.errstate(over="ignore"):
        for s in range(0, y.size, SHINGLE_CHUNK):
            chunk = y[s : s + SHINGLE_CHUNK]
            for p in range(0, num_perm, PERM_BLOCK):
                h = a[p : p + PERM_BLOCK, None] * chunk[None, :] + b[p : p + PERM_BLOCK, None]
                np.minimum(sig[p : p + PERM_BLOCK], h.min(axis=1), out=sig[p : p + PERM_BLOCK])
    return sig.astype(np.uint64)


def simhash_fingerprint(shingles: np.ndarray) -> int:
    """64-bit SimHash: bit b of the fingerprint is 1 iff more than half of
    the shingle hashes have bit b set. Returns a Python int (uint64 range).

    Shingle-chunked so the (chunk, 64) bit matrix stays cache-resident
    (same bandwidth argument as minhash_signature)."""
    if shingles.size == 0:
        return 0
    CHUNK = 8192
    exps = np.arange(64, dtype=np.uint64)
    votes = np.zeros(64, dtype=np.int64)
    for s in range(0, shingles.size, CHUNK):
        chunk = shingles[s : s + CHUNK]
        bits = np.unpackbits(chunk.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
        votes += bits.sum(axis=0, dtype=np.int64)
    on = votes * 2 > shingles.size
    with np.errstate(over="ignore"):
        fp = np.bitwise_or.reduce(np.where(on, _U64(1) << exps, _U64(0)))
    return int(fp)


def band_hashes(sig: np.ndarray, bands: int, rows_per_band: int, seed: int) -> np.ndarray:
    """Collapse a MinHash signature into ``bands`` 64-bit band hashes
    (LSH banding, Leskovec/Rajaraman/Ullman MMDS ch.3). Band index is mixed
    in so identical row-slices in different bands don't collide.

    Its only callers are perfbench's ``hashing.band_us_per_doc``
    microbenchmark and its unit test; the pipeline hashes bands in the JVM
    (``operators/lsh.band_explode``)."""
    sig = sig.reshape(bands, rows_per_band)
    with np.errstate(over="ignore"):
        acc = np.full(bands, _U64(seed & 0xFFFFFFFFFFFFFFFF) + _SM_GAMMA, dtype=np.uint64)
        for r in range(rows_per_band):
            acc = mix64(acc ^ sig[:, r])
        acc = mix64(acc ^ (np.arange(bands, dtype=np.uint64) * _SM_GAMMA))
    return acc


def to_signed(a: np.ndarray) -> np.ndarray:
    """uint64 → int64 bit-view (Spark LongType carries the same 64 bits)."""
    return a.view(np.int64)
