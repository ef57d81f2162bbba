"""Single-threaded microbenchmarks of the ``functions.hashing`` kernels on a
workload's own documents, in microseconds per document."""

from __future__ import annotations

import statistics
import time

from facematch_spark.functions import hashing as H
from facematch_spark.operators.signatures import normalize_content

MAX_DOCS = 300
PASSES = 5


def _per_doc_us(fn, items) -> float:
    times = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(items) * 1e6


def hashing_us_per_doc(texts: list[str], cfg) -> dict[str, float]:
    """Shingle, MinHash, SimHash and band kernels, timed on the first
    ``MAX_DOCS`` documents the workload's run signs (too short or too large
    ones skipped, as the sign stage skips them)."""
    docs = [
        normalize_content(t).encode("utf-8", errors="surrogatepass") if cfg.normalize else t.encode()
        for t in texts
        if len(t) <= cfg.max_content_bytes
    ]
    docs = [d for d in docs if len(d) >= cfg.k][:MAX_DOCS]
    gammas = H.perm_gammas(cfg.num_perm, cfg.seed)
    shingles = [H.char_shingle_hashes(d, cfg.k) for d in docs]
    sigs = [H.minhash_signature(s, gammas) for s in shingles]
    return {
        "shingle": _per_doc_us(lambda d: H.char_shingle_hashes(d, cfg.k), docs),
        "minhash": _per_doc_us(lambda s: H.minhash_signature(s, gammas), shingles),
        "simhash": _per_doc_us(H.simhash_fingerprint, shingles),
        "band": _per_doc_us(lambda s: H.band_hashes(s, cfg.bands, cfg.rows_per_band, cfg.seed), sigs),
    }
