"""Candidate verification: the paper's third stage, which checks each
candidate pair against a threshold (reference ``utils.py:243-246``).

There is one exact tier, ``exact_overlap``. The shipped pipeline reaches it
through ``verify_candidates``; the dedup queries call it directly with their
own candidates (PPJoin prefixes, MinHash bands, SNM windows).
``verify_candidates`` is one linear plan: pin the candidates, score them
exactly, join the candidate files' SimHash onto the scored pairs, apply
the thresholds. The signals:

  * ``jaccard`` / ``containment`` — exact values over the distinct shingle
    sets, from one sorted-array intersection kernel in an Arrow-batched
    NumPy stage. ``containment`` is ``|A∩B| / min(|A|,|B|)`` — 1.0 when the
    smaller file's shingles are a subset of the larger's (the "file
    embedded verbatim in a bigger file" case).
  * ``hamming`` — SimHash bit distance, ``bit_count(simhash_a ^ simhash_b)``.

The shingle and SimHash relations are both cut to the files that appear
in a candidate pair (``_semi_to_candidates``) before they are used. Size
gates pick broadcast or shuffle plans; both sides of every gate give the
same rows and the same doubles. Borderline containment candidates can be
settled exactly with the suffix-automaton longest-common-substring check
(``lcs_coverage``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from facematch_spark.config import DedupeConfig


# Candidate volume under which the distinct candidate-id set is broadcast to
# semi-join a per-file relation (SimHash, shingles) down to participating
# files, and the cut ``(file_id, simhash)`` rows are broadcast into both
# SimHash joins. 2M pairs → ≤4M distinct ids ≈ 32 MB, ≤4M 16 B SimHash rows
# ≈ 64 MB — the same order as the shingle broadcast below and the ANN
# corpus gate (similarity.py). Past it the semi-join and the SimHash joins
# shuffle: at 10^12-file scale the id set no longer fits a broadcast.
ATTACH_BROADCAST_IDS_MAX = 2_000_000

# Shingle rows, after the cut to candidate files, under which
# ``exact_overlap`` broadcasts one flat sorted int64 buffer (≈ 40 MB at the
# gate) instead of grouping per-file sorted arrays through the shuffle.
# Module-level so tests can force the other branch.
BROADCAST_SHINGLE_LIMIT = 5_000_000

_OVERLAP_SCHEMA = "id_a long, id_b long, jaccard double, containment double"


def _pin(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Materialize the candidate relation once — it feeds the id cuts and
    the exact scoring — and count it: the count picks the gates."""
    pairs = pairs.localCheckpoint()
    return pairs, pairs.count()


def _semi_to_candidates(rel: DataFrame, pairs: DataFrame, n_pairs: int) -> DataFrame:
    """``rel`` (keyed by ``file_id``) left-semi reduced to the files of a
    candidate pair. Under ``ATTACH_BROADCAST_IDS_MAX`` the distinct id set is
    broadcast, a shuffle-free cut; past it the semi-join shuffles."""
    ids = (
        pairs.select(F.col("id_a").alias("file_id"))
        .union(pairs.select(F.col("id_b").alias("file_id")))
        .distinct()
    )
    if n_pairs <= ATTACH_BROADCAST_IDS_MAX:
        ids = F.broadcast(ids)
    return rel.join(ids, "file_id", "left_semi")


def _intersect_size(x: np.ndarray, y: np.ndarray) -> int:
    """|x ∩ y| of two non-empty sorted distinct int64 arrays: one
    searchsorted of the smaller into the larger, O(m log n)."""
    if x.size < y.size:
        x, y = y, x
    idx = np.searchsorted(x, y)
    idx[idx == x.size] = 0
    return int(np.count_nonzero(x[idx] == y))


def _score(
    ids_a: np.ndarray, ids_b: np.ndarray, xs: list, ys: list, threshold: float
) -> pd.DataFrame:
    """Exact metrics of pairs whose sorted shingle arrays are ``xs``/``ys``.
    Integer-ratio doubles: the same values as the SQL ``inter / (n_a + n_b
    - inter)`` over counts."""
    n_a = np.array([x.size for x in xs], dtype=np.int64)
    n_b = np.array([y.size for y in ys], dtype=np.int64)
    inter = np.array([_intersect_size(x, y) for x, y in zip(xs, ys)], dtype=np.int64)
    out = pd.DataFrame({
        "id_a": ids_a,
        "id_b": ids_b,
        "jaccard": inter / (n_a + n_b - inter),
        "containment": inter / np.minimum(n_a, n_b),
    })
    return out[out["jaccard"] >= threshold]


def exact_overlap(
    pairs: DataFrame,
    shingles: DataFrame,
    threshold: float = 0.0,
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` rows + distinct ``(file_id, shingle)`` rows
    → ``(id_a, id_b, jaccard, containment)`` for every pair with
    ``jaccard ≥ threshold``. A pair with an id that has no shingle rows is
    dropped.

    The candidates are pinned, the shingles are cut to candidate files and
    pinned, and ``BROADCAST_SHINGLE_LIMIT`` picks the branch:

      * under the gate, one driver-side lexsort turns the collected rows
        into a flat int64 buffer that is the concatenation of every file's
        sorted array, plus the sorted file ids and their offsets; it moves
        to the workers as one broadcast block and the candidates stream
        past it in Arrow batches — no join, no per-file objects;
      * past the gate, per-file sorted arrays are grouped through the
        shuffle and joined to both pair sides.

    Both branches run the same intersection kernel, so they produce the
    same rows and the same doubles (a JVM ``array_intersect`` form was
    measured ~5× slower than the kernel at PPJoin candidate volumes, where
    candidates outnumber matches ~10³×).
    """
    return _overlap(*_pin(pairs), shingles, threshold)


def _overlap(
    pairs: DataFrame,
    n_pairs: int,
    shingles: DataFrame,
    threshold: float = 0.0,
) -> DataFrame:
    spark = pairs.sparkSession
    sh = _semi_to_candidates(shingles.select("file_id", "shingle"), pairs, n_pairs).localCheckpoint()
    if sh.count() <= BROADCAST_SHINGLE_LIMIT:
        pdf = sh.toPandas()
        ids = pdf["file_id"].to_numpy(dtype=np.int64)
        vals = pdf["shingle"].to_numpy(dtype=np.int64)
        order = np.lexsort((vals, ids))
        flat = np.ascontiguousarray(vals[order])
        uniq, starts = np.unique(ids[order], return_index=True)
        bounds = np.append(starts, flat.size)
        bc = spark.sparkContext.broadcast((flat, uniq, bounds))

        def score_flat(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            bflat, buniq, bbounds = bc.value
            index = pd.Index(buniq)
            for pdf in it:
                ids_a = pdf["id_a"].to_numpy(dtype=np.int64)
                ids_b = pdf["id_b"].to_numpy(dtype=np.int64)
                pa, pb = index.get_indexer(ids_a), index.get_indexer(ids_b)
                keep = (pa >= 0) & (pb >= 0)  # -1: no shingle rows
                xs = [bflat[bbounds[p]:bbounds[p + 1]] for p in pa[keep]]
                ys = [bflat[bbounds[p]:bbounds[p + 1]] for p in pb[keep]]
                yield _score(ids_a[keep], ids_b[keep], xs, ys, threshold)

        # candidates are (long, long) rows: spread them to full cluster
        # width before the Python stage (AQE coalesces upstream exchanges
        # to a handful of partitions by byte size, which would cap the
        # stage at that many tasks)
        pairs = pairs.repartition(spark.sparkContext.defaultParallelism)
        return pairs.mapInPandas(score_flat, schema=_OVERLAP_SCHEMA)

    arrays = sh.groupBy("file_id").agg(F.sort_array(F.collect_list("shingle")).alias("arr"))
    paired = (
        pairs.join(arrays.select(F.col("file_id").alias("id_a"), F.col("arr").alias("arr_a")), "id_a")
        .join(arrays.select(F.col("file_id").alias("id_b"), F.col("arr").alias("arr_b")), "id_b")
    )

    def score_arrays(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            xs = [np.asarray(a, dtype=np.int64) for a in pdf["arr_a"]]
            ys = [np.asarray(b, dtype=np.int64) for b in pdf["arr_b"]]
            yield _score(
                pdf["id_a"].to_numpy(dtype=np.int64), pdf["id_b"].to_numpy(dtype=np.int64),
                xs, ys, threshold,
            )

    return paired.mapInPandas(score_arrays, schema=_OVERLAP_SCHEMA)


def verify_candidates(
    pairs: DataFrame,
    signatures: DataFrame,
    shingles: DataFrame,
    cfg: DedupeConfig,
) -> DataFrame:
    """Full verification → PAIRS-shaped rows passing any configured test.

    Threshold semantics mirror the reference's hard dedupe threshold
    (``utils.py:245-246``); the ``method`` column records which test(s)
    admitted the pair. The candidates are pinned and counted once,
    ``_overlap`` scores each exactly (threshold 0: containment or SimHash
    alone may admit it), and the candidate files' SimHash is joined onto
    the scored pairs.
    """
    pairs, n_pairs = _pin(pairs)
    sim = _semi_to_candidates(signatures.select("file_id", "simhash"), pairs, n_pairs)
    a, b = sim.alias("sa"), sim.alias("sb")
    if n_pairs <= ATTACH_BROADCAST_IDS_MAX:
        a, b = F.broadcast(a), F.broadcast(b)
    exact = _overlap(pairs, n_pairs, shingles)
    scored = (
        exact.join(a, exact.id_a == F.col("sa.file_id"))
        .join(b, exact.id_b == F.col("sb.file_id"))
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.bit_count(F.col("sa.simhash").bitwiseXOR(F.col("sb.simhash"))).cast("int").alias("hamming"),
            "containment",
        )
    )
    jac_ok = F.col("jaccard") >= F.lit(cfg.jaccard_threshold)
    ham_ok = F.col("hamming") <= F.lit(cfg.simhash_hamming_max)
    con_ok = F.col("containment") >= F.lit(cfg.containment_threshold)
    method = F.concat_ws(
        "+",
        F.when(jac_ok, F.lit("jaccard")),
        F.when(ham_ok, F.lit("simhash")),
        F.when(con_ok, F.lit("containment")),
    )
    return scored.filter(jac_ok | ham_ok | con_ok).withColumn("method", method)


def apply_silenced(pairs: DataFrame, silenced: DataFrame | None) -> DataFrame:
    """Suppress silenced pairs (the reference reads ``_silenced_*.json`` but
    never consults it — ``utils.py:111-115``; we actually honor it)."""
    if silenced is None:
        return pairs
    return pairs.join(silenced, ["id_a", "id_b"], "left_anti")


# ---------------------------------------------------------------------------
# Suffix-automaton longest-common-substring — the exact containment settle.
# ---------------------------------------------------------------------------

class _SuffixAutomaton:
    """Minimal online suffix automaton (Blumer et al. '85 construction as
    popularized in competitive-programming references). Linear build; then
    LCS against another string is a linear scan."""

    __slots__ = ("next", "link", "length", "last")

    def __init__(self, s: str) -> None:
        self.next: list[dict[str, int]] = [{}]
        self.link = [-1]
        self.length = [0]
        self.last = 0
        for ch in s:
            self._extend(ch)

    def _extend(self, ch: str) -> None:
        cur = len(self.next)
        self.next.append({})
        self.length.append(self.length[self.last] + 1)
        self.link.append(-1)
        p = self.last
        while p != -1 and ch not in self.next[p]:
            self.next[p][ch] = cur
            p = self.link[p]
        if p == -1:
            self.link[cur] = 0
        else:
            q = self.next[p][ch]
            if self.length[p] + 1 == self.length[q]:
                self.link[cur] = q
            else:
                clone = len(self.next)
                self.next.append(dict(self.next[q]))
                self.length.append(self.length[p] + 1)
                self.link.append(self.link[q])
                while p != -1 and self.next[p].get(ch) == q:
                    self.next[p][ch] = clone
                    p = self.link[p]
                self.link[q] = clone
                self.link[cur] = clone
        self.last = cur

    def lcs_len(self, t: str) -> int:
        v, length, best = 0, 0, 0
        for ch in t:
            while v and ch not in self.next[v]:
                v = self.link[v]
                length = self.length[v]
            if ch in self.next[v]:
                v = self.next[v][ch]
                length += 1
            else:
                v, length = 0, 0
            if length > best:
                best = length
        return best


def lcs_coverage(a: str, b: str) -> float:
    """Longest common substring length / len(shorter). 1.0 ⇔ the shorter
    string appears verbatim inside the longer (containment dup)."""
    if not a or not b:
        return 0.0
    short, long_ = (a, b) if len(a) <= len(b) else (b, a)
    return _SuffixAutomaton(long_).lcs_len(short) / len(short)


def settle_containment(
    pairs_with_content: DataFrame,
    threshold: float,
) -> DataFrame:
    """For borderline containment candidates, compute exact LCS coverage via
    the suffix automaton in a batched pandas stage. Input columns:
    (id_a, id_b, content_a, content_b); output adds ``lcs_cov``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cov = [
                lcs_coverage(ca or "", cb or "")
                for ca, cb in zip(pdf["content_a"], pdf["content_b"])
            ]
            yield pd.DataFrame({"id_a": pdf["id_a"], "id_b": pdf["id_b"], "lcs_cov": cov})

    out = pairs_with_content.mapInPandas(batches, schema="id_a long, id_b long, lcs_cov double")
    return out.filter(F.col("lcs_cov") >= F.lit(threshold))
