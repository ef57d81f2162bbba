"""Classic record-linkage blocking families the LSH operators don't cover:
sorted-neighborhood (SNM) and length-band edit-distance blocking.

Reference parity: the reference engine's only candidate generator is the
all-pairs NL self-join (`dedupe.py` in `/root/reference` — every encoding
vs every other). These are the two standard cheap-blocking alternatives
from the record-linkage literature (Hernandez & Stolfo SIGMOD'95 for SNM;
Gravano et al. VLDB'01 for length filtering), both re-expressed as
shuffle-bounded DataFrame plans:

* **SNM** sorts the corpus once on a cheap normalized key and compares
  each record only with its ``window - 1`` successors. Distributed total
  rank comes from the same two-pass prefix sum ``shard_plan`` uses (no
  single-reducer global window); the rank-adjacency join is an EQUI-join
  on ``rank + j`` (j exploded, w-1 rows per doc), so the candidate stage
  shuffles O(N·w) longs regardless of corpus size or key skew.
* **Length-band blocking** exploits |len_a − len_b| ≤ edit_distance: with
  relative threshold d ≤ r·max(len) and a length cap L, band width
  B = ceil(r·L) makes band-adjacency (Δband ≤ 1) a LOSSLESS filter —
  every qualifying pair is checked, each exactly once. Verification is
  one ``levenshtein`` column expression (JVM codegen, no Python).

Both emit canonical ``id_a < id_b`` pairs, both verify exactly — blocking
only bounds WHICH pairs are scored, never the score.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snm_sort_key(text_col: str = "text", prefix_len: int = 12):
    """The SNM sort key: first ``prefix_len`` chars of the lowercased
    alphanumeric skeleton — robust to whitespace/punctuation edits, cheap
    to compute, identical in any ANSI engine (ASCII corpus)."""
    return F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""), 1, prefix_len
    )


def snm_candidates(
    docs: DataFrame,
    window: int = 5,
    key_prefix: int = 12,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood candidate pairs: rank every doc by
    (sort_key, id) via the distributed two-pass prefix sum, then pair each
    rank r with ranks r+1 .. r+window-1 through an equi-join on the rank.

    Scale shape: one range repartition (the sort), one tiny P-row offsets
    window, one O(N·(w-1)) equi-join on a dense long key — uniform by
    construction (every rank occurs exactly once per side), so no salt
    tier is needed, unlike content-keyed blocking.
    """
    from facematch_spark.operators.shard import shard_plan

    keyed = docs.select(
        F.col(id_col).alias("_id"), snm_sort_key("text", key_prefix).alias("_skey")
    ).withColumn("_one", F.lit(1))
    # Both the probe and build sides consume the rank relation; pin it once
    # (house rule) — it is (_id, _rank) only, ~16 B/row, and the pin stops
    # the pass-2 prefix-sum window (a full-width shuffle+sort) running twice.
    ranked = (
        shard_plan(keyed, key=["_skey", "_id"], bytes_col="_one", target_bytes=1 << 60)
        .select("_id", F.col("cum_bytes").alias("_rank"))
        .localCheckpoint()
    )
    offs = F.array(*[F.lit(j) for j in range(1, window)])
    probe = ranked.select(
        F.col("_id").alias("_id_lo"),
        "_rank",
        F.explode(offs).alias("_j"),
    ).select("_id_lo", (F.col("_rank") + F.col("_j")).alias("_rank_hi"))
    build = ranked.select(
        F.col("_id").alias("_id_hi"), F.col("_rank").alias("_rank_hi")
    )
    return (
        probe.join(build, "_rank_hi")
        .select(
            F.least("_id_lo", "_id_hi").alias("id_a"),
            F.greatest("_id_lo", "_id_hi").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def snm_pairs(
    docs: DataFrame,
    k: int,
    threshold: float,
    window: int = 5,
    key_prefix: int = 12,
) -> DataFrame:
    """SNM near-dup pairs: sorted-neighborhood candidates verified with
    exact char-k-gram Jaccard ≥ threshold (``verify.exact_overlap``, the
    tier every exact check uses, so scores are bit-identical across
    candidate generators).

    Returns (id_a, id_b, jaccard) — a RECALL-limited but shuffle-minimal
    dedup: what SNM's window misses is the method's documented trade, not
    a bug; the exact-Jaccard entry is the recall oracle.
    """
    from facematch_spark.operators.dedup import char_shingles
    from facematch_spark.operators.verify import exact_overlap

    base = docs.filter(F.length("text") >= k)
    cands = snm_candidates(base, window=window, key_prefix=key_prefix)
    sh = char_shingles(base, k).select(
        F.col("doc_id").alias("file_id"), F.xxhash64("shingle").alias("shingle")
    )
    return exact_overlap(cands, sh, threshold).drop("containment")


def edit_distance_pairs(
    docs: DataFrame,
    max_chars: int = 640,
    dist_ratio: float = 0.2,
    block_cols: tuple[str, ...] = ("lang",),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs under a RELATIVE edit-distance threshold
    ``levenshtein(a, b) ≤ dist_ratio · max(len_a, len_b)`` via lossless
    length-band blocking.

    Any qualifying pair satisfies |len_a − len_b| ≤ d ≤ dist_ratio ·
    max_chars = B (the band width), so the two docs' ``len // B`` bands
    differ by at most 1: joining each band to itself (id_a < id_b) and to
    band+1 (ids canonicalized) covers every qualifying pair exactly once.
    ``block_cols`` (language by default) sharpen the blocks — a char-level
    near-dup across languages is not a meaningful match.

    Docs longer than ``max_chars`` are excluded (documented gate — O(n·m)
    edit distance on long docs belongs behind a chunking pass, cf. the
    ngram 5M / union-find 1M / ANN 2M gates). Scale shape, honestly: the
    join is QUADRATIC within each (block_cols, band) block — band width
    bounds pair LENGTH mismatch, not block population. This is inherent
    to exact edit-distance dedup (a distance with no cheap sketch); use
    it on bounded slices (per-repo, per-cluster refinement) and reach for
    the MinHash/ngram entries for the web-scale first pass. Levenshtein runs as ONE
    JVM column expression on the banded join output; ASCII corpora score
    identically in any engine (non-BMP chars are counted in UTF-16 code
    units by the JVM — the cross-engine caveat is documented, not hidden).

    Returns (id_a, id_b, dist, sim) with sim = 1 − d / max(len_a, len_b),
    filtered to sim ≥ 1 − dist_ratio via the exact integer form
    ``d · round(1/dist_ratio) ≤ max_len`` when 1/dist_ratio is integral.
    """
    if not (0 < dist_ratio < 1):
        raise ValueError("dist_ratio must be in (0, 1)")
    inv = 1.0 / dist_ratio
    if abs(inv - round(inv)) > 1e-9:
        raise ValueError(
            "dist_ratio must be the reciprocal of an integer (exact "
            "integer-comparison filter — cross-engine float thresholds "
            "are not hash-safe)"
        )
    inv = int(round(inv))
    band_width = math.ceil(dist_ratio * max_chars)
    # Any pair that can survive the relative filter has
    # dist ≤ max_len div inv ≤ max_chars · dist_ratio — so the bounded
    # levenshtein (Spark 3.5+ threshold arg: banded O(n·k) DP with early
    # exit instead of the full O(n·m) matrix) returns the EXACT distance
    # for every kept pair and -1 only for pairs the filter would drop
    # anyway (guide §1.2 "per-task work": ≥5× fewer DP cells at ratio 0.2).

    base = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        F.length(text_col).alias("_len"),
        *[F.col(c) for c in block_cols],
    ).filter(F.col("_len") <= max_chars)
    banded = base.withColumn("_band", (F.col("_len") / band_width).cast("long"))

    a, b = banded.alias("a"), banded.alias("b")
    block_eq = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    def _score(joined: DataFrame) -> DataFrame:
        # lossless length prefilter: dist ≥ |len_a − len_b|, so a kept pair
        # needs |Δlen| · inv ≤ max_len — pruned BEFORE the levenshtein DP
        # runs (adjacent-band pairs can differ by up to 2·band_width − 1
        # chars, far past the cap, and this drops them for two int ops).
        max_len = F.greatest(F.col("a._len"), F.col("b._len")).cast("long")
        delta = F.abs(F.col("a._len") - F.col("b._len")).cast("long")
        # per-PAIR DP bound: a kept pair needs dist ≤ max_len div inv, which
        # is ≤ dist_cap but much tighter for short pairs — the banded DP
        # cost scales with the bound (the Column-threshold form is only
        # exposed through the SQL function, not the Python levenshtein())
        dist = F.expr(
            f"levenshtein(a._text, b._text, greatest(a._len, b._len) div {inv})"
        ).cast("long")
        return joined.filter(delta * inv <= max_len).select(
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
            dist.alias("dist"),
            (F.lit(1.0) - dist / max_len).alias("sim"),
            max_len.alias("_ml"),
        )

    same = _score(
        a.join(
            b,
            [
                F.col("a._band") == F.col("b._band"),
                F.col("a._id") < F.col("b._id"),
                *block_eq,
            ],
        )
    )
    adj = _score(a.join(b, [F.col("a._band") + 1 == F.col("b._band"), *block_eq]))
    return (
        same.unionByName(adj)
        # dist ≥ 0 drops the bounded form's -1 sentinel rows (dist > cap ⇒
        # the relative filter would reject them regardless)
        .filter((F.col("dist") >= 0) & (F.col("dist") * inv <= F.col("_ml")))
        .drop("_ml")
        .dropDuplicates(["id_a", "id_b"])
    )
