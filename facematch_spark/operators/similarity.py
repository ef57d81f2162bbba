"""Similarity search over an embedding column (``embeddings`` table:
``(vec_id:long, embedding:array<float>, label:int)``).

Two paths, mirroring the dedup engine's exact-vs-LSH split:

  * brute-force cosine top-k — the correctness baseline. The k-smallest
    problem per query is a window top-k over a self-join; at N queries ×
    N corpus it is O(N²) — usable for oracles and small N, never at scale.
  * approximate top-k — the scale paths. ``ann_topk_lsh`` sketches each
    vector with random hyperplanes (Charikar '02 SimHash for cosine) and
    probes its bucket and every Hamming-1 neighbour bucket; ``ann_topk_ivf``
    probes the nearest lists of a trained coarse quantizer. Candidates are
    scored by exact cosine.

Dot products run JVM-side via ``aggregate(zip_with(...))`` — no Python in
either path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_corpus_rows: int = 2_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self).

    Plan shape: the corpus matrix is collected once and broadcast into an
    Arrow-batched NumPy stage; each query partition computes a
    (batch × dim) @ (dim × N) matmul and selects top-k locally — the
    distributed brute-force baseline. No shuffle at all: queries stay where
    they are, only the (small) corpus moves. At cluster scale the broadcast
    ceiling bounds N; beyond that, ``ann_topk_lsh`` (bucketed candidates) or
    IVF-style partition pruning is the path.

    Ranking is on the 6-dp-rounded cosine with neighbor-id tiebreak, exactly
    matching the ANSI-SQL oracle's ``row_number() OVER (ORDER BY cosine
    DESC, neighbor_id)``.
    """
    from collections.abc import Iterator

    import pandas as pd

    # explicit driver-collect ceiling, mirroring the sibling gates (ngram
    # broadcast 5M rows dedup.py, union-find 1M edges cluster.py): at 128-d
    # float64 the default 2M-row cap is ~2 GB of broadcast payload — past it
    # the brute-force baseline stops being a baseline and the bucketed paths
    # are the answer. A probe count over a count-only projection is cheap
    # next to the collect it guards.
    n_corpus = corpus.limit(max_corpus_rows + 1).count()
    if n_corpus > max_corpus_rows:
        raise ValueError(
            f"cosine_topk_bruteforce: corpus exceeds {max_corpus_rows} rows — "
            "the driver collect + broadcast would not fit; use ann_topk_lsh "
            "or ann_topk_ivf (bucketed candidate generation) at this scale, "
            "or raise max_corpus_rows explicitly if the driver can hold it"
        )
    rows = corpus.select(F.col(id_col), F.col(vec_col)).collect()
    c_ids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    c_norm = np.sqrt((C * C).sum(axis=1))
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((c_ids, C, c_norm))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_c, mat_c, norm_c = bc.value
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            q_ids = pdf[id_col].to_numpy()
            q_norm = np.sqrt((Q * Q).sum(axis=1))
            cos = np.round(Q @ mat_c.T / (q_norm[:, None] * norm_c[None, :]), 6)
            out_q, out_n, out_c, out_r = [], [], [], []
            for i in range(n):
                row = cos[i]
                mask = ids_c != q_ids[i]
                cand_ids = ids_c[mask]
                cand_cos = row[mask]
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                out_q.append(np.full(len(order), q_ids[i], dtype=np.int64))
                out_n.append(cand_ids[order])
                out_c.append(cand_cos[order])
                out_r.append(np.arange(1, len(order) + 1, dtype=np.int32))
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                    "rank": np.concatenate(out_r),
                }
            )

    from facematch_spark.operators.signatures import _ensure_parallel

    return _ensure_parallel(queries.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        batches, schema="query_id long, neighbor_id long, cosine double, rank int"
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_corpus_rows: int = 2_000_000,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: every unordered pair
    ``(id_a < id_b)`` with ``round(cosine, 6) >= threshold``.

    This is the embedding sibling of ``ngram_jaccard_pairs`` (reference
    parity: the reference's all-pairs ``duplicate_groups`` compare over
    DeepFace embeddings, ``utils.py``; here the embedding column is any
    ``array<float>``). Plan shape mirrors ``cosine_topk_bruteforce``: the
    corpus is collected once under the same explicit gate and broadcast into
    an Arrow-batched matmul stage — no shuffle; each partition emits only its
    own above-threshold pairs (``corpus_id > row_id`` keeps each unordered
    pair exactly once, on the partition holding its smaller id). Past the
    gate it raises."""
    from collections.abc import Iterator

    import pandas as pd

    n_corpus = vectors.limit(max_corpus_rows + 1).count()
    if n_corpus > max_corpus_rows:
        raise ValueError(
            f"embedding_near_dup_pairs: corpus exceeds {max_corpus_rows} rows — "
            "the driver collect + broadcast would not fit; raise "
            "max_corpus_rows explicitly if the driver can hold it"
        )
    rows = vectors.select(F.col(id_col), F.col(vec_col)).collect()
    c_ids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    c_norm = np.sqrt((C * C).sum(axis=1))
    c_norm[c_norm == 0] = 1.0
    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast((c_ids, C, c_norm))
    t = float(threshold)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_c, mat_c, norm_c = bc.value
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            q_ids = pdf[id_col].to_numpy(dtype=np.int64)
            q_norm = np.sqrt((Q * Q).sum(axis=1))
            q_norm[q_norm == 0] = 1.0
            # round BEFORE the threshold test, matching the SQL oracle's
            # WHERE round(cosine, 6) >= t exactly at the boundary
            cos = np.round(Q @ mat_c.T / (q_norm[:, None] * norm_c[None, :]), 6)
            hit = (cos >= t) & (ids_c[None, :] > q_ids[:, None])
            qi, ci = np.nonzero(hit)
            yield pd.DataFrame(
                {
                    "id_a": q_ids[qi],
                    "id_b": ids_c[ci],
                    "cosine": cos[qi, ci],
                }
            )

    from facematch_spark.operators.signatures import _ensure_parallel

    return _ensure_parallel(vectors.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        batches, schema="id_a long, id_b long, cosine double"
    )


def hyperplane_sketches(
    vectors: DataFrame,
    n_bits: int,
    n_tables: int,
    dim: int,
    seed: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane sign sketches for ALL tables in one Arrow pass:
    bit i of table t = sign(<v, r_{t,i}>). One (batch × dim) @ (dim ×
    tables·bits) NumPy matmul per Arrow batch — the hyperplanes are a
    deterministic seeded Gaussian matrix pickled once into the closure
    (tables·bits·dim doubles, tiny). Output one row per (vector, table):
    (vid, table_id, bucket)."""
    from collections.abc import Iterator

    import pandas as pd

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_tables * n_bits))
    weights = (2 ** np.arange(n_bits, dtype=np.int64))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"vid": pd.Series(dtype="int64"),
                                    "table_id": pd.Series(dtype="int32"),
                                    "bucket": pd.Series(dtype="int64")})
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            signs = (V @ planes >= 0).reshape(n, n_tables, n_bits)
            buckets = (signs * weights).sum(axis=2).astype(np.int64)  # (n, tables)
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "table_id": np.tile(np.arange(n_tables, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    from facematch_spark.operators.signatures import _ensure_parallel

    return _ensure_parallel(vectors.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        batches, schema="vid long, table_id int, bucket long"
    )


def auto_n_bits(n_vectors: int, target_bucket: int = 32, floor: int = 4) -> int:
    """Sketch width that keeps the EXPECTED bucket population near
    ``target_bucket``: bits = ceil(log2(N / target)). A fixed width is a
    quadratic scale trap — at n_bits=4 there are only 16 buckets per table,
    so same-bucket pairs grow as N²/16 no matter the corpus; scaling bits
    with log2(N) keeps per-bucket join work bounded as the corpus grows."""
    import math

    if n_vectors <= target_bucket:
        return floor
    return max(floor, math.ceil(math.log2(n_vectors / target_bucket)))


def ivf_assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest coarse centroids
    (IVF inverted lists). One (batch × dim) @ (dim × k) matmul per Arrow
    batch; centroids broadcast via the closure (k × dim doubles, tiny).
    Output: (vid, list_id, rank) — rank 1 is the home list."""
    from collections.abc import Iterator

    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    cn[cn == 0] = 1.0
    # a tiny corpus can train fewer centroids than n_probe — probing more
    # lists than exist would mis-shape the output frame
    probe = min(n_probe, C.shape[0])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"vid": pd.Series(dtype="int64"),
                                    "list_id": pd.Series(dtype="int32"),
                                    "rank": pd.Series(dtype="int32")})
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            vn = np.sqrt((V * V).sum(axis=1))
            vn[vn == 0] = 1.0
            cos = V @ C.T / (vn[:, None] * cn[None, :])
            near = np.argsort(-cos, axis=1)[:, :probe]  # (n, probe)
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf[id_col].to_numpy(), probe),
                    "list_id": near.reshape(-1).astype(np.int32),
                    "rank": np.tile(np.arange(1, probe + 1, dtype=np.int32), n),
                }
            )

    from facematch_spark.operators.signatures import _ensure_parallel

    return _ensure_parallel(vectors.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        batches, schema="vid long, list_id int, rank int"
    )


def train_ivf_centroids(
    vectors: DataFrame,
    n_lists: int,
    seed: int = 42,
    sample_rows: int = 100_000,
    iters: int = 10,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Coarse quantizer: Lloyd's k-means on a bounded driver-side sample
    (standard IVF practice — the quantizer trains on a sample, assignment is
    distributed). The sample is capped at ``sample_rows`` regardless of
    corpus size, so the driver cost is constant at 100 TB. Sampling is a
    seeded Bernoulli ``df.sample`` over the WHOLE corpus — ``limit()`` pulls
    from the first partitions only, so on time- or source-ordered data the
    quantizer would see just the corpus head and every tail cluster would
    collapse into its nearest head centroid (measured in
    ``test_ivf_sample_not_head_biased``)."""
    n = vectors.count()
    if n <= sample_rows:
        frac_rows = vectors.select(vec_col).collect()
    else:
        # 1.2× oversample so the post-filter count lands at ~sample_rows even
        # on the low side of the binomial; deterministic for a fixed layout
        frac = min(1.0, 1.2 * sample_rows / n)
        frac_rows = (
            vectors.select(vec_col).sample(fraction=frac, seed=seed).limit(sample_rows).collect()
        )
    X = np.array([list(r[0]) for r in frac_rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_lists, len(X)), replace=False)]
    for _ in range(iters):
        # expanded-form distances, blocked so temporaries stay bounded
        d = np.empty((len(X), len(C)))
        c2 = (C * C).sum(1)[None, :]
        for s in range(0, len(X), 8192):
            blk = X[s : s + 8192]
            d[s : s + 8192] = (blk * blk).sum(1)[:, None] - 2 * blk @ C.T + c2
        lab = d.argmin(axis=1)
        for j in range(len(C)):
            m = lab == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def ann_topk_ivf(
    vectors: DataFrame,
    k: int,
    n_lists: int | None = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: train a coarse quantizer, build inverted lists
    (home assignment, rank 1), probe each query's ``n_probe`` nearest lists,
    exact cosine on candidates in the probed lists, window top-k.

    The 100 TB shape: assignment is one Arrow matmul pass (no shuffle),
    candidate generation is an equi-join on ``list_id`` (shuffle bounded by
    list sizes — centroids spread mass by construction, unlike hash buckets
    which collapse under duplicated embeddings), verification touches only
    probed-list pairs. ``n_lists=None`` scales with the corpus as ~√N (the
    standard IVF rule: expected list size = candidate volume per probe = √N,
    so per-query work grows as √N instead of N); n_probe trades recall for
    cost. Recall vs brute force is pytest-gated."""
    if n_lists is None:
        import math

        n_lists = max(8, math.isqrt(vectors.count()))
    C = train_ivf_centroids(vectors, n_lists, seed)
    assign = ivf_assign(vectors, C, n_probe=n_probe).localCheckpoint()
    home = assign.filter(F.col("rank") == 1).select("vid", "list_id")
    probes = assign.select(F.col("vid").alias("qid"), "list_id")
    cands = (
        probes.join(home, "list_id")
        .filter(F.col("qid") != F.col("vid"))
        .select(F.col("qid").alias("query_id"), F.col("vid").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # norms are per-vector, not per-pair: computed once on the |corpus|-row
    # relation instead of twice per candidate (the cosine divides by the
    # same two doubles, so results are bit-identical)
    v = vectors.select("vec_id", "embedding", _norm(F.col("embedding")).alias("_nrm"))
    scored = (
        cands.join(
            v.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("vq"), F.col("_nrm").alias("_nq")),
            "query_id",
        )
        .join(
            v.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vn"), F.col("_nrm").alias("_nn")),
            "neighbor_id",
        )
        .withColumn(
            "cosine",
            F.round(_dot(F.col("vq"), F.col("vn")) / (F.col("_nq") * F.col("_nn")), 6),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def ann_topk_lsh(
    vectors: DataFrame,
    k: int,
    n_bits: int | None = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    multi_probe: bool = True,
) -> DataFrame:
    """Approximate top-k: LSH candidates → exact cosine on candidates only →
    per-query window top-k.

    ``n_bits=None`` scales the sketch width with log2(corpus) via
    ``auto_n_bits`` (one cheap count job) so bucket populations stay bounded
    at any corpus size. ``multi_probe`` (Lv et al., VLDB'07) additionally
    probes every Hamming-1 bucket of each query's sketch — a query checks
    ``(1 + n_bits) × n_tables`` buckets instead of ``n_tables``, multiplying
    per-table recall ~4-5× (a near-neighbor that disagrees on exactly one
    hyperplane still collides) at the same index size. That is the scale
    trade that matters: recall comes from probes (query-side rows), not from
    narrower buckets (quadratic candidate blowup) or more tables (index
    size). The probe→home join runs through ``salted_probe_join`` so hot
    buckets stay reducer-bounded."""
    from facematch_spark.operators.lsh import salted_probe_join

    if n_bits is None:
        n_bits = auto_n_bits(vectors.count())
    # materialize once: the sketch relation feeds probes AND home buckets
    sk = hyperplane_sketches(vectors, n_bits, n_tables, dim, seed).localCheckpoint()
    if multi_probe:
        masks = [0] + [1 << i for i in range(n_bits)]
        probes = sk.select(
            F.col("vid").alias("qid"),
            "table_id",
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        )
    else:
        probes = sk.select(F.col("vid").alias("qid"), "table_id", "bucket")
    home = sk.select(F.col("vid").alias("nid"), "table_id", "bucket")
    cands = (
        salted_probe_join(
            probes, home, keys=["table_id", "bucket"],
            left_id="qid", right_id="nid",
            n_build=sk.count(),  # pinned: block-manager scan
        )
        .filter(F.col("qid") != F.col("nid"))
        .dropDuplicates(["qid", "nid"])
    )
    # norms are per-vector, not per-pair: computed once on the |corpus|-row
    # relation instead of twice per candidate (the cosine divides by the
    # same two doubles, so results are bit-identical).
    # SHUFFLE_HASH pins (guide §3.1): the candidate relation's size estimate
    # after the dedup aggregation is unreliable, and at 1M vectors the auto
    # plan tried to BROADCAST the (actually ~1 GB) candidate side and died on
    # spark.driver.maxResultSize (tools/scale_fallback_probe.py run E).
    # Hash-build on the |corpus|-row vector relation instead.
    v = vectors.select(F.col("vec_id"), F.col("embedding"), _norm(F.col("embedding")).alias("_nrm"))
    scored = (
        cands.join(
            v.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("va"), F.col("_nrm").alias("_na")).hint("shuffle_hash"),
            "qid",
        )
        .join(
            v.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("vb"), F.col("_nrm").alias("_nb")).hint("shuffle_hash"),
            "nid",
        )
        .withColumn(
            "cosine",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")), 6),
        )
        .select(F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id"), "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )
