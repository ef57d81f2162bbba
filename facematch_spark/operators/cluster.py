"""Connected components over the verified pair graph.

The reference has no transitive closure at all — its only "clustering" is a
per-file defaultdict grouping for the report (``utils.py:223-250``,
``report.html:116-121``). Here clusters are proper connected components,
labelled by the minimum member id, on one of two paths chosen by edge count:

* up to ``DRIVER_EDGES_MAX`` edges, one Arrow collect and ``union_find``, a
  NumPy min-hooking / pointer-jumping kernel on the driver;
* past it, alternating large-star / small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) over DataFrame
  joins, which converges in O(log n) rounds. A run that has not converged
  after ``MAX_ROUNDS`` raises instead of returning partial labels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# edge count up to which the closure runs on the driver; 0 forces the
# distributed path (tests flip it)
DRIVER_EDGES_MAX = 1_000_000
# star-contraction rounds before the distributed path gives up loudly
MAX_ROUNDS = 50


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) edge list → (file_id, cluster_id), cluster_id = min
    member id. ``nodes`` (single column ``file_id``) adds isolated vertices
    as singleton clusters; pass ``signatures.select("file_id")`` for the
    reference-parity behavior where every scanned file appears.

    ``pairs`` is read twice (the size probe, then the chosen path), so
    callers pass a materialized relation: a table read or a pinned one.
    """
    pairs = pairs.select("id_a", "id_b")
    if DRIVER_EDGES_MAX and pairs.limit(DRIVER_EDGES_MAX + 1).count() <= DRIVER_EDGES_MAX:
        labels = _driver_labels(pairs)
    else:
        labels = _star_contraction(pairs)

    if nodes is not None:
        singletons = nodes.select(F.col("file_id")).join(
            labels.select("file_id"), "file_id", "left_anti"
        ).withColumn("cluster_id", F.col("file_id"))
        labels = labels.unionByName(singletons)
    return labels


def union_find(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Components of the graph with edges ``a[i]–b[i]`` (any int64 ids).

    Returns ``(ids, roots)``: the sorted distinct endpoint ids and, aligned
    with them, the minimum id of each one's component. Works on the dense
    indices from ``np.unique``, so index order is id order: each round hooks
    every root that has an edge to a smaller root onto the smallest such
    root, then pointer-jumps until every node points at its root. A root
    only ever hooks onto a smaller index, so the component minimum is never
    hooked and ends as the root."""
    a = np.asarray(a, dtype=np.int64)
    ids, inv = np.unique(np.concatenate([a, np.asarray(b, dtype=np.int64)]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[ia], parent[ib]
        cross = ra != rb
        if not cross.any():
            return ids, ids[parent]
        ra, rb = ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _driver_labels(pairs: DataFrame) -> DataFrame:
    """``union_find`` over one collect. Both boundary crossings ride Arrow:
    ``toPandas`` for the edges in (vs row-at-a-time ``collect`` — measured
    12 s → <1 s at 140k edges) and a pandas frame for the labels out (vs
    per-tuple Python→JVM pickling — measured 8 s → <1 s at 250k labels)."""
    pdf = pairs.toPandas()
    ids, roots = union_find(pdf["id_a"].to_numpy(), pdf["id_b"].to_numpy())
    return pairs.sparkSession.createDataFrame(
        pd.DataFrame({"file_id": ids, "cluster_id": roots}), "file_id long, cluster_id long"
    )


def _same_edges(prev: DataFrame, new: DataFrame) -> bool:
    """Both sides are distinct canonical (src, dst) sets, so they are equal
    exactly when a full-outer join leaves no row unmatched."""
    unmatched = (
        prev.withColumn("in_prev", F.lit(True))
        .join(new.withColumn("in_new", F.lit(True)), ["src", "dst"], "full_outer")
        .filter(F.col("in_prev").isNull() | F.col("in_new").isNull())
    )
    return unmatched.isEmpty()


def _star_contraction(pairs: DataFrame) -> DataFrame:
    """Alternating large-star / small-star (Kiveris et al. SoCC'14).

    Edge set converges to a star around each component's minimum node in
    O(log n) rounds; final mapping is dst→src of the star edges plus the
    roots themselves.
    """
    edges = (
        pairs.select(F.least("id_a", "id_b").alias("src"), F.greatest("id_a", "id_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint()
    )
    for _ in range(MAX_ROUNDS):
        # large-star: for every node u, link each strictly-larger neighbor v
        # to m = min(N(u) ∪ {u}).
        sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        m = sym.groupBy("src").agg(F.min("dst").alias("m"))
        m = m.select("src", F.least("src", "m").alias("m"))
        large = (
            sym.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("m").alias("src"), F.col("dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )
        # small-star: key each edge by its larger endpoint u; with
        # Γ⁻(u) = smaller neighbors, m = min(Γ⁻(u) ∪ {u}), emit (m, v) for
        # every v ∈ Γ⁻(u) ∪ {u} except m itself — including the (m, u)
        # self-attachment that keeps u connected.
        by_larger = large.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        m2 = by_larger.groupBy("u").agg(F.min("v").alias("m"))
        members = by_larger.unionByName(
            by_larger.select("u", F.col("u").alias("v")).distinct()
        )
        small = (
            members.join(m2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("src"), F.col("v").alias("dst"))
            .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
            .dropDuplicates(["src", "dst"])
        ).localCheckpoint()
        converged = _same_edges(edges, small)
        edges = small
        if converged:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge in MAX_ROUNDS={MAX_ROUNDS} rounds"
        )
    # edges now form stars rooted at component minima
    roots = edges.select(F.col("src").alias("file_id")).distinct().withColumn(
        "cluster_id", F.col("file_id")
    )
    members = edges.select(F.col("dst").alias("file_id"), F.col("src").alias("cluster_id"))
    labels = members.unionByName(roots).groupBy("file_id").agg(F.min("cluster_id").alias("cluster_id"))
    # nodes whose only incidences were self-loops were dropped by the
    # src != dst filter — restore them as their own singleton cluster
    all_nodes = (
        pairs.select(F.col("id_a").alias("file_id"))
        .union(pairs.select(F.col("id_b").alias("file_id")))
        .distinct()
    )
    loners = all_nodes.join(labels.select("file_id"), "file_id", "left_anti").withColumn(
        "cluster_id", F.col("file_id")
    )
    return labels.unionByName(loners)
