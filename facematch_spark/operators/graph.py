"""Distributed graph operators over an edge list: degree-ordered triangle
counting and integer-quantized PageRank.

Reference parity: the reference has no graph operators beyond the implicit
per-file grouping its report does (`utils.py:223-250` in /root/reference);
these belong to the engine-additions family (SURVEY §2.11) — co-purchase /
co-occurrence graph analytics a corpus pipeline runs on its pair graphs
(dedup edges, citation links, co-download baskets).

Algorithms are the public canon:

* **Triangle counting** uses the degree-ordering orientation (Schank &
  Wagner '05; the MapReduce form is Suri & Vassilvitskii WWW'11): orient
  every undirected edge from its lower endpoint to its higher endpoint in
  the total order ``(degree, id)``. Every triangle then has exactly ONE
  vertex with two out-edges into the other two, so one wedge self-join on
  the source plus one closing equi-join counts each triangle exactly once
  — and the wedge fan-out per source is bounded by the oriented
  out-degree, which the ordering caps at O(√m) regardless of hub skew
  (a hub's edges point INTO it from the total order's perspective).
* **PageRank** runs the standard power iteration as join+groupBy rounds,
  but over INTEGER micro-units with explicit floor division at every
  step: ``pr' = 150_000 + (85 · Σ floor(pr_u / deg_u)) div 100`` (damping
  0.85, teleport 0.15, unit = 1e-6 rank mass). Floats would make the
  result depend on the engine's accumulation order; the integer
  quantization makes every iteration bit-exact in ANY engine — which is
  what lets an ITERATIVE algorithm carry a value-hashed DuckDB oracle
  (unrolled CTEs) instead of the weaker rows-only check. Quantization
  error is ≤ deg·1e-6 rank mass per node per iteration — documented, not
  hidden.

Scale shape: degrees are a groupBy on vertex id; the degree joins and the
per-iteration contribution join shuffle on vertex id (broadcast when the
vertex relation is small); every multi-consumer relation (edges, degrees)
is pinned once per the house rule, and each PageRank iteration cuts
lineage with ``localCheckpoint`` exactly like the connected-components
loop in ``operators/cluster.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Vertex count under which per-vertex relations (degrees, PageRank
# contributions) are broadcast instead of shuffled — same order as the
# engine's other broadcast gates (verify.ATTACH_BROADCAST_IDS_MAX,
# verify.BROADCAST_SHINGLE_LIMIT): 2M vertices ≈ 32 MB of (id, long)
# pairs. Past it the shuffled-hash joins below are the scale-correct plan.
BROADCAST_VERTEX_MAX = 2_000_000


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected part co-purchase edges (u < v): two parts are
    adjacent iff some order contains both.

    The per-order fan-out is C(basket, 2) — bounded by the basket-size cap
    (13 distinct parts/order in the fixture; real baskets are similarly
    capped), so the order self-join is NOT quadratic in the table: it is
    O(orders · basket²). A pipeline with unbounded group sizes should cap
    or sample baskets first (same class as the ngram hot-shingle tiers).
    """
    ip = lineitem.select("l_orderkey", "l_partkey").distinct()
    a, b = ip.alias("a"), ip.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


def _degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per vertex: (p, d)."""
    return (
        edges.select(F.col("u").alias("p"))
        .unionAll(edges.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge from the lower to the higher endpoint in
    the total order (degree, id). Returns (src, dst).

    The two degree joins build on the (|V|-row, 16-byte) degree relation:
    broadcast below the vertex gate (the edge relation is then never
    shuffled for orientation at all), shuffled-hash above it (no sort of
    the edge relation either way — guide §3.1)."""
    deg = _degrees(edges)
    # |V| ≤ 2·|E|, so the edge count (one cheap count over the caller's
    # pinned edge relation) bounds the degree-relation size without running
    # the degree aggregation an extra time.
    if edges.limit(BROADCAST_VERTEX_MAX // 2 + 1).count() <= BROADCAST_VERTEX_MAX // 2:
        deg = F.broadcast(deg)
    else:
        deg = deg.hint("shuffle_hash")
    e = (
        edges.join(deg.select(F.col("p").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("p").alias("v"), F.col("d").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # ddst (the destination's degree) rides along so wedge enumeration can
    # order a source's two out-neighbors in the SAME (degree, id) total
    # order without a re-join — see local_triangle_counts.
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    )


def local_triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation counts: (part_id, n_triangles) for
    every vertex in at least one triangle.

    Wedge enumeration emits each out-pair ONCE, pre-ordered by the same
    (degree, id) total order the edges are oriented by (the destination
    degree rides the oriented relation, so ordering two out-neighbors needs
    no re-join): if the closing edge exists it is oriented exactly
    lo→hi, so each triangle closes exactly once — no /3 correction, no
    double counting, and the wedge fan-out (the job's largest exchange,
    guide §2.3) is HALF of the emit-both-orders form (measured same
    counts, r6).
    """
    # The edge list arrives as an arbitrary (possibly expensive) plan and
    # is consumed three times upstream of orientation (twice by the degree
    # union, once by the orientation join) → pin it once at the boundary:
    # (u, v) longs only, ~16 B/row.
    edges = edges.localCheckpoint()
    # wedges + closing join both consume the oriented relation → pin once.
    o = oriented_edges(edges).localCheckpoint()
    o1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("ddst").alias("db"))
    o2 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"), F.col("ddst").alias("dc"))
    # Shuffled-hash joins, build = the oriented-edge relation (O(m) rows of
    # two longs): sort-merge would SORT the wedge fan-out (Σ outdeg² rows —
    # the largest relation in the job) before the closing join; hashing the
    # small side streams the wedges through unsorted (guide §3.1). The
    # (db, b) < (dc, c) predicate keeps each out-pair in closing-edge
    # orientation only — the wedge exchange halves.
    b_first = (F.col("db") < F.col("dc")) | (
        (F.col("db") == F.col("dc")) & (F.col("b") < F.col("c"))
    )
    wedges = (
        o1.join(o2.hint("shuffle_hash"), "a")
        .filter(b_first)
        .select("a", "b", "c")
    )
    tri = wedges.join(
        o.select("src", "dst").hint("shuffle_hash"),
        (F.col("b") == F.col("src")) & (F.col("c") == F.col("dst")),
    ).select("a", "b", "c")
    # ONE consumer of tri: explode the three roles inline so the wedge +
    # closing joins execute once (a three-way unionAll of tri re-ran the
    # whole join pipeline per branch — plan-checked), and the explode
    # feeds the groupBy's map-side combine in the same stage.
    verts = tri.select(
        F.explode(F.array("a", "b", "c")).alias("part_id")
    )
    return verts.groupBy("part_id").agg(F.count("*").alias("n_triangles"))


def pagerank_int(
    edges: DataFrame,
    iterations: int = 3,
    unit: int = 1_000_000,
) -> DataFrame:
    """Integer-quantized PageRank over the undirected graph (both
    directions propagate). Returns (part_id, pr_micro) after ``iterations``
    synchronous power-iteration rounds from a uniform start of ``unit``
    micro-units per vertex.

    Every vertex has degree ≥ 1 by construction (vertices come from
    edges), so there is no dangling mass to redistribute.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # pin the (possibly expensive) edge plan before the two-way union
    # evaluates it twice; then pin the directed relation for the rounds.
    edges = edges.localCheckpoint()
    # ed (directed both ways) + deg are consumed every iteration → pin once.
    ed = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint()
    )
    deg = ed.groupBy(F.col("src").alias("p")).agg(F.count("*").alias("d")).localCheckpoint()
    pr = deg.select("p", F.lit(unit).cast("long").alias("pr"))
    teleport = int(0.15 * unit)
    # contrib is |V| rows of (id, long): broadcast it below the vertex gate
    # so the O(m) directed-edge relation is never shuffled per round — the
    # groupBy(dst) exchange becomes each iteration's only edge-sized
    # shuffle. Past the gate, shuffled-hash keeps the no-sort property.
    bcast_contrib = deg.limit(BROADCAST_VERTEX_MAX + 1).count() <= BROADCAST_VERTEX_MAX
    for _ in range(iterations):
        contrib = pr.join(deg.hint("shuffle_hash"), "p").select(
            F.col("p").alias("src"), F.expr("pr div d").alias("c")
        )
        contrib = F.broadcast(contrib) if bcast_contrib else contrib.hint("shuffle_hash")
        pr = (
            ed.join(contrib, "src")
            .groupBy(F.col("dst").alias("p"))
            .agg(F.sum("c").alias("s"))
            .select(
                "p",
                (F.lit(teleport) + F.expr("(85 * s) div 100")).cast("long").alias("pr"),
            )
            .localCheckpoint()  # cut lineage per round (cf. cluster.py)
        )
    return pr.select(F.col("p").alias("part_id"), F.col("pr").alias("pr_micro"))


def link_prediction_ra(
    edges: DataFrame,
    top_k: int = 10,
    unit: int = 1_000_000,
) -> DataFrame:
    """Link prediction by the Resource-Allocation index (Zhou, Lü &
    Zhang, Eur. Phys. J. B 2009): score(u, v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w)
    for non-adjacent pairs, top-``top_k`` candidates per vertex.

    RA is chosen over Adamic-Adar deliberately: AA's 1/ln(deg) depends on
    a libm log whose last bit differs across engines, while RA's 1/deg
    quantizes to ``floor(unit/deg)`` — every per-wedge contribution is an
    integer, sums are order-independent, and the score is bit-exact in
    any engine (same policy as the integer PageRank above).

    Dataflow: wedges (u—w—v through center w) carry w's integer weight;
    one groupBy on the (u, v) pair sums them; a left-anti join removes
    existing edges; WindowGroupLimit keeps top_k per u (ties broken by
    (score desc, v asc) — a total order). The wedge join is the one
    superlinear stage; its fan-out is Σ deg(w)² — bounded for degree-
    capped graphs, and a production run on a hub-heavy graph should cap
    or sample N(w) first (documented, cf. the basket-size note on
    copurchase_edges).
    """
    edges = edges.localCheckpoint()
    deg = _degrees(edges)
    ed = (
        edges.select(F.col("u").alias("w"), F.col("v").alias("n"))
        .unionAll(edges.select(F.col("v").alias("w"), F.col("u").alias("n")))
    )
    # attach the center's integer weight once; both wedge sides reuse it
    wed = ed.join(
        deg.select(
            F.col("p").alias("w"), F.expr(f"{int(unit)} div d").alias("wt")
        ),
        "w",
    ).localCheckpoint()
    a = wed.select("w", F.col("n").alias("u"), "wt")
    b = wed.select("w", F.col("n").alias("v"))
    # shuffled-hash: the wedge fan-out (Σ deg(w)² rows) is generated and
    # partially aggregated without ever being sorted; sort-merge would sort
    # both 2m-row sides AND leave the fan-out feeding a sort-based plan.
    # (A collect_list + indexed-transform combination explode was tried —
    # it halves the generated rows but the interpreted slice/struct lambdas
    # cost ~3× the join's codegen row generation; measured 5.5 s → 14.5 s.)
    pairs = (
        a.join(b.hint("shuffle_hash"), "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum("wt").alias("score_micro"))
    )
    # anti join builds on the (m-row) canonical edge relation, so the much
    # larger candidate-pair relation streams through unsorted.
    non_edges = pairs.join(
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).hint("shuffle_hash"),
        ["u", "v"],
        "left_anti",
    )
    from pyspark.sql import Window as W

    w_rank = W.partitionBy("u").orderBy(F.desc("score_micro"), F.asc("v"))
    return (
        non_edges.withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") <= top_k)
        .drop("_rn")
    )
