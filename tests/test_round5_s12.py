"""Session-12 entries: graph family (triangle count, integer PageRank) and
behavioral analytics (retention cohorts, Markov transitions)."""

import random

import pytest
from pyspark.sql import functions as F

from facematch_spark.operators import graph as G

# both sides of the vertex gate: the default broadcasts the per-vertex
# relations, 0 sends oriented_edges and pagerank_int down the shuffled-hash joins
vertex_gate = pytest.mark.parametrize(
    "vertex_max", [G.BROADCAST_VERTEX_MAX, 0], ids=["broadcast", "shuffled"]
)


def _random_edges(spark, n_vertices=30, n_edges=90, seed=11):
    rng = random.Random(seed)
    es = set()
    while len(es) < n_edges:
        u, v = rng.randrange(n_vertices), rng.randrange(n_vertices)
        if u != v:
            es.add((min(u, v), max(u, v)))
    df = spark.createDataFrame(sorted(es), "u long, v long")
    return df, sorted(es)


@vertex_gate
def test_triangle_counts_match_brute_force(spark, monkeypatch, vertex_max):
    monkeypatch.setattr(G, "BROADCAST_VERTEX_MAX", vertex_max)
    df, es = _random_edges(spark)
    got = {r.part_id: r.n_triangles for r in G.local_triangle_counts(df).collect()}

    adj = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    verts = sorted(adj)
    for a in verts:
        for b in adj[a]:
            if b <= a:
                continue
            for c in adj[a] & adj[b]:
                if c > b:
                    for x in (a, b, c):
                        want[x] = want.get(x, 0) + 1
    assert got == want and sum(want.values()) % 3 == 0 and want


def test_triangle_orientation_counts_each_once(spark):
    # K4: 4 triangles, every vertex in exactly 3.
    from facematch_spark.operators.graph import local_triangle_counts

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "u long, v long"
    )
    got = {r.part_id: r.n_triangles for r in local_triangle_counts(k4).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


@vertex_gate
def test_pagerank_int_matches_python_replay(spark, monkeypatch, vertex_max):
    # engine-independent oracle: replay the exact integer recurrence in
    # plain Python dicts — same floor divisions, same damping arithmetic.
    monkeypatch.setattr(G, "BROADCAST_VERTEX_MAX", vertex_max)
    df, es = _random_edges(spark, n_vertices=25, n_edges=60, seed=3)
    got = {r.part_id: r.pr_micro for r in G.pagerank_int(df, iterations=3).collect()}

    out = {}
    for u, v in es:
        out.setdefault(u, []).append(v)
        out.setdefault(v, []).append(u)
    deg = {p: len(ns) for p, ns in out.items()}
    pr = {p: 1_000_000 for p in deg}
    for _ in range(3):
        nxt = {p: 0 for p in deg}
        for p, ns in out.items():
            c = pr[p] // deg[p]
            for n in ns:
                nxt[n] += c
        pr = {p: 150_000 + (85 * s) // 100 for p, s in nxt.items()}
    assert got == pr


def test_pagerank_rejects_zero_iterations(spark):
    from facematch_spark.operators.graph import pagerank_int

    df, _ = _random_edges(spark, n_vertices=5, n_edges=4)
    with pytest.raises(ValueError):
        pagerank_int(df, iterations=0)


def test_retention_period_zero_is_cohort_size(spark):
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    out = E.queries()["q_retention_cohorts"](spark, sf)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    firsts = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("DAY", F.min("ts")), "yyyy-MM-dd").alias("c")
    )
    sizes = {r.c: r.n for r in firsts.groupBy("c").agg(F.count("*").alias("n")).collect()}
    p0 = {r.cohort_day: r.n_users for r in out.filter(F.col("period") == 0).collect()}
    assert p0 == sizes  # every user returns on their own first day
    assert out.filter(F.col("period") < 0).count() == 0


def test_markov_probabilities_sum_to_one_per_source(spark):
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    out = E.queries()["q_markov_transitions"](spark, sf)
    sums = out.groupBy("src_type").agg(F.sum("p_transition").alias("s")).collect()
    assert sums and all(abs(r.s - 1.0) < 1e-9 for r in sums)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    n_tr = out.agg(F.sum("n_transitions")).collect()[0][0]
    # each user contributes (events - 1) transitions
    assert n_tr == ev.count() - ev.select("user_id").distinct().count()


def test_link_prediction_ra_matches_python_replay(spark):
    from facematch_spark.operators.graph import link_prediction_ra

    df, es = _random_edges(spark, n_vertices=25, n_edges=70, seed=19)
    got = {
        (r.u, r.v): r.score_micro
        for r in link_prediction_ra(df, top_k=1000).collect()
    }
    adj = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    vs = sorted(adj)
    for i, u in enumerate(vs):
        for v in vs[i + 1:]:
            if v in adj[u]:
                continue  # existing edges are never candidates
            s = sum(1_000_000 // len(adj[w]) for w in adj[u] & adj[v])
            if s > 0:
                want[(u, v)] = s
    assert got == want and want
    assert all((u, v) not in es for (u, v) in got)


def test_gini_diversity_exact_on_crafted_mixes(spark):
    import __spark_entry__ as E  # noqa: F401 — same expression, local df

    rows = (
        [(1, "a")] * 8                       # single type -> gini 0
        + [(2, t) for t in "abcd" * 3]       # uniform over 4 -> 1 - 1/4
        + [(3, "a"), (3, "a"), (3, "b")]     # 2:1 mix -> 1 - 5/9
    )
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    from pyspark.sql import functions as F

    c = df.groupBy("user_id", "event_type").agg(F.count("*").alias("n_i"))
    out = {
        r.user_id: r.gini
        for r in c.groupBy("user_id")
        .agg(F.sum("n_i").alias("n"), F.sum(F.col("n_i") * F.col("n_i")).alias("sq"))
        .select(
            "user_id",
            (F.lit(1.0) - F.col("sq").cast("double")
             / (F.col("n") * F.col("n")).cast("double")).alias("gini"),
        )
        .collect()
    }
    assert out[1] == 0.0
    assert out[2] == 1.0 - 0.25
    assert out[3] == 1.0 - 5.0 / 9.0
