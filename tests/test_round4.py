"""Round-4 regression tests: sampled ANN recall reports, the oracle-checkable
report-edges path, and the per-query recall-report shape."""

from __future__ import annotations

import pyspark.sql.functions as F


def _emb_df(spark, n=60, dim=8, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)], 0) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_recall_report_shape_and_truth(spark):
    """The report emits one (query_id, true_nn, recall_pass) row per query,
    and true_nn equals the brute-force exact nearest neighbor."""
    import __spark_entry__ as E
    from facematch_spark.operators.similarity import cosine_topk_bruteforce

    emb = _emb_df(spark)
    rep = E._ann_recall_report(
        spark, emb, lambda e: cosine_topk_bruteforce(e, e, k=1), gate=0.9
    ).toPandas()
    assert sorted(rep.columns) == ["query_id", "recall_pass", "true_nn"]
    assert len(rep) == 60
    # the ANN under test IS the exact twin → recall 1.0 → pass everywhere
    assert rep["recall_pass"].all()
    truth = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk_bruteforce(emb, emb, k=1).collect()
    }
    assert dict(zip(rep["query_id"], rep["true_nn"])) == truth


def test_recall_report_samples_above_cap(spark):
    """Above max_queries the evaluation samples deterministically; the same
    cap yields the same query set both times (md5-ordered, seedless)."""
    import __spark_entry__ as E
    from facematch_spark.operators.similarity import cosine_topk_bruteforce

    emb = _emb_df(spark)
    reps = [
        E._ann_recall_report(
            spark, emb, lambda e: cosine_topk_bruteforce(e, e, k=1),
            gate=0.9, max_queries=10,
        ).toPandas()
        for _ in range(2)
    ]
    assert len(reps[0]) == 10
    assert sorted(reps[0]["query_id"]) == sorted(reps[1]["query_id"])
    assert reps[0]["recall_pass"].all()


def test_recall_report_flags_regression(spark):
    """An ANN path returning garbage flips recall_pass on every row."""
    import __spark_entry__ as E

    emb = _emb_df(spark)

    def bad_ann(e):
        # every query "finds" only itself — recall@1 is 0
        return e.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(1.0).alias("cosine"),
            F.lit(1).cast("int").alias("rank"),
        )

    rep = E._ann_recall_report(spark, emb, bad_ann, gate=0.9).toPandas()
    assert not rep["recall_pass"].any()


def test_top_bottom_edges_df_deterministic(spark):
    """top/bottom-K edge rows are a pure function of the pair relation, with
    jaccard ties broken on (id_a, id_b), in both the DataFrame form and the
    list form."""
    from facematch_spark.report import top_bottom_edges, top_bottom_edges_df

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.9), (5, 6, 0.7), (7, 8, 0.5), (2, 9, 0.5)],
        "id_a long, id_b long, jaccard double",
    )
    out = top_bottom_edges_df(pairs, edges=2).toPandas()
    top = out[out["which"] == "top"].sort_values("pos")
    bottom = out[out["which"] == "bottom"].sort_values("pos")
    assert list(map(tuple, top[["id_a", "id_b"]].to_numpy())) == [(1, 2), (3, 4)]
    assert list(map(tuple, bottom[["id_a", "id_b"]].to_numpy())) == [(2, 9), (7, 8)]
    # idempotent: a rerun produces the identical frame
    again = top_bottom_edges_df(pairs, edges=2).toPandas()
    assert out.sort_values(["which", "pos"]).reset_index(drop=True).equals(
        again.sort_values(["which", "pos"]).reset_index(drop=True)
    )

    # the list form the CLI and HTML report render names the same pairs in
    # the same order: 40 pairs, 20 tied at 1.0 and 20 at 0.5, in descending
    # id order over 8 partitions, so a cut at K=3 lands inside a tie group
    rows = [(i, i + 1 + (i * 7) % 13, 1.0 if i % 2 else 0.5) for i in range(200, 0, -5)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, jaccard double").repartition(8)
    df = top_bottom_edges_df(pairs, edges=3).toPandas()
    top, bottom = top_bottom_edges(pairs, edges=3)
    for which, got in (("top", top), ("bottom", bottom)):
        want = df[df["which"] == which].sort_values("pos")
        assert [(r.id_a, r.id_b) for r in got] == list(
            map(tuple, want[["id_a", "id_b"]].to_numpy())
        )
