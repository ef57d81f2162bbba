"""End-to-end pipeline tests: signature stage, LSH recall vs exact oracle,
clustering, silenced suppression, sha256 invariant (SURVEY.md §5.1-5.2)."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from facematch_spark import schema as S
from facematch_spark.config import DedupeConfig
from facematch_spark.operators import cluster as C
from facematch_spark.operators import lsh as L
from facematch_spark.operators import signatures as SIG
from facematch_spark.operators import verify as V
from facematch_spark.plans.pipeline import run_dedupe
from facematch_spark.sources.checkpoint import StageStore

CFG = DedupeConfig(jaccard_threshold=0.5)


@pytest.fixture(scope="module")
def sigs(spark, tiny_df):
    return SIG.sign_documents(tiny_df, CFG).localCheckpoint()


def test_signature_schema_and_status(sigs):
    assert sigs.schema == S.SIGNATURES
    statuses = {r["status"] for r in sigs.select("status").distinct().collect()}
    assert statuses <= set(S.ALL_STATUSES)
    # edge rows from the fixture must land in non-ok statuses, never crash
    assert sigs.filter(F.col("status") == S.STATUS_EMPTY).count() >= 2  # "" and whitespace-only
    assert sigs.filter(F.col("status") == S.STATUS_TOO_LARGE).count() == 1
    assert sigs.filter(F.col("status") == S.STATUS_NON_TEXT).count() == 1
    # error rows have null signatures; ok rows have full-length ones
    assert sigs.filter((F.col("status") != "ok") & F.col("minhash").isNotNull()).count() == 0
    bad = sigs.filter((F.col("status") == "ok") & (F.size("minhash") != CFG.num_perm)).count()
    assert bad == 0


def test_sha256_invariant_vs_input(sigs, tiny_corpus):
    """Per-row invariant (BASELINE.json input_hint): sha256(content) in the
    signatures table equals a driver-side recomputation from the raw input."""
    expected = {
        (r["repo"], r["path"], r["commit"]): hashlib.sha256(r["content"].encode()).hexdigest()
        for r in tiny_corpus.rows
    }
    got = sigs.select("repo", "path", "commit", "sha256").collect()
    assert len(got) == len(expected)
    for row in got:
        assert expected[(row["repo"], row["path"], row["commit"])] == row["sha256"]


def test_signature_determinism(spark, tiny_df, sigs):
    again = SIG.sign_documents(tiny_df, CFG)
    a = sorted(sigs.select("file_id", "sha256", "simhash", "minhash").collect())
    b = sorted(again.select("file_id", "sha256", "simhash", "minhash").collect())
    assert a == b


def exact_pairs(spark, df, cfg, threshold):
    """O(N^2)-equivalent exact-Jaccard oracle via shingle join (no LSH)."""
    sh = SIG.explode_shingles(df, cfg)
    card = sh.groupBy("file_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.file_id") < F.col("b.file_id"))
        .groupBy(F.col("a.file_id").alias("id_a"), F.col("b.file_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    ca = card.select(F.col("file_id").alias("id_a"), F.col("n").alias("na"))
    cb = card.select(F.col("file_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def test_lsh_recall_vs_exact_oracle(spark, tiny_df, sigs):
    """Recall gate (north rule ≥ 0.99): every exact-Jaccard-≥-t pair must be
    produced by the LSH path. At (b=32, r=4), t=0.5 collision prob is ~0.87
    per theory — but planted dups sit at J≥0.8 where it's ≈1; we assert
    recall on the full exact set and expect 100% on this fixture."""
    oracle = {(r.id_a, r.id_b) for r in exact_pairs(spark, tiny_df, CFG, CFG.jaccard_threshold).collect()}
    assert oracle, "fixture must contain planted dup pairs"
    cands = L.candidate_pairs(sigs, CFG)
    shingles = SIG.explode_shingles(tiny_df, CFG)
    verified = V.verify_candidates(cands, sigs, shingles, CFG)
    got = {
        (r.id_a, r.id_b)
        for r in verified.filter(F.col("jaccard") >= CFG.jaccard_threshold).collect()
    }
    recall = len(oracle & got) / len(oracle)
    assert recall >= 0.99, f"recall {recall} on {len(oracle)} oracle pairs"
    # precision of the jaccard-verified set is exact by construction
    assert got <= oracle


def test_verified_metrics_consistency(spark, tiny_df, sigs):
    cands = L.candidate_pairs(sigs, CFG)
    shingles = SIG.explode_shingles(tiny_df, CFG)
    verified = V.verify_candidates(cands, sigs, shingles, CFG).collect()
    assert verified
    minhash = {r.file_id: r.minhash for r in sigs.select("file_id", "minhash").collect()}
    for r in verified:
        assert r.id_a < r.id_b
        assert 0.0 <= r.jaccard <= 1.0
        assert 0 <= r.hamming <= 64
        assert r.containment >= r.jaccard - 1e-12  # containment ≥ jaccard always
        # the stored signatures track the verify shingles: their MinHash
        # estimate lies within statistical bounds of the exact jaccard
        est = sum(x == y for x, y in zip(minhash[r.id_a], minhash[r.id_b])) / CFG.num_perm
        assert abs(est - r.jaccard) < 4.0 / (CFG.num_perm ** 0.5) + 0.05


def test_containment_pair_found(spark, tiny_df, sigs, tiny_corpus):
    """Planted containment dups (file embedded verbatim in a larger one) must
    surface via the containment metric even when Jaccard is below threshold."""
    cands = L.candidate_pairs(sigs, CFG)
    shingles = SIG.explode_shingles(tiny_df, CFG)
    verified = V.verify_candidates(cands, sigs, shingles, CFG)
    by_contain = verified.filter(F.col("containment") >= CFG.containment_threshold).count()
    assert by_contain >= 1


def _path_case():
    """A 200-node path over shuffled ids of both signs, plus 60 isolated
    nodes: 61 clusters, one of them with diameter 199."""
    rng = random.Random(8)
    ids = rng.sample(range(-(2**61), 2**61), 260)
    path, isolated = ids[:200], ids[200:]
    edges = list(zip(path, path[1:]))
    expect = [(i, min(path)) for i in path] + [(i, i) for i in isolated]
    return edges, ids, expect


CC_CASES = {
    # chain 1-2-3-4, star at 10, a separate pair, a self-loop
    "mixed": (
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21), (30, 30)],
        None,
        [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 10), (13, 10),
         (20, 20), (21, 20), (30, 30)],
    ),
    # a 12-node chain and a vee whose minimum is not the shared vertex
    "chain_and_vee": (
        [(i, i + 1) for i in range(1, 12)] + [(100, 101), (102, 101)],
        None,
        [(i, 1) for i in range(1, 13)] + [(100, 100), (101, 100), (102, 100)],
    ),
    "long_path": _path_case(),
    "empty_with_nodes": ([], [5, -3, 9], [(5, 5), (-3, -3), (9, 9)]),
    "duplicate_and_reversed": (
        [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (7, 8), (8, 7), (8, 8)],
        None,
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
    ),
}


def _components(spark, edges, nodes=None):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    if nodes is not None:
        nodes = spark.createDataFrame([(n,) for n in nodes], "file_id long")
    return sorted(tuple(r) for r in C.connected_components(pairs, nodes=nodes).collect())


@pytest.mark.parametrize("gate", [C.DRIVER_EDGES_MAX, 0], ids=["driver", "star"])
@pytest.mark.parametrize("case", list(CC_CASES))
def test_clusters_known_graphs(spark, monkeypatch, case, gate):
    """Components of known graphs, labelled by their minimum id, on both
    sides of the CC gate: the driver union-find and star contraction."""
    monkeypatch.setattr(C, "DRIVER_EDGES_MAX", gate)
    edges, nodes, expect = CC_CASES[case]
    got = _components(spark, edges, nodes)
    assert got == sorted(expect)
    # run_dedupe counts clusters as self-labelled rows: one per component
    assert sum(f == c for f, c in got) == len({c for _, c in got})


def test_star_contraction_raises_when_rounds_run_out(spark, monkeypatch):
    monkeypatch.setattr(C, "DRIVER_EDGES_MAX", 0)
    monkeypatch.setattr(C, "MAX_ROUNDS", 3)
    edges, nodes, _ = _path_case()
    with pytest.raises(RuntimeError, match="MAX_ROUNDS"):
        _components(spark, edges, nodes)


def test_end_to_end_planted_recall(spark, tiny_df, tiny_corpus, tmp_path):
    """Full pipeline: all planted exact-dup pairs must land in one cluster."""
    res = run_dedupe(spark, tiny_df, CFG, StageStore(str(tmp_path), CFG))
    labels = {r.file_id: r.cluster_id for r in res.clusters.collect()}
    sigs = res.signatures.select("repo", "path", "commit", "file_id").collect()
    key_to_id = {(r.repo, r.path, r.commit): r.file_id for r in sigs}
    missed = 0
    total = 0
    for gp in tiny_corpus.golden_pairs:
        if gp["kind"] != "exact":
            continue
        ia = key_to_id[tiny_corpus.row_key(gp["ia"])]
        ib = key_to_id[tiny_corpus.row_key(gp["ib"])]
        total += 1
        if labels.get(ia) != labels.get(ib):
            missed += 1
    assert total > 0
    assert missed == 0, f"{missed}/{total} exact-dup pairs not co-clustered"


def test_silenced_pairs_suppressed(spark, tiny_df, sigs, tiny_corpus):
    """The reference reads silenced pairs but never consults them
    (utils.py:111-115); we actually anti-join them out."""
    cands = L.candidate_pairs(sigs, CFG)
    shingles = SIG.explode_shingles(tiny_df, CFG)
    verified = V.verify_candidates(cands, sigs, shingles, CFG).localCheckpoint()
    some = verified.limit(2).select("id_a", "id_b")
    remaining = V.apply_silenced(verified, some)
    assert remaining.count() == verified.count() - some.count()
    assert remaining.join(some, ["id_a", "id_b"], "left_semi").count() == 0
