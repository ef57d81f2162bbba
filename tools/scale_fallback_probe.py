"""Round-6 scale-fallback exercise (VERDICT r05 item 5): run the gated
operators' DISTRIBUTED fallback branches — the plans that execute past the
driver-fast-path gates — on a generated ≥1M-doc corpus, and record each
run's wall seconds (run A split by step). The gates themselves are
pytest-pinned at toy scale; this probe is the "does the past-gate plan
actually complete and scale" evidence.

Branches exercised:
  A. the shipped pipeline (``run_dedupe``: sign → LSH → exact verify →
     cluster) on the FULL 1M-doc corpus with the attach broadcast gate
     forced OFF (shuffled id semi-joins and SimHash joins — the
     10^12-file plan);
  B. distributed connected components on a >1M-edge graph (the sf0.1
     co-purchase graph, 1.196M edges — naturally past the 1M driver
     union-find gate, so star contraction runs);
  C. MinHash→exact-Jaccard verification on a 150k-doc slice (shingle rows
     ≈ 30x the 5M broadcast gate; the gate counts only the candidate
     files' rows, and past it verify.exact_overlap groups per-file sorted
     arrays and joins them through the shuffle);
  D. PPJoin n-gram Jaccard on a 50k-doc slice (shingle rows >> 5M gate →
     same fallback verify tier via the candidate join);
  E. hyperplane-LSH ANN top-k on 1M synthetic vectors (the prescribed
     scale path past the 2M brute-force collect gate, which raises by
     design).

Usage:  python tools/scale_fallback_probe.py [corpus.parquet] [--runs A,B,C,D,E]
        (corpus default /tmp/fm_corpus_1m.parquet — FIXTURES.md generator,
         n_base=700000, seed=42, edge_rows=False)
Prints one JSON line per run with wall seconds (run A: total plus
``run_dedupe``'s own sign / dedupe / cluster walls) + row counts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    corpus = args[0] if args else "/tmp/fm_corpus_1m.parquet"
    runs = "ABCDE"
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = a.split("=", 1)[1].replace(",", "") if "=" in a else runs

    from pyspark.sql import functions as F

    import facematch_spark.operators.verify as V
    from facematch_spark.config import DedupeConfig
    from facematch_spark.operators.cluster import connected_components
    from facematch_spark.operators.dedup import minhash_lsh_exact_pairs, ngram_jaccard_pairs
    from facematch_spark.operators.graph import copurchase_edges
    from facematch_spark.operators.similarity import ann_topk_lsh
    from facematch_spark.plans.pipeline import run_dedupe
    from facematch_spark.session import get_spark
    from facematch_spark.sources.checkpoint import StageStore

    local_dir = "/dev/shm/fm_spark_local"
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        app_name="scale_fallback_probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={"spark.local.dir": local_dir},
    )

    def emit(run: str, walls: dict, **extra) -> None:
        print(json.dumps({"run": run, "walls_s": walls, **extra}), flush=True)

    def drop() -> None:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(m.keySet().toArray()):
            m.get(rid).unpersist()

    raw = spark.read.parquet(corpus)
    docs = raw.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        F.col("content").alias("text"),
        F.col("lang"),
        F.lit("probe").alias("source"),
        F.length("content").alias("n_chars"),
    )
    cfg = DedupeConfig(jaccard_threshold=0.5)
    # run A checkpoints its stages as the CLI does, in a fresh store
    store_root = tempfile.mkdtemp(prefix="fm_probe_store_", dir=local_dir)

    # ---- A: run_dedupe on 1M docs, attach gate forced to the full-shuffle branch
    ids_gate = V.ATTACH_BROADCAST_IDS_MAX
    V.ATTACH_BROADCAST_IDS_MAX = 0
    try:
        if "A" not in runs:
            raise StopIteration
        t0 = time.perf_counter()
        res = run_dedupe(spark, raw, cfg, StageStore(store_root, cfg))
        st = {
            "total_s": round(time.perf_counter() - t0, 1),
            **{f"{k}_s": round(v, 1) for k, v in res.times.items()},
        }
        emit("A_e2e_1M_attach_fullshuffle", st, n_docs=res.counts["files"],
             n_pairs=res.counts["pairs"], n_clusters=res.counts["clusters"])
    except StopIteration:
        pass
    finally:
        V.ATTACH_BROADCAST_IDS_MAX = ids_gate
        shutil.rmtree(store_root, ignore_errors=True)
    drop()

    # ---- B: distributed CC on >1M edges (past the driver union-find gate)
    if "B" in runs:
        li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        edges = copurchase_edges(li).select(
            F.col("u").alias("id_a"), F.col("v").alias("id_b")
        ).localCheckpoint()
        n_edges = edges.count()
        st = {}
        t0 = time.perf_counter()
        cc = connected_components(edges)
        n_comp = cc.select("cluster_id").distinct().count()
        st["total_s"] = round(time.perf_counter() - t0, 1)
        emit(f"B_cc_star_{n_edges}edges", st, n_edges=n_edges, n_components=n_comp)
        drop()

    # ---- C: MinHash exact verify, fallback tier (150k docs >> 5M shingles)
    if "C" in runs:
        slice_c = docs.filter(F.abs(F.xxhash64("doc_id")) % 7 == 0).localCheckpoint()
        n_c = slice_c.count()
        st = {}
        t0 = time.perf_counter()
        out = minhash_lsh_exact_pairs(slice_c, cfg)
        n_out = out.count()
        st["total_s"] = round(time.perf_counter() - t0, 1)
        emit("C_minhash_verify_fallback", st, n_docs=n_c, n_pairs=n_out)
        drop()

    # ---- D: PPJoin fallback tier (~20k docs, shingle rows ~5× the 5M
    # broadcast gate → the distributed verify tier runs). Threshold 0.8 and
    # a bounded slice are deliberate: this template-generated source corpus
    # has PERVASIVE real cross-doc 9-gram overlap, so the exact candidate
    # join's Σ freq² is quadratic-dense — at 50k docs/t=0.5 it OOM'd the
    # host (the operator docstring's word-soup warning, now measured). That
    # density is a property of exact set-similarity join on template-heavy
    # corpora, not of the plan: MinHash/LSH is the web-scale first pass
    # (runs A and C), with the exact PPJoin as the bounded refinement —
    # same division of labor the repo documents for edit distance.
    if "D" in runs:
        slice_d = docs.filter(F.abs(F.xxhash64("doc_id")) % 50 == 0).localCheckpoint()
        n_d = slice_d.count()
        st = {}
        t0 = time.perf_counter()
        out = ngram_jaccard_pairs(slice_d, k=9, threshold=0.8)
        n_out = out.count()
        st["total_s"] = round(time.perf_counter() - t0, 1)
        emit("D_ppjoin_fallback", st, n_docs=n_d, n_pairs=n_out)
        drop()

    # ---- E: ANN LSH at 1M vectors (the past-brute-gate scale path)
    if "E" not in runs:
        spark.stop()
        return
    # CENTERED synthetic components in [-0.5, 0.5): hyperplane sketches cut
    # through the origin, so an all-positive-orthant corpus (the first
    # attempt) degenerates into a handful of giant buckets whose salted
    # triangle join is quadratic — realistic embeddings are roughly centered.
    dim = 16
    vec = F.array(*[
        (F.pmod(F.xxhash64(F.col("vec_id"), F.lit(j)), F.lit(1000)) / F.lit(1000.0) - F.lit(0.5))
        for j in range(dim)
    ])
    # 300k vectors: at 1M the candidate scoring moves ~2×16-double arrays
    # per pair — ~80 GB of shuffle on ONE tmpfs-backed local node, past this
    # host's RAM (a cluster spreads it; the per-pair array attach is noted in
    # OPTIMIZATION_r06.md as the remaining §8-style lever). 300k exercises
    # the identical distributed plan inside the host's memory.
    vectors = (
        spark.range(300_000).select(F.col("id").alias("vec_id"))
        .select("vec_id", vec.alias("embedding"))
        .localCheckpoint()
    )
    st = {}
    t0 = time.perf_counter()
    # multi_probe=False for STRUCTURELESS synthetic vectors: with no cluster
    # structure every Hamming-1 probe hits a full unrelated bucket, so
    # multi-probe yields ~(1+n_bits)·n_tables·bucket_size candidates per
    # query (~540M scoring rows at 300k vectors — ANN's worst case, cf. the
    # ann_ivf entry note on weakly-clustered fixtures). Single-probe runs
    # the identical distributed plan (sketch → salted probe join → pinned
    # scoring joins → window top-k) at realistic candidate volume.
    topk = ann_topk_lsh(vectors, k=3, n_bits=None, n_tables=4, dim=dim, multi_probe=False)
    n_rows = topk.count()
    st["total_s"] = round(time.perf_counter() - t0, 1)
    emit("E_ann_lsh_300k", st, n_vectors=300_000, n_result_rows=n_rows)

    spark.stop()


if __name__ == "__main__":
    main()
