"""Benchmark harness. Runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (sec), "unit", "queries": {name: sec}, "sf",
"files_per_sec", ...}.

The headline metric is the end-to-end dedup dataflow (sign → MinHash/LSH →
verify → cluster) over the documents corpus — the BASELINE.json target is
files/sec for exactly this dataflow. Scaling evidence (local[8] vs local[32])
is produced by bench/scaling.py into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_bench(sf_dir: str, cpus: str, quiet: bool = True) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from facematch_spark.config import DedupeConfig
    from facematch_spark.operators import lsh as L
    from facematch_spark.operators.cluster import connected_components
    from facematch_spark.operators.dedup import doc_signatures
    from facematch_spark.operators.verify import attach_signature_metrics
    from facematch_spark.session import get_spark

    # Route around sick vCPUs before the JVM starts — the same
    # executor-placement analog the scaling protocol uses (a scheduler
    # routing around sick nodes): this host's hypervisor-side fault
    # servicing degrades ~400× on a drifting subset of vCPUs, and ONE such
    # CPU straggles every wide stage of every query (measured: the same
    # bench suite 117 s vs 204 s depending on whether a sick CPU was in the
    # set). Pin the process (JVM + Python workers inherit) to the healthy
    # subset when at least half the CPUs pass the gate; record what was
    # excluded so the artifact is auditable. SPARK_GRAFT_PIN=0 disables.
    health = {"pinned_cpus": None, "excluded_cpus": {}}
    if os.environ.get("SPARK_GRAFT_PIN", "1") != "0" and hasattr(os, "sched_setaffinity"):
        try:
            import importlib.util as _ilu

            _spec = _ilu.spec_from_file_location(
                "fm_bench_scaling",
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench", "scaling.py"),
            )
            _scaling = _ilu.module_from_spec(_spec)
            sys.modules["fm_bench_scaling"] = _scaling
            _spec.loader.exec_module(_scaling)
            scan = _scaling.fault_scan(sorted(os.sched_getaffinity(0)))
            healthy = [c for c, ms in scan.items() if ms <= _scaling.FAULT_MS_GATE]
            vals = sorted(scan.values())
            health["fault_scan_ms"] = {
                "median": round(vals[len(vals) // 2], 1),
                "max": round(vals[-1], 1),
                "n_healthy": len(healthy),
                "n_scanned": len(scan),
            }
            if len(healthy) >= max(len(scan) // 2, 1):
                os.sched_setaffinity(0, healthy)
                health["pinned_cpus"] = sorted(healthy)
                health["excluded_cpus"] = {
                    str(c): round(ms, 1)
                    for c, ms in scan.items()
                    if ms > _scaling.FAULT_MS_GATE
                }
            # else: a majority-sick window — pinning local[N] threads onto
            # under half the cores would oversubscribe 2×; run unpinned and
            # let the recorded scan stats flag the window instead
        except Exception as exc:  # never let the probe break the bench
            health["excluded_cpus"] = {"probe_error": str(exc)}

    # tmpfs shuffle dir for the local measurement harness only (a cluster
    # keeps its executor-local disks): this sandbox's shared virtio disk
    # and its page-fault windows otherwise add minutes of variance.
    local_dir = "/dev/shm/fm_spark_local"
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        app_name="facematch_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus) if cpus.isdigit() else 32, 8),
        extra_conf={"spark.local.dir": local_dir},
    )
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_files = docs.count()

    # Warm the Python workers / Arrow lanes / exchange+join JIT with a tiny
    # pass of the full dataflow shape before any timed query — the same
    # treatment jobs/scaling_job.py applies and for the same reason: a real
    # cluster's executors are warm long-lived processes, so the first
    # mapInPandas paying 32 Python-worker spawns (~5 s at local[32]) is a
    # local-harness artifact, not operator cost. Measured: the e2e sign
    # stage drops 5.6 s → ~1 s with the warmup; stage telemetry in the
    # "stages" map keeps the split auditable.
    cfg = DedupeConfig(jaccard_threshold=0.5)
    timings: dict[str, float] = {}

    def _drop_leaked_blocks() -> None:
        # localCheckpoint blocks persist until their DataFrame is GC'd —
        # across 20 queries in one session they pile up in block-manager
        # memory and degrade every later query (measured: multimodal_meta
        # 0.55 s fresh vs 30 s late in a leaky session).
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(m.keySet().toArray()):
            m.get(rid).unpersist()
        # release Python-held broadcast handles so the JVM ContextCleaner
        # can drop their blocks too
        import gc

        gc.collect()

    def timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        _drop_leaked_blocks()

    warm_sigs = doc_signatures(docs.limit(256), cfg).localCheckpoint()
    attach_signature_metrics(L.candidate_pairs(warm_sigs, cfg), warm_sigs).count()
    _drop_leaked_blocks()

    # ---- headline: end-to-end dedup dataflow over documents ----
    # Inlines minhash_lsh_pairs' own materialization boundaries (the sigs /
    # pairs localCheckpoints already exist inside the operator) so the bench
    # records per-stage walls at zero extra work — a regression in any later
    # round is attributable to a stage from the BENCH_rN artifact alone.
    stage_walls: dict[str, dict[str, float]] = {}

    def e2e():
        st: dict[str, float] = {}
        t0 = time.perf_counter()
        sigs = doc_signatures(docs, cfg).localCheckpoint()  # eager: materializes
        st["sign_s"] = round(time.perf_counter() - t0, 3)
        t1 = time.perf_counter()
        cands = L.candidate_pairs(sigs, cfg)
        pairs = (
            attach_signature_metrics(cands, sigs)
            .filter(F.col("minhash_est") >= F.lit(cfg.jaccard_threshold))
            .select("id_a", "id_b")
            .localCheckpoint()
        )
        st["pairs_s"] = round(time.perf_counter() - t1, 3)
        t2 = time.perf_counter()
        clusters = connected_components(
            pairs, nodes=docs.select(F.col("doc_id").alias("file_id"))
        )
        clusters.count()
        st["cluster_s"] = round(time.perf_counter() - t2, 3)
        stage_walls["dedupe_e2e"] = st

    timed("dedupe_e2e", e2e)

    # ---- per-query timings over the full contract surface ----
    qs = E.queries()
    bench_queries = [
        "q1_pricing_summary", "q3_top_orders", "q_topk_per_group", "q_window_running",
        "q_agg_stats", "q_events_hourly",
        "dedup_exact_groups", "dedup_ngram_jaccard", "dedup_ngram_jaccard_token",
        "dedup_clusters", "dedup_minhash_lsh", "dedup_simhash", "dedup_containment",
        "text_token_count", "text_quality", "text_langid", "text_fingerprint",
        "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "dedup_embedding_cosine",
        "multimodal_meta", "multimodal_frames", "q_sample_stratified",
        "curation_pipeline", "dedup_decontaminate",
        "dedup_duplicate_spans", "dedup_span_stats", "text_repetition",
        "q_asof_join", "q_range_join", "q_distinct_sketch", "q_percentiles", "q_profile",
        "text_pii_redact", "text_tfidf", "q_cube_metrics", "q_bucketed_join",
        "q_merge_upsert", "q_interval_join", "text_chunk", "q_shard_plan",
        "q_temperature_sample", "text_pack_plan", "dedup_within_doc_spans",
        "q_scd2_history", "q_sample_fixed_n", "q_curation_split", "q_hot_keys",
        "q_histogram", "q_salted_join",
        "q5_region_volume", "dedup_cluster_stats", "streaming_enrich_counts",
        "text_line_dedup", "q_corpus_shuffle", "q_partition_prune",
        "q_rolling_window", "q_funnel", "q_table_diff", "q_outlier_iqr",
        "q_sample_weighted", "q_json_extract", "q_zscore", "q_cooccurrence",
        "q_percent_rank",
        "q_quantile_bins", "q_events_sliding", "q_zorder_layout",
        "q4_order_priority", "q_gapfill_hours", "dedup_snm", "dedup_edit_distance",
        "q_triangle_count", "q_pagerank", "q_retention_cohorts", "q_markov_transitions",
        "q_skyline", "q_expectations", "q_incremental_agg", "q_mode_per_group",
        "q_except_all",
        "q17_small_qty_revenue", "q13_order_count_dist", "q_sketch_merge",
        "q_pareto_revenue", "q_anomaly_mad", "q_array_hof", "q_merge_join_stats",
        "q_regression_slope", "q_link_prediction", "q_gini_diversity",
        "q_kmeans", "q_intersect_all",
    ]
    # Per-stage walls for the heavy dedup rows WITHOUT changing their plans:
    # operators accept walls= and record their OWN eager materialization
    # boundaries (telemetry.py), so the timed wall here IS the black-box
    # entry-query wall (ADVICE r4: the old staged minhash twin added two
    # checkpoints that its verify step re-materialized, making the bench
    # row incomparable round-over-round). The un-marked remainder
    # (lazy candidate join + verify executing at the noop write) is derived
    # as rest_s = total − Σ(marked walls).
    import facematch_spark.operators.dedup as D

    staged_builders = {
        "dedup_ngram_jaccard": lambda st: D.ngram_jaccard_pairs(docs, E.K, E.JT, walls=st),
        "dedup_simhash": lambda st: D.simhash_md5_pairs(docs, k=E.K, hamming_max=8, walls=st),
        "dedup_clusters": lambda st: D.dedup_clusters(docs, E.K, E.JT, walls=st),
        "dedup_minhash_lsh": lambda st: D.minhash_lsh_exact_pairs(docs, E.DOC_CFG, walls=st),
        "dedup_duplicate_spans": lambda st: D.duplicate_spans(docs, k=E.SPAN_K, walls=st),
    }
    # graph rows: same entry dataflow, with the operators' own pin
    # boundaries marked (edges pin / orientation pin / wedge pin).
    import facematch_spark.operators.graph as G

    _lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def _capped_edges():
        from pyspark.sql import functions as F

        ip = _lineitem.select("l_orderkey", "l_partkey").distinct()
        ok = (
            ip.groupBy("l_orderkey").agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= 5).select("l_orderkey")
        )
        ip2 = ip.join(ok, "l_orderkey", "left_semi")
        a, b = ip2.alias("a"), ip2.alias("b")
        return (
            a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
            .distinct()
        )

    staged_builders.update({
        "q_triangle_count": lambda st: G.local_triangle_counts(
            G.copurchase_edges(_lineitem), walls=st),
        "q_pagerank": lambda st: G.pagerank_int(
            G.copurchase_edges(_lineitem), iterations=3, walls=st),
        "q_link_prediction": lambda st: G.link_prediction_ra(
            _capped_edges(), top_k=10, walls=st),
    })

    def timed_staged(name: str) -> None:
        st: dict[str, float] = {}
        t0 = time.perf_counter()
        staged_builders[name](st).write.format("noop").mode("overwrite").save()
        total = round(time.perf_counter() - t0, 3)
        st["rest_s"] = round(total - sum(st.values()), 3)
        timings[name] = total
        stage_walls[name] = st
        _drop_leaked_blocks()

    for name in bench_queries:
        if name in staged_builders:
            timed_staged(name)
            continue
        fn = qs[name]
        timed(name, lambda fn=fn: fn(spark, sf_dir).write.format("noop").mode("overwrite").save())

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "dedupe_e2e_sec",
        "value": timings["dedupe_e2e"],
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_files": n_files,
        "files_per_sec": round(n_files / timings["dedupe_e2e"], 2),
        "total_sec": total,
        "cpus": cpus,
        "stages": stage_walls,
        "cpu_health": health,
    }
    spark.stop()
    return result


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    print(json.dumps(run_bench(sf_dir, cpus)))
