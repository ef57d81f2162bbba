"""Benchmark harness. Runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (sec), "unit", "queries": {name: sec}, "sf",
"files_per_sec", "stages", ...}.

The headline metric is one run of the shipped pipeline,
``plans/pipeline.py run_dedupe`` (sign → MinHash/LSH → exact verify →
cluster), over the documents corpus — the BASELINE.json target is files/sec
for exactly this dataflow. Like the CLI, it checkpoints each stage table in
a ``StageStore`` (a fresh one under ``spark.local.dir``, removed afterwards).
Scaling evidence (local[8] vs local[32]) is produced by bench/scaling.py
into BENCH/BASELINE.md.

"stages" is measured from outside the operators with perfbench's span
tracer (perfbench/spans.py): each traced step runs under a Spark job group
of its own, and its entry holds the wall seconds plus the jobs, tasks,
shuffle and spill bytes, task CPU seconds and GC seconds of the jobs it
started, read back from Spark's status store. The "dedupe_e2e" entry also
holds run_dedupe's own stage walls ("sign", "dedupe", "cluster").
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

# span counters copied into the "stages" map
SPAN_COUNTERS = ("wall_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "cpu_s", "gc_s")
# rows whose one span lands in "stages" (the heavy dedup and graph rows)
TRACED_ROWS = (
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_clusters", "dedup_minhash_lsh",
    "dedup_duplicate_spans", "q_triangle_count", "q_pagerank", "q_link_prediction",
)


def _load(name: str, relpath: str):
    """Import a repo script by path (bench/ and perfbench/ are not packages)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, relpath))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def run_bench(sf_dir: str, cpus: str, quiet: bool = True) -> dict:
    import __spark_entry__ as E
    from facematch_spark.config import DedupeConfig
    from facematch_spark.operators.dedup import docs_as_source_files
    from facematch_spark.plans.pipeline import run_dedupe
    from facematch_spark.session import get_spark
    from facematch_spark.sources.checkpoint import StageStore

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
            _scaling = _load("fm_bench_scaling", "bench/scaling.py")
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
        # the span counters are read from the status store after each span;
        # at the session's default retention a row with many jobs would see
        # its stages evicted first (perfbench keeps the same retention)
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )
    tracer = _load("fm_perfbench_spans", "perfbench/spans.py").Tracer(spark, "bench")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_files = docs.count()

    # Warm the Python workers / Arrow lanes / exchange+join JIT with a tiny
    # pass of the full dataflow shape before any timed query — the same
    # treatment jobs/scaling_job.py applies and for the same reason: a real
    # cluster's executors are warm long-lived processes, so the first
    # mapInPandas paying 32 Python-worker spawns (~5 s at local[32]) is a
    # local-harness artifact, not operator cost. Measured: the e2e sign
    # stage drops 5.6 s → ~1 s with the warmup; the "stages" map keeps the
    # split auditable.
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

    def counters(name: str) -> dict:
        # the span's wall stops before its status-store read
        rec = tracer.get(name)
        return {k: round(rec[k], 3) if k.endswith("_s") else rec[k] for k in SPAN_COUNTERS}

    # the stage tables of both runs live in fresh stores under the local
    # dir, as the CLI's live under --out; removed once the headline is read
    store_root = tempfile.mkdtemp(prefix="fm_bench_store_", dir=local_dir)
    try:
        run_dedupe(spark, docs_as_source_files(docs.limit(256)), cfg, StageStore(f"{store_root}/warm", cfg))
        _drop_leaked_blocks()

        # ---- headline: the shipped dedup pipeline over documents ----
        # One span around run_dedupe (sign → LSH → exact verify → cluster,
        # each stage written to and read back from its checkpoint table); its
        # own stage walls (RunResult.times) keep a regression attributable to
        # a step from the BENCH_rN artifact alone.
        with tracer.span("dedupe_e2e"):
            res = run_dedupe(spark, docs_as_source_files(docs), cfg, StageStore(f"{store_root}/run", cfg))
        times = {k: round(v, 3) for k, v in res.times.items()}
        stages: dict[str, dict] = {"dedupe_e2e": {**counters("dedupe_e2e"), **times}}
        timings["dedupe_e2e"] = stages["dedupe_e2e"]["wall_s"]
        del res
        _drop_leaked_blocks()
    finally:
        shutil.rmtree(store_root, ignore_errors=True)

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
    for name in bench_queries:
        fn = qs[name]

        def row(fn=fn):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        if name in TRACED_ROWS:
            with tracer.span(name):
                row()
            stages[name] = counters(name)
            timings[name] = stages[name]["wall_s"]
            _drop_leaked_blocks()
        else:
            timed(name, row)

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
        "stages": stages,
        "cpu_health": health,
    }
    spark.stop()
    return result


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    print(json.dumps(run_bench(sf_dir, cpus)))
