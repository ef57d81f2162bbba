"""End-to-end dedup pipeline: the Spark re-expression of the reference's
four-stage dataflow (``__main__.py:72-152`` local / ``tasks.py:197-236``
Celery):

  job 1  scan → left-anti(resume) → sign → append signatures
  job 2  signatures → band explode → hot-band prune → self-join →
         verify (exact Jaccard / Hamming / containment) → write pairs
  job 3  pairs → connected components (driver union-find / star contraction)
         → write clusters
  job 4  report = read(pairs) → filter/top-k (no recompute — §3.3 analog)

Process/node boundaries are shuffles instead of Pool forks / Celery chords;
inter-stage state travels through checkpoint tables exactly like the
reference's shared-filesystem JSON files (``tasks.py:69, 88, 201``), so any
stage restarts idempotently.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from facematch_spark import schema as S
from facematch_spark.config import DedupeConfig
from facematch_spark.operators import cluster as C
from facematch_spark.operators import lsh as L
from facematch_spark.operators import signatures as SIG
from facematch_spark.operators import verify as V
from facematch_spark.sources.checkpoint import StageStore, split_lineage, with_partition_lineage


@dataclass
class RunResult:
    signatures: DataFrame
    pairs: DataFrame
    clusters: DataFrame
    times: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)


def _chaos_exit(stage: str) -> None:
    """Fault-injection hook (tools/chaos_resume.py): simulate a driver crash
    right after ``stage``'s checkpoint commits — no Spark shutdown, no cleanup."""
    if os.environ.get("FM_CHAOS_EXIT_AFTER") == stage:
        os._exit(137)


def run_dedupe(
    spark: SparkSession,
    source: DataFrame,
    cfg: DedupeConfig,
    store: StageStore,
    silenced: DataFrame | None = None,
) -> RunResult:
    """Run the full pipeline, each stage checkpointed in ``store``. A rerun
    resumes: already-signed files are skipped (left-anti), and a stage whose
    table exists is read back instead of recomputed."""
    times: dict[str, float] = {}
    counts: dict[str, int] = {}

    def stage(name: str, schema, compute) -> DataFrame:
        # a stage table exists only if computed from the current upstream
        # tables (stage 1 deletes both downstream tables before it appends)
        if not store.exists(name):
            store.write(name, compute())
            _chaos_exit(name)
        return store.read(spark, name, schema)

    has_sigs = store.exists("signatures")
    if has_sigs:
        # non-append lineage guard: an update-in-place or delete between the
        # checkpointed run and this head invalidates the whole checkpoint
        # chain (stale signatures/pairs) — stage 1 recomputes it from scratch
        # instead of silently mixing old and new content. Only the stage
        # tables go: a full reset would also drop the quarantine the CLI
        # wrote for this run. Append-only evolution (the normal case)
        # detects as (0, 0) and resumes incrementally.
        drift = store.detect_non_append(source, spark)
        if drift["updated"] or drift["deleted"]:
            counts["non_append_reset"] = drift["updated"] + drift["deleted"]
            has_sigs = False

    # ---- stage 1: signatures (encode analog) ----
    t0 = time.perf_counter()
    if not (has_sigs and drift["pending"] == 0):
        # pairs and clusters were computed without the pending files (and
        # a signatures directory with no _SUCCESS is an uncommitted write):
        # delete them before the append commits, clusters before pairs;
        # without signatures to append to, the whole chain goes
        stale = ("clusters", "pairs") if has_sigs else ("clusters", "pairs", "signatures", "lineage_sign")
        for name in stale:
            shutil.rmtree(store.path(name), ignore_errors=True)
        # pinned once: re-signing for the lineage would rerun the
        # anti-join after the append and see no pending rows
        new_sigs = SIG.sign_documents(store.pending_inputs(source, spark), cfg).localCheckpoint()
        sigs_pid = with_partition_lineage(new_sigs, "sign", cfg.config_hash)
        data, lineage = split_lineage(sigs_pid, "sign", cfg.config_hash)
        data.write.mode("append").parquet(store.path("signatures"))
        lineage.write.mode("append").parquet(store.path("lineage_sign"))
        _chaos_exit("signatures")
        spark.catalog.refreshByPath(store.path("signatures"))
    sigs = store.read(spark, "signatures", S.SIGNATURES)
    counts["files"] = sigs.count()
    times["sign"] = time.perf_counter() - t0

    # ---- stage 2: LSH candidates + verification (dedupe analog) ----
    # new files always enter candidate generation + verification (the
    # reference likewise re-dedupes ALL encodings, __main__.py:118-127)
    t0 = time.perf_counter()
    pairs = stage(
        "pairs",
        S.PAIRS,
        lambda: V.apply_silenced(
            V.verify_candidates(L.candidate_pairs(sigs, cfg), sigs, SIG.explode_shingles(source, cfg), cfg),
            silenced,
        ),
    )
    counts["pairs"] = pairs.count()
    times["dedupe"] = time.perf_counter() - t0

    # ---- stage 3: clustering ----
    t0 = time.perf_counter()
    clusters = stage("clusters", S.CLUSTERS, lambda: C.connected_components(pairs, nodes=sigs.select("file_id")))
    # each component has exactly one row labelled with its own (minimum) id
    counts["clusters"] = clusters.filter(F.col("file_id") == F.col("cluster_id")).count()
    times["cluster"] = time.perf_counter() - t0

    rows_key = {"sign": "files", "dedupe": "pairs", "cluster": "clusters"}
    store.append_metrics(
        spark,
        [{"stage": k, "rows_out": counts[rows_key[k]], "wall_ms": v * 1000.0} for k, v in times.items()],
    )

    return RunResult(signatures=sigs, pairs=pairs, clusters=clusters, times=times, counts=counts)


def report_pairs(pairs: DataFrame, signatures: DataFrame, threshold: float) -> DataFrame:
    """Report-time re-query (§3.3 analog): re-threshold + attach paths.
    Reads only checkpointed pairs; never recomputes similarity. The report
    threshold is an argument, not a ``DedupeConfig`` field, so changing it
    leaves the checkpoint key (``config_hash``) alone."""
    names = signatures.select("file_id", F.concat_ws("/", "repo", "path").alias("full_path"))
    a = names.alias("na")
    b = names.alias("nb")
    return (
        pairs.filter(F.col("jaccard") >= F.lit(threshold))
        .join(a, pairs.id_a == F.col("na.file_id"))
        .join(b, pairs.id_b == F.col("nb.file_id"))
        .select(
            "id_a",
            "id_b",
            F.col("na.full_path").alias("path_a"),
            F.col("nb.full_path").alias("path_b"),
            "jaccard",
            "hamming",
            "containment",
            "method",
        )
        .orderBy(F.desc("jaccard"))
    )
