"""End-to-end dedup pipeline: the Spark re-expression of the reference's
four-stage dataflow (``__main__.py:72-152`` local / ``tasks.py:197-236``
Celery):

  job 1  scan → left-anti(resume) → sign → write signatures
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
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from facematch_spark import schema as S
from facematch_spark.config import DedupeConfig
from facematch_spark.operators import cluster as C
from facematch_spark.operators import lsh as L
from facematch_spark.operators import signatures as SIG
from facematch_spark.operators import verify as V
from facematch_spark.sources.checkpoint import StageStore, StageTimer, split_lineage, with_partition_lineage


@dataclass
class RunResult:
    signatures: DataFrame
    pairs: DataFrame
    clusters: DataFrame
    times: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)


def run_dedupe(
    spark: SparkSession,
    source: DataFrame,
    cfg: DedupeConfig,
    store: StageStore | None = None,
    silenced: DataFrame | None = None,
    reset: bool = False,
) -> RunResult:
    """Run the full pipeline. With a ``store``, each stage is checkpointed and
    a rerun resumes: already-signed files are skipped (left-anti), finished
    stages are read back instead of recomputed."""
    timer = StageTimer()
    counts: dict[str, int] = {}

    if store is not None and reset:
        store.reset()
    elif store is not None and store.exists("signatures"):
        # non-append lineage guard: an update-in-place or delete between the
        # checkpointed run and this head invalidates the whole checkpoint
        # chain (stale signatures/pairs) — force a clean recompute instead of
        # silently mixing old and new content. Append-only evolution (the
        # normal case) detects as (0, 0) and resumes incrementally.
        drift = store.detect_non_append(source, spark)
        if drift["updated"] or drift["deleted"]:
            counts["non_append_reset"] = drift["updated"] + drift["deleted"]
            store.reset()

    # ---- stage 1: signatures (encode analog) ----
    timer.start("sign")
    has_new = False  # did stage 1 sign anything not in the checkpoint?
    if store is not None:
        pending = store.pending_inputs(source, spark)
        has_ckpt = store.exists("signatures")
        if has_ckpt and pending.isEmpty():
            # nothing new — reuse the checkpoint untouched (idempotent rerun)
            sigs = store.read(spark, "signatures", S.SIGNATURES)
        else:
            has_new = True
            new_sigs = SIG.sign_documents(pending, cfg)
            merged = store.merge_signatures(new_sigs, spark)
            # the merge plan reads the table we are about to overwrite —
            # materialize it first (eager localCheckpoint) so the overwrite
            # cannot delete files out from under its own scan
            merged = merged.localCheckpoint()
            sigs_pid = with_partition_lineage(merged, "sign", cfg.config_hash)
            data, lineage = split_lineage(sigs_pid, "sign", cfg.config_hash)
            store.write("signatures", data)
            lineage.write.mode("append").parquet(store.path("lineage_sign"))
            spark.catalog.refreshByPath(store.path("signatures"))
            sigs = store.read(spark, "signatures", S.SIGNATURES)
    else:
        sigs = SIG.sign_documents(source, cfg)
        sigs = sigs.localCheckpoint()  # materialize once; reused by 3 stages
    counts["files"] = sigs.count()
    timer.stop()

    # ---- stage 2: LSH candidates + verification (dedupe analog) ----
    # the pairs checkpoint is only valid if stage 1 signed NOTHING new:
    # newly added files must enter candidate generation + verification, so
    # any non-empty pending set invalidates the cached pair relation (the
    # reference likewise re-runs dedupe over ALL encodings after an
    # incremental encode, __main__.py:118-127)
    timer.start("dedupe")
    if store is not None and store.exists("pairs") and not reset and not has_new:
        pairs = store.read(spark, "pairs", S.PAIRS)
    else:
        cands = L.candidate_pairs(sigs, cfg)
        shingles = SIG.explode_shingles(source, cfg)
        pairs = V.verify_candidates(cands, sigs, shingles, cfg)
        pairs = V.apply_silenced(pairs, silenced)
        if store is not None:
            store.write("pairs", pairs)
            if os.environ.get("FM_CHAOS_EXIT_AFTER") == "pairs":
                # fault-injection hook (tools/chaos_resume.py): simulate a
                # driver crash immediately after the pairs checkpoint commits
                # — no Spark shutdown, no cleanup, exactly like a lost node
                os._exit(137)
            pairs = store.read(spark, "pairs", S.PAIRS)
        else:
            pairs = pairs.localCheckpoint()
    counts["pairs"] = pairs.count()
    timer.stop()

    # ---- stage 3: clustering ----
    timer.start("cluster")
    clusters = C.connected_components(pairs, nodes=sigs.select("file_id"))
    if store is not None:
        store.write("clusters", clusters)
        clusters = store.read(spark, "clusters", S.CLUSTERS)
    else:
        clusters = clusters.localCheckpoint()
    counts["clusters"] = clusters.select("cluster_id").distinct().count()
    timer.stop()

    if store is not None:
        store.append_metrics(
            spark,
            [
                {"stage": k, "rows_out": counts.get({"sign": "files", "dedupe": "pairs", "cluster": "clusters"}[k]), "wall_ms": v * 1000.0}
                for k, v in timer.times.items()
            ],
        )

    return RunResult(signatures=sigs, pairs=pairs, clusters=clusters, times=dict(timer.times), counts=counts)


def report_pairs(pairs: DataFrame, signatures: DataFrame, threshold: float) -> DataFrame:
    """Report-time re-query (§3.3 analog): re-threshold + attach paths.
    Reads only checkpointed pairs; never recomputes similarity. The report
    threshold is an argument, not a ``DedupeConfig`` field, so changing it
    leaves the checkpoint key (``config_hash``) alone."""
    names = signatures.select(
        "file_id",
        F.concat_ws("/", "repo", "path").alias("full_path"),
        F.element_at(F.split("path", "/"), -1).alias("basename"),
    )
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
