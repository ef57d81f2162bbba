"""Checkpointed stage tables + idempotent resume + per-partition lineage.

Mirrors the reference's state-file design (``utils.py:56-141``): every stage
output is keyed by the run config (there: ``_{prefix}_{model}_{backend}.json``
file names; here: config_hash-suffixed table directories), a restarted run
skips work already done (there: ``pre_encodings`` skip in ``encode_faces``,
``utils.py:178-186``; here: left-anti join against the existing signatures
table), and ``reset()`` (``utils.py:77-81``) becomes directory truncation.

Lineage/metrics per north rule: the signing write also appends one row
per partition, ``(stage, config_hash, partition_id, rows_out)`` in the
``run_metrics`` schema, to a ``lineage_sign`` table. Rows are tagged with ``spark_partition_id`` before the write and
counted per partition with one ``groupBy`` (``with_partition_lineage`` /
``split_lineage``), so partition counts are those of the partitions the
work ran in. Each run also appends one ``(stage, rows_out, wall_ms)`` row
per stage to a ``run_metrics`` table (``append_metrics``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from facematch_spark import schema as S
from facematch_spark.config import DedupeConfig


class StageStore:
    """Filesystem-backed checkpoint store for one run config."""

    def __init__(self, root: str, cfg: DedupeConfig) -> None:
        self.root = root
        self.cfg = cfg

    def path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}_{self.cfg.table_suffix()}")

    def exists(self, stage: str) -> bool:
        p = self.path(stage)
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    def reset(self) -> None:
        """Drop all stage tables for this config (CLI --reset; utils.py:77-81)."""
        if os.path.isdir(self.root):
            suffix = self.cfg.table_suffix()
            for d in os.listdir(self.root):
                full = os.path.join(self.root, d)
                if d.endswith(suffix):
                    shutil.rmtree(full, ignore_errors=True)
                elif d == f"runmeta_{suffix}.json":
                    os.unlink(full)

    # ---- run metadata (snapshot pinning; S1 Iceberg idempotent resume) ----

    def save_run_meta(self, meta: dict) -> None:
        """Persist small run metadata (e.g. the pinned Iceberg snapshot_id)
        keyed by config, so a resumed run re-reads the SAME table snapshot
        the original run saw."""
        import json

        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, f"runmeta_{self.cfg.table_suffix()}.json"), "w") as f:
            json.dump(meta, f)

    def load_run_meta(self) -> dict:
        import json

        p = os.path.join(self.root, f"runmeta_{self.cfg.table_suffix()}.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def write(self, stage: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.path(stage))

    def read(self, spark: SparkSession, stage: str, schema=None) -> DataFrame:
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(self.path(stage))

    # ---- incremental resume (J2 analog, utils.py:178-186) ----

    def pending_inputs(self, inputs: DataFrame, spark: SparkSession) -> DataFrame:
        """Rows of ``inputs`` not yet present in the signatures checkpoint —
        a key-only left-anti join, the Spark form of the reference's
        ``if file in pre_encodings: existing += 1; continue``."""
        if not self.exists("signatures"):
            return inputs
        done = self.read(spark, "signatures", S.SIGNATURES).select("file_id")
        with_id = inputs.withColumn("file_id", F.xxhash64("repo", "path", "commit"))
        return with_id.join(done, "file_id", "left_anti").drop("file_id")

    def detect_non_append(self, inputs: DataFrame, spark: SparkSession) -> dict:
        """Detect non-append evolution of the source between the checkpointed
        run and the current head: rows UPDATED in place (same
        (repo, path, commit) → same file_id, different content) would pass
        the key-only resume anti-join unsigned, and rows DELETED from the
        head would leave stale signatures/pairs in the checkpoint — either
        silently mixes old and new content (``io.resolve_snapshot_pin``
        documents the append-only assumption; this closes it with detection).

        The check rides the per-row sha256 invariant the signatures table
        already stores (north rule: content sha256 equality at every stage
        boundary): ``updated`` = head rows whose file_id is checkpointed with
        a DIFFERENT sha256; ``deleted`` = checkpointed file_ids absent from
        the head; ``pending`` = head rows whose file_id is not checkpointed
        (the rows ``pending_inputs`` returns; reported only when a checkpoint
        exists). One sha256 projection over the head scan (cheap next to
        signing, and only on resume-with-checkpoint) + one full-outer join
        on file_id of (file_id, sha256) longs/strings, counted in a single
        aggregate — no content moves. Works identically on the Iceberg and
        Parquet paths (needs no snapshot metadata)."""
        if not self.exists("signatures"):
            return {"updated": 0, "deleted": 0}
        done = self.read(spark, "signatures", S.SIGNATURES).select("file_id", "sha256")
        head = inputs.select(
            F.xxhash64("repo", "path", "commit").alias("file_id"),
            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("head_sha"),
        )
        agg = (
            done.join(head, "file_id", "full_outer")
            .agg(
                F.count(
                    F.when(
                        F.col("head_sha").isNotNull()
                        & F.col("sha256").isNotNull()
                        & (F.col("head_sha") != F.col("sha256")),
                        1,
                    )
                ).alias("updated"),
                F.count(
                    F.when(F.col("head_sha").isNull() & F.col("sha256").isNotNull(), 1)
                ).alias("deleted"),
                F.count(F.when(F.col("sha256").isNull(), 1)).alias("pending"),
            )
            .collect()[0]
        )
        return {"updated": agg["updated"], "deleted": agg["deleted"], "pending": agg["pending"]}

    def merge_signatures(self, new_sigs: DataFrame, spark: SparkSession) -> DataFrame:
        """Union new signatures with the checkpointed ones (A1 analog —
        the reference's ChainMap dict merge, tasks.py:143). ``run_dedupe``
        appends instead; perfbench/run.py's traced pass calls this until
        ROADMAP item 6 retires that pass."""
        if not self.exists("signatures"):
            return new_sigs
        old = self.read(spark, "signatures", S.SIGNATURES)
        return old.unionByName(new_sigs).dropDuplicates(["file_id"])

    # ---- lineage metrics ----

    def append_metrics(self, spark: SparkSession, rows: list[dict]) -> None:
        if not rows:
            return
        df = spark.createDataFrame(
            [
                (
                    r["stage"],
                    self.cfg.config_hash,
                    r.get("partition_id"),
                    r.get("rows_in"),
                    r.get("rows_out"),
                    r.get("wall_ms"),
                    r.get("extra"),
                )
                for r in rows
            ],
            schema=S.RUN_METRICS,
        )
        df.write.mode("append").parquet(os.path.join(self.root, "run_metrics"))

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(S.RUN_METRICS).parquet(os.path.join(self.root, "run_metrics"))


def with_partition_lineage(df: DataFrame, stage: str, config_hash: str) -> DataFrame:
    """Tag each row with its physical partition id (``spark_partition_id``)
    so ``split_lineage`` can aggregate per-partition row counts into lineage
    rows ``(stage, config_hash, partition_id, rows_out, ...)`` — partition
    metrics observed where the work happened (north rule), at the cost of
    one narrow aggregation."""
    return df.withColumn("_pid", F.spark_partition_id())


def split_lineage(df_with_pid: DataFrame, stage: str, config_hash: str):
    data = df_with_pid.drop("_pid")
    lineage = (
        df_with_pid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .select(
            F.lit(stage).alias("stage"),
            F.lit(config_hash).alias("config_hash"),
            F.col("_pid").cast("int").alias("partition_id"),
            F.lit(None).cast("long").alias("rows_in"),
            F.col("rows_out").cast("long").alias("rows_out"),
            F.lit(None).cast("double").alias("wall_ms"),
            F.lit(None).cast("string").alias("extra"),
        )
    )
    return data, lineage
