"""Sources & sinks.

The reference reads a flat directory of images (``Dataset.get_files()``,
``utils.py:117-124``) and persists every derived table as a JSON blob inside
that directory (``utils.py:83-141``). Here the canonical input is an Iceberg
table of ``(repo, path, commit, lang, content)`` and all stage outputs are
columnar tables. Iceberg needs its runtime jar on the classpath — absent in
this sandbox, so the Iceberg path is gated behind a capability probe and
everything falls back to plain Parquet with identical semantics (snapshot
pinning degrades to directory versioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from facematch_spark import schema as S


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # noqa: SLF001 — capability probe
        return True
    except Exception:
        return False


def read_source_files(
    spark: SparkSession, location: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read the input relation. ``location`` is either an Iceberg table name
    (``catalog.db.table``) or a Parquet path. Schema is enforced, never
    inferred; Catalyst pushes lang/path predicates into the scan.

    ``snapshot_id`` pins an Iceberg snapshot (time-travel read) so a resumed
    run re-scans EXACTLY the rows the original run saw — rows appended
    between the original run and the resume cannot slip past the
    already-signed anti-join with a partial view. Resolve the current id
    once at run start with ``current_snapshot_id`` and store it with the
    checkpoint. On the Parquet fallback there is no snapshot isolation;
    resume correctness then rests on the file_id anti-join alone
    (documented degradation)."""
    if "/" not in location and iceberg_available(spark):
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", str(snapshot_id))
        return r.load(location)
    return spark.read.schema(S.SOURCE_FILES).parquet(location)


def current_snapshot_id(spark: SparkSession, table: str) -> int | None:
    """Current Iceberg snapshot id via the ``refs`` metadata table (SQL-only —
    no JVM reflection), or None on the Parquet fallback.

    The ``main`` branch ref IS the table head. The ``snapshots`` metadata
    table is the wrong source: it lists ALL snapshots — staged
    write-audit-publish commits and rolled-back lineages included — so
    ``max(committed_at)`` can name a snapshot the current table state does
    not reference (pinning it would scan data the head rolled away from)."""
    if not iceberg_available(spark):
        return None
    row = spark.sql(
        f"SELECT snapshot_id FROM {table}.refs WHERE name = 'main' AND type = 'BRANCH'"
    ).collect()
    return row[0][0] if row else None


def resolve_snapshot_pin(meta: dict, head_snapshot_id: int | None) -> int | None:
    """Which snapshot a run should pin, given the stored run metadata and the
    table's current head. Pure decision logic (unit-tested without Iceberg):

      * no stored pin            → pin the head (first run on this config);
      * previous run COMPLETE    → re-pin the head, so rows appended since
        then enter through the incremental anti-join (a never-expiring pin
        would freeze the input forever — the pipeline would re-read the
        original snapshot on every rerun and new data could never enter).
        ASSUMES APPEND-ONLY evolution between the pins: a row UPDATED in
        place (same file_id, new content) passes the file_id anti-join
        unsigned, and a row DELETED from the head leaves its stale
        signatures/pairs in the checkpoint. The pipeline DETECTS both on
        every resume (``StageStore.detect_non_append`` — sha256 drift /
        missing-key scan against the checkpointed signatures, wired in
        ``plans/pipeline.py:run_dedupe``) and forces a reset instead of
        silently mixing old and new content;
      * previous run INCOMPLETE  → reuse the stored pin: the resume must
        re-scan exactly the rows the interrupted run saw, or appended rows
        slip past the already-signed anti-join with a partial view.

    ``run_complete`` defaults to True for metadata written before the flag
    existed (legacy pins never expired — exactly the bug this fixes)."""
    stored = meta.get("snapshot_id")
    if stored is None or meta.get("run_complete", True):
        return head_snapshot_id
    return stored


def read_source_files_text(
    spark: SparkSession, location: str, fmt: str = "jsonl", multiline: bool = False
) -> DataFrame:
    """Ingest raw JSONL or CSV drops into the engine's input shape — training
    corpora usually arrive as line-delimited text files, not curated Parquet
    (the reference's analog is the flat directory walk, utils.py:117-124).

    Scale decisions:
      * schema is ENFORCED, never inferred — inference is a second full scan
        of the data before the first real one;
      * one JSON object / CSV record per line (``multiLine`` off by
        default), so the files stay byte-range splittable and a 1 TB drop
        becomes ~8k independent tasks instead of one task per file. CSVs
        whose quoted fields embed newlines are NOT line-splittable — pass
        ``multiline=True`` to parse them correctly at the cost of one task
        per file (prefer JSONL for content with newlines: \\n stays escaped
        in the JSON string, so the format is both lossless and splittable);
      * PERMISSIVE parsing with a ``_corrupt_record`` capture column — a
        malformed line quarantines one ROW, it cannot fail a 128 MB task
        (FAILFAST at 10^12 rows means any single bad byte kills the job).
        Split the result with :func:`split_corrupt`.
    """
    import pyspark.sql.types as T

    from pyspark.sql import functions as F

    # copy the fields — StructType.add MUTATES the receiver in place, which
    # would grow the shared S.SOURCE_FILES schema on every call
    cap = T.StructType(
        list(S.SOURCE_FILES.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    if fmt == "jsonl":
        df = (
            spark.read.schema(cap)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(location)
        )
    elif fmt == "csv":
        df = (
            spark.read.schema(cap)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .option("header", "true")
            .option("escape", '"')
            .option("multiLine", "true" if multiline else "false")
            .csv(location)
        )
    else:
        raise ValueError(f"fmt must be 'jsonl' or 'csv', got {fmt!r}")
    # Spark quirk: a corrupt JSON line yields nulls in EVERY data column plus
    # the raw line in the capture column; a VALID line with explicit nulls
    # keeps the capture column null. Required-column null checks below catch
    # schema-valid-but-incomplete rows (missing repo/path/commit) as corrupt
    # too — the dedup keys cannot be built without them.
    required_null = (
        F.col("repo").isNull() | F.col("path").isNull() | F.col("commit").isNull()
    )
    return df.withColumn(
        "_corrupt_record",
        F.when(
            F.col("_corrupt_record").isNotNull(), F.col("_corrupt_record")
        ).otherwise(F.when(required_null, F.lit("missing required field"))),
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows in SOURCE_FILES shape, quarantined rows with the raw line).

    The clean side drops the capture column so it is plan-identical to a
    Parquet read of the same relation; the quarantine side keeps it for a
    dead-letter sink."""
    ok = df.filter(df["_corrupt_record"].isNull()).drop("_corrupt_record")
    bad = df.filter(df["_corrupt_record"].isNotNull())
    return ok, bad
