"""Structured Streaming surface.

The reference has no data streaming (its Celery queues carry tasks, not
rows — ``c.py:4-21``; chords are barriers, not windows — SURVEY.md §2.9).
The generic streaming-operator capabilities belong in the engine anyway:
event-time windows with late data, exactly-once dedup, stream-stream and
stream-static joins and a ``foreachBatch`` MERGE apply loop, each exercised
against the driver's tables under ``availableNow``. Incremental signing is
not a stream here: ``plans/pipeline.run_dedupe`` signs only the files its
checkpoint has not seen (the batch analog of the reference's
``pre_encodings`` skip, ``utils.py:178-186``).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with a watermark for late data.
    Works identically on a stream (readStream) or a batch DataFrame — the
    batch form is what the SQL oracle checks."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@contextmanager
def stream_source(parquet_path: str) -> Iterator[str]:
    """Directory to ``readStream`` ``parquet_path`` from. The file stream
    source requires a directory, so a single-file input is copied into a
    fresh temp directory, removed on exit (once the query has stopped, the
    memory sink already holds the rows); a directory is used as is."""
    if not os.path.isfile(parquet_path):
        yield parquet_path
        return
    staged = tempfile.mkdtemp(prefix="fm_stream_")
    try:
        shutil.copy(parquet_path, staged)
        yield staged
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def run_streaming_event_counts(spark: SparkSession, parquet_path: str) -> DataFrame:
    """Drive the windowed aggregation as an actual Structured Streaming query
    over the events parquet (availableNow → memory sink → final table).
    Proves the operator works under the streaming engine, then returns the
    result as a normal DataFrame for comparison."""
    schema = spark.read.parquet(parquet_path).schema
    with stream_source(parquet_path) as src:
        stream = spark.readStream.schema(schema).parquet(src)
        # watermarks require TIMESTAMP (LTZ); parquet may carry NTZ — with the
        # session pinned to UTC the cast is wall-clock-preserving.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        agg = windowed_event_counts(stream)
        name = f"stream_out_{abs(hash(src)) % 10_000_000}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def streaming_exact_dedup(spark: SparkSession, parquet_path: str) -> DataFrame:
    """Streaming exact deduplication: fingerprint each arriving document
    (md5 over text — the reference's pair-key trick per doc) and emit each
    distinct fingerprint exactly once via the streaming state-store dedup
    operator (``dropDuplicates``). Output is projected to the key column
    only, so the emitted ROW SET is deterministic regardless of arrival
    order (which payload row arrives first is not).

    State note for real streams: unbounded ``dropDuplicates`` state grows
    with distinct keys (~16 B/key here — 16 TB at 10^12 docs, spread over
    the cluster's state stores but unbounded in time). Production streams
    bound it with ``withWatermark + dropDuplicatesWithinWatermark`` —
    exactly-once within the watermark horizon, re-emission possible past it
    (semantics pinned in ``tests/test_streaming_incremental.py``). For the
    drain-a-directory ``availableNow`` shape here, the unbounded form is
    the correct one: it IS the batch-distinct answer.
    """
    schema = spark.read.parquet(parquet_path).schema
    with stream_source(parquet_path) as src:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(src)
        )
        fps = stream.select(F.md5("text").alias("fp")).dropDuplicates(["fp"])
        name = f"stream_dedup_{abs(hash(src)) % 10_000_000}"
        q = (
            fps.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def streaming_click_error_join(
    spark: SparkSession,
    parquet_path: str,
    window_s: int = 86400,
    watermark: str = "3650 days",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream time-bounded inner join under the real engine: attribute
    each 'error' event to the same user's preceding 'click' events within
    ``window_s`` — the funnel/attribution join, the canonical stream-stream
    shape (both sides watermarked, time-range condition bounding state).

    The inner-join row SET is deterministic (every pair satisfying the
    predicate, regardless of micro-batch arrival order) **provided no row is
    dropped as late**, so the entry runs a watermark far wider than the
    corpus span — state is then never pruned and the result provably equals
    the batch join (the DuckDB oracle). Production tunes ``watermark`` to
    the stream's real disorder bound + ``window_s``; the engine prunes both
    sides' state past ``max(event time) - watermark - window``, which is
    exactly what makes this join runnable forever at 100 TB/day — state is
    O(events in the horizon), not O(stream). The completeness/state
    trade-off is the watermark parameter, not the operator.

    Join-state note: each side's state store holds its watermark horizon,
    keyed by the equi keys (user_id) — a hot user is state-store skew, same
    mitigation as any keyed state (wider horizon sharding via salting the
    user into k sub-keys and probing all k, at k× probe cost).
    """
    schema = spark.read.parquet(parquet_path).schema
    with stream_source(parquet_path) as src:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(src).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", watermark)
        )
        errors = (
            stream.filter(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("error_id"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"),
            )
            .withWatermark("e_ts", watermark)
        )
        joined = errors.join(
            clicks,
            (F.col("c_user") == F.col("e_user"))
            & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {window_s} SECOND"))
            & (F.col("c_ts") < F.col("e_ts")),
            "inner",
        ).select("error_id", "click_id", F.col("e_user").alias("user_id"))
        name = f"stream_join_{abs(hash(src)) % 10_000_000}"
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def streaming_static_enrich(
    spark: SparkSession,
    parquet_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-static join under the real engine — the enrichment shape every
    production stream runs (events against a slowly-changing dimension):
    the event stream joins a broadcast STATIC dim (here: per-event-type
    weights, derived once from a batch read), then aggregates exact integer
    cents per type in complete mode.

    Semantics the batch oracle can verify: a stream-static inner join is
    stateless (each micro-batch joins against the dim as of that batch; the
    dim here is immutable), and the complete-mode aggregation over integer
    cents is order-independent — so the final table equals the batch
    join+agg bit-for-bit.

    Scale note: Spark re-plans the static side each micro-batch — a
    broadcast dim is re-broadcast per trigger (fine for true dims; snapshot
    and cache it for fat ones), and updates to the underlying dim files
    between triggers are picked up, which is exactly the
    slowly-changing-dimension behavior wanted.
    """
    batch = spark.read.parquet(parquet_path)
    schema = batch.schema
    dim = (
        batch.select("event_type").distinct()
        .withColumn("wt", F.length("event_type").cast("long"))
    )
    with stream_source(parquet_path) as src:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(src)
        enriched = stream.join(F.broadcast(dim), "event_type").select(
            "event_type",
            (F.round(F.col("value") * 100, 0).cast("long") * F.col("wt")).alias("cents"),
        )
        agg = enriched.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("weighted_cents"),
        )
        name = f"stream_enrich_{abs(hash(src)) % 10_000_000}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def streaming_merge_apply(
    spark: SparkSession,
    base: DataFrame,
    change_waves: list[DataFrame],
    key: str,
) -> DataFrame:
    """Streaming CDC apply loop — the foreachBatch MERGE pattern every
    Delta/Iceberg streaming sink runs: a change stream is applied wave by
    wave onto a persisted snapshot table, each micro-batch running ONE
    ``merge_upsert`` (operators/merge.py — map-side-combinable, no window)
    against the current state and atomically replacing it.

    Mechanics: each wave is staged as one parquet file with increasing
    mtimes; the file source with ``maxFilesPerTrigger=1`` yields one
    micro-batch per wave in order. Within a batch, (key, seq) uniqueness
    makes the merge deterministic; across batches, in-order application
    plus latest-seq-wins makes the final snapshot equal the ONE-SHOT merge
    of all waves — which is exactly what the batch oracle computes, so
    hash-green proves the apply loop neither loses nor reorders changes
    (including delete-then-reinsert ACROSS batches). The new state is
    ``localCheckpoint``-ed (eager) before the overwrite so the state dir
    is never rewritten under a lazy plan that still reads it.

    Scale note: with a table format (Delta/Iceberg) the overwrite becomes
    a transactional MERGE commit and the state read a snapshot read; the
    dataflow inside the loop is unchanged.
    """
    import atexit

    from facematch_spark.operators.merge import merge_upsert

    stage_dir = tempfile.mkdtemp(prefix="fm_stream_merge_in_")
    state_dir = os.path.join(
        tempfile.mkdtemp(prefix="fm_stream_merge_state_"), "state"
    )
    ckpt_dir = tempfile.mkdtemp(prefix="fm_stream_merge_ckpt_")
    # the state dir must outlive this call (the returned DataFrame reads it
    # lazily), so it goes at interpreter exit
    atexit.register(
        shutil.rmtree, os.path.dirname(state_dir), ignore_errors=True
    )
    try:
        change_schema = change_waves[0].schema
        for i, wave in enumerate(change_waves):
            wdir = os.path.join(stage_dir, f"w{i}")
            wave.coalesce(1).write.mode("overwrite").parquet(wdir)
            part = next(
                f for f in sorted(os.listdir(wdir)) if f.endswith(".parquet")
            )
            dst = os.path.join(stage_dir, f"{i:03d}.parquet")
            os.rename(os.path.join(wdir, part), dst)
            os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
            shutil.rmtree(wdir)  # keep the listing to exactly the wave files

        base.write.mode("overwrite").parquet(state_dir)

        def _apply(batch_df, _bid):
            state = spark.read.parquet(state_dir)
            nxt = merge_upsert(state, batch_df, key).localCheckpoint()
            nxt.write.mode("overwrite").parquet(state_dir)

        q = (
            spark.readStream.schema(change_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 300
        while q.isActive and time.time() < deadline:
            time.sleep(0.2)
        if q.isActive:
            # ADVICE r5: returning the snapshot here would silently yield a
            # partially-applied state. Stop the stream and fail loudly.
            q.stop()
            raise TimeoutError(
                "streaming_merge_apply: availableNow stream still active after "
                "300 s deadline — state is partially applied"
            )
        q.awaitTermination(5)
    finally:
        # the staged waves and the stream checkpoint are dead once the
        # stream has stopped — on success, timeout or error alike
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    return spark.read.parquet(state_dir)
