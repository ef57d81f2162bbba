"""Structured Streaming driver tests: each ``availableNow`` query drains
its input across micro-batches and equals the batch form of the same
operator (dedup, joins, windowed counts, the foreachBatch MERGE loop)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_streaming_drivers_remove_staged_input(spark, tmp_path, tmp_path_factory, monkeypatch):
    """A single-file parquet is staged into a temp directory for the file
    stream source; the staged copy is gone once the driver returns, and the
    result (held by the memory sink) is still complete."""
    import tempfile

    import pandas as pd

    from facematch_spark.streaming.incremental import streaming_exact_dedup

    src = str(tmp_path_factory.mktemp("single_file") / "docs.parquet")
    pd.DataFrame({"doc_id": range(6), "text": ["a", "b", "a", "c", "b", "d"]}).to_parquet(src)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = streaming_exact_dedup(spark, src)
    assert os.listdir(tmp_path) == []
    assert out.count() == 4


def test_streaming_exact_dedup_across_batches(spark, tmp_path_factory):
    """Duplicates split ACROSS stream files (hence across micro-batches at
    maxFilesPerTrigger=4) must still emit once — state-store dedup, not
    per-batch distinct — and the row set must equal batch DISTINCT."""
    import pandas as pd

    from facematch_spark.streaming.incremental import streaming_exact_dedup

    d = tmp_path_factory.mktemp("stream_dedup")
    texts_a = [f"unique doc {i}" for i in range(10)] + ["shared alpha", "shared beta"]
    texts_b = ["shared alpha", "shared beta", "only in b", "shared alpha"]
    for name, texts, base in (("a.parquet", texts_a, 0), ("b.parquet", texts_b, 100)):
        pd.DataFrame(
            {"doc_id": range(base, base + len(texts)), "text": texts}
        ).to_parquet(str(d / name))

    out = streaming_exact_dedup(spark, str(d))
    got = {r["fp"] for r in out.collect()}
    expect = {
        r["fp"]
        for r in spark.read.parquet(str(d))
        .select(F.md5("text").alias("fp"))
        .distinct()
        .collect()
    }
    assert got == expect
    assert len(got) == 13  # 10 unique + 2 shared + 1 only-in-b
    assert out.count() == 13  # emitted exactly once each


def test_streaming_dedup_within_watermark(spark, tmp_path_factory):
    """The state-bounded production variant: dropDuplicatesWithinWatermark
    removes duplicates arriving inside the watermark horizon. All fixture
    events fit inside one horizon here, so the emitted set must equal the
    batch distinct of the key."""
    import pandas as pd

    d = tmp_path_factory.mktemp("stream_wm")
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")[["ts", "user_id"]]
    ev.to_parquet(str(d / "ev.parquet"))

    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    deduped = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["user_id"] for r in spark.table("wm_dedup_out").collect()}
    assert got == {int(u) for u in ev["user_id"].unique()}


def test_streaming_join_matches_batch_across_batches(spark, tmp_path_factory):
    """Stream-stream time-bounded inner join: matches split ACROSS stream
    files (hence across micro-batches at maxFilesPerTrigger=1) must still
    pair up from join state, and the emitted row set must equal the batch
    join exactly."""
    import datetime as dt

    import pandas as pd

    from facematch_spark.streaming.incremental import streaming_click_error_join

    d = tmp_path_factory.mktemp("stream_join")
    t0 = dt.datetime(2024, 1, 1)

    def mk(name, rows):
        df = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.Series(
                    [t0 + dt.timedelta(seconds=r[1]) for r in rows],
                    dtype="datetime64[us]",  # Spark can't read NANOS parquet
                ),
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
            }
        )
        df.to_parquet(str(d / name))

    # file a: clicks only; file b: the errors that must join back to them —
    # per-batch joining would find NOTHING (requires cross-batch state).
    mk("a.parquet", [(1, 0, 7, "click"), (2, 100, 7, "click"), (3, 50, 8, "click")])
    mk(
        "b.parquet",
        [
            (10, 200, 7, "error"),   # joins clicks 1 and 2
            (11, 30, 8, "error"),    # click 3 is AFTER it: no match
            (12, 500, 9, "error"),   # no clicks for user 9
            (13, 400, 8, "click"),   # same-batch click for...
            (14, 450, 8, "error"),   # ...this error (and click 3 long before)
        ],
    )

    out = streaming_click_error_join(
        spark, str(d), window_s=1000, max_files_per_trigger=1
    )
    got = {(r["error_id"], r["click_id"]) for r in out.collect()}
    assert got == {(10, 1), (10, 2), (14, 3), (14, 13)}


def test_streaming_static_enrich_matches_batch_across_batches(
    spark, tmp_path_factory
):
    """Stream-static join: with events split over two files (two
    micro-batches at maxFilesPerTrigger=1), every batch joins against the
    SAME static dim and the complete-mode integer aggregation must equal
    the batch join+agg exactly — including an event type that only appears
    in the second batch (the dim is derived from a batch read of the whole
    directory, so it covers types the first micro-batch hasn't seen)."""
    import pandas as pd

    from facematch_spark.streaming.incremental import streaming_static_enrich

    d = tmp_path_factory.mktemp("stream_enrich")

    def mk(name, rows):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "value": [r[2] for r in rows],
            }
        ).to_parquet(str(d / name))

    mk("a.parquet", [(1, "click", 1.25), (2, "view", 2.0), (3, "click", 0.1)])
    mk("b.parquet", [(4, "click", 3.0), (5, "signup", 10.5)])

    out = streaming_static_enrich(spark, str(d), max_files_per_trigger=1)
    got = {(r.event_type, r.n_events, r.weighted_cents) for r in out.collect()}
    # wt = len(event_type); cents = round(value*100) * wt
    assert got == {
        ("click", 3, (125 + 10 + 300) * 5),
        ("view", 1, 200 * 4),
        ("signup", 1, 1050 * 6),
    }


def test_streaming_merge_apply_equals_one_shot(spark, tmp_path):
    # tiny base; delete-then-reinsert spans waves 2 -> 3
    from facematch_spark.operators.merge import merge_upsert
    from facematch_spark.streaming.incremental import streaming_merge_apply
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 11)], "k long, payload string"
    )
    w1 = spark.createDataFrame(
        [(2, "w1", "U", 1), (11, "new", "U", 1)], "k long, payload string, op string, seq long"
    )
    w2 = spark.createDataFrame(
        [(2, "x", "D", 2), (3, "x", "D", 2)], "k long, payload string, op string, seq long"
    )
    w3 = spark.createDataFrame(
        [(2, "w3", "U", 3)], "k long, payload string, op string, seq long"
    )
    got = {
        r.k: r.payload
        for r in streaming_merge_apply(spark, base, [w1, w2, w3], "k").collect()
    }
    one_shot = merge_upsert(
        base, w1.unionByName(w2).unionByName(w3), "k"
    )
    want = {r.k: r.payload for r in one_shot.collect()}
    assert got == want
    assert got[2] == "w3"      # deleted in wave 2, reinserted in wave 3
    assert 3 not in got        # delete sticks
    assert got[11] == "new"    # insert via change stream


def test_streaming_merge_apply_timeout_removes_dirs(spark, tmp_path, monkeypatch):
    """An expired deadline raises TimeoutError and still removes the staged
    waves and the stream checkpoint."""
    import tempfile
    import time
    import types

    from facematch_spark.streaming import incremental

    # the first reading sets the deadline; every later one is past it
    readings = iter([0.0])
    clock = types.SimpleNamespace(time=lambda: next(readings, 1e9), sleep=time.sleep)
    monkeypatch.setattr(incremental, "time", clock)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    base = spark.createDataFrame([(1, "v1")], "k long, payload string")
    waves = [
        spark.createDataFrame([(i, "w", "U", i)], "k long, payload string, op string, seq long")
        for i in range(1, 4)
    ]
    with pytest.raises(TimeoutError):
        incremental.streaming_merge_apply(spark, base, waves, "k")
    left = [p.name for p in tmp_path.iterdir()]
    assert not [n for n in left if n.startswith(("fm_stream_merge_in_", "fm_stream_merge_ckpt_"))]
    assert [n for n in left if n.startswith("fm_stream_merge_state_")]  # made here, so tempdir took


def test_watermark_drops_late_event_in_append_mode(spark, tmp_path):
    # the one watermark behavior the wide-horizon entries never exercise:
    # an event arriving AFTER the watermark passed its window must be
    # dropped from an append-mode windowed aggregation. Two separate runs
    # against ONE checkpoint + durable parquet sink guarantee separate
    # micro-batches AND pin that the watermark persists across a restart
    # (the memory sink cannot recover a checkpoint — found the hard way).
    import datetime as dt
    import os
    import pandas as pd
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def write_wave(name, rows):
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        pdf["ts"] = pd.Series(pdf["ts"], dtype="datetime64[us]")
        pdf.to_parquet(os.path.join(src, name))

    def run_once():
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).parquet(src)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("ws"), "event_type", "n")
        )
        q = (
            agg.writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return sorted((r.ws.hour, r.n) for r in spark.read.parquet(out).collect())

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # run 1: events at hours 0 and 6 -> watermark lands at 5h (6h - 1h);
    # the hour-0 window closes and emits with n=1
    write_wave("000.parquet",
               [(t0, "a", 1.0), (t0 + dt.timedelta(hours=6), "a", 1.0)])
    assert run_once() == [(0, 1)]

    # run 2 (same checkpoint): a late hour-0 event — 4.5h past the restored
    # watermark — plus an on-time hour-7 event. The late row must be
    # DROPPED: the closed hour-0 window is neither re-emitted nor
    # double-counted, and nothing else has crossed the watermark yet.
    write_wave("001.parquet",
               [(t0 + dt.timedelta(minutes=30), "a", 1.0),
                (t0 + dt.timedelta(hours=7), "a", 1.0)])
    assert run_once() == [(0, 1)]


def test_merge_apply_batch_replay_is_idempotent(spark):
    # foreachBatch redelivers a batch when a failure lands between the
    # state overwrite and the checkpoint commit; applying the SAME change
    # batch onto the already-updated state must be a no-op (upsert
    # overwrites with the identical winner; a delete of an absent key
    # stays absent) — this is the sink's exactly-once story.
    from facematch_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 8)], "k long, payload string"
    )
    batch = spark.createDataFrame(
        [(2, "upd", "U", 5), (3, "x", "D", 5), (9, "new", "U", 5)],
        "k long, payload string, op string, seq long",
    )
    once = merge_upsert(base, batch, "k").localCheckpoint()
    twice = merge_upsert(once, batch, "k")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
