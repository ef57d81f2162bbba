"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY.md §2.9); this module provides
the engine's custom-stateful-operator surface (driver brief: "custom stateful
operators via applyInPandasWithState"): a per-user running aggregate whose
state (event count, value sum, last timestamp) survives across micro-batches.

Used for e.g. incremental per-repo dedup bookkeeping: the same shape tracks
"signatures seen per repo" when signing a stream of commits.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from facematch_spark.streaming.incremental import stream_source

OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("sum_value", T.DoubleType(), False),
    ]
)

STATE = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("s", T.DoubleType(), False),
    ]
)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]})


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Streaming DataFrame → per-user running totals with explicit state.
    Works only under writeStream (stateful op); batch twin below."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update, OUTPUT, STATE, "update", GroupStateTimeout.NoTimeout
    )


def batch_user_totals(events: DataFrame) -> DataFrame:
    """Batch twin used as the correctness oracle."""
    return events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def run_stateful_user_totals(spark: SparkSession, parquet_path: str) -> DataFrame:
    """Drive the stateful operator under the streaming engine: two
    micro-batches (maxFilesPerTrigger=1 over a 2-file staging dir would be
    ideal; with one file we still exercise state create+update within the
    run), availableNow to completion, memory sink, return the final per-key
    rows (update mode ⇒ last emit per key wins)."""
    schema = spark.read.parquet(parquet_path).schema
    with stream_source(parquet_path) as src:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = stateful_user_totals(stream)
        name = f"stateful_out_{abs(hash(src)) % 10_000_000}"
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # update-mode memory sink appends every emitted row; keep each key's last
    all_rows = spark.table(name).withColumn("_ord", F.monotonically_increasing_id())
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("_ord"))
    return (
        all_rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )
