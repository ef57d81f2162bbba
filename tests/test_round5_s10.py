"""Round-5 session-9 (cont.) operators: C4-style line-level corpus dedup,
deterministic corpus shuffle, partition-pruned layout.

Each test pins the property the DuckDB value-hash oracle cannot see —
all-boilerplate docs survive as rows, hash-key parity, planning-time
partition pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from facematch_spark.operators.partitioned import daily_event_layout
from facematch_spark.operators.text import line_dedup


@pytest.fixture(scope="module")
def lined_docs(spark):
    hdr = "license: apache-2.0"
    rows = [
        (1, f"{hdr}\nalpha beta\nsig one"),
        (2, f"{hdr}\ngamma delta\nsig two"),
        (3, hdr),                      # all lines boilerplate
        (4, "unique only\nsig four"),  # nothing removed
        (5, "alpha beta\nalpha beta"), # cross-doc dup (doc 1) twice in-doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_dedup_removes_boilerplate_keeps_unique(spark, lined_docs):
    out = {r.doc_id: r for r in line_dedup(lined_docs, min_docs=2).collect()}
    # doc 1 loses the header AND "alpha beta" (it also lives in doc 5)
    assert out[1].clean_text == "sig one"
    assert out[1].n_removed == 2 and out[1].n_lines == 3
    assert out[4].clean_text == "unique only\nsig four"
    assert out[4].n_removed == 0


def test_line_dedup_all_boilerplate_doc_survives_as_row(spark, lined_docs):
    out = {r.doc_id: r for r in line_dedup(lined_docs, min_docs=2).collect()}
    assert out[3].clean_text == "" and out[3].n_removed == 1


def test_line_dedup_counts_docs_not_occurrences(spark, lined_docs):
    # "alpha beta" occurs 3 times but in only 2 DISTINCT docs; with
    # min_docs=3 it must survive everywhere (occurrence-counting would
    # wrongly flag it).
    out = {r.doc_id: r for r in line_dedup(lined_docs, min_docs=3).collect()}
    assert out[5].clean_text == "alpha beta\nalpha beta"
    assert out[1].n_removed == 1  # only the 3-doc header goes at min_docs=3
    # min_docs=2: both in-doc copies of the cross-doc dup line go.
    out2 = {r.doc_id: r for r in line_dedup(lined_docs, min_docs=2).collect()}
    assert out2[5].clean_text == "" and out2[5].n_removed == 2


def test_line_dedup_hash_key_parity(spark, lined_docs):
    a = {tuple(r) for r in line_dedup(lined_docs, hash_lines=False).collect()}
    b = {tuple(r) for r in line_dedup(lined_docs, hash_lines=True).collect()}
    assert a == b


def test_line_dedup_preserves_order(spark):
    docs = spark.createDataFrame(
        [(1, "z\nbp\na"), (2, "bp\nm")], "doc_id long, text string"
    )
    out = {r.doc_id: r.clean_text for r in line_dedup(docs, min_docs=2).collect()}
    assert out[1] == "z\na"  # original order, not sorted content


def test_partition_prune_plans_partition_filters(spark):
    ev = spark.createDataFrame(
        [
            (1, "2024-01-07 10:00:00", "click", 1.0),
            (2, "2024-01-08 11:00:00", "view", 2.0),
            (3, "2024-01-20 12:00:00", "click", 3.0),
        ],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    layout = daily_event_layout(spark, ev)
    pruned = layout.filter(
        F.col("event_date").between(
            F.lit("2024-01-07").cast("date"), F.lit("2024-01-09").cast("date")
        )
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan
    # pruning is planning-time: only the asked dates' files are read
    assert {r.event_id for r in pruned.collect()} == {1, 2}
    scan = pruned.select(F.input_file_name()).distinct().collect()
    assert all("2024-01-20" not in r[0] for r in scan)
    assert len(scan) <= 2


# ---- snapshot_diff ----

from facematch_spark.operators.diff import snapshot_diff


@pytest.fixture(scope="module")
def snap_pair(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "k long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (5, "e"), (4, "")], "k long, v string"
    )
    return old, new


def test_snapshot_diff_statuses(spark, snap_pair):
    old, new = snap_pair
    got = {(r.k, r.status) for r in snapshot_diff(old, new, "k").collect()}
    assert got == {(2, "changed"), (3, "removed"), (5, "added"), (4, "changed")}


def test_snapshot_diff_null_is_not_empty_string(spark, snap_pair):
    # row 4 goes NULL -> '' : the coalesce sentinel must flag it as changed
    # (concat_ws alone would hash both to the same string).
    old, new = snap_pair
    got = {r.k: r.status for r in snapshot_diff(old, new, "k").collect()}
    assert got[4] == "changed"


def test_snapshot_diff_hash_mode_parity(spark, snap_pair):
    old, new = snap_pair
    a = {tuple(r) for r in snapshot_diff(old, new, "k", use_md5=False).collect()}
    b = {tuple(r) for r in snapshot_diff(old, new, "k", use_md5=True).collect()}
    assert a == b


def test_snapshot_diff_rejects_keyonly(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        snapshot_diff(df, df, "k")


# ---- funnel ordering (entry-level property the oracle shares, pinned
# against an independent hand computation) ----

def test_funnel_requires_strict_order(spark, tmp_path):
    import __spark_entry__ as E
    import pandas as pd

    rows = [
        # u1: full ordered funnel
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 11:00:00"),
        (1, "purchase", "2024-01-01 12:00:00"),
        # u2: clicked BEFORE viewing -> stops at stage 1
        (2, "click", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 10:00:00"),
        # u3: view+click, purchase SIMULTANEOUS with click -> strict ts
        # ordering excludes it from stage 3
        (3, "view", "2024-01-01 10:00:00"),
        (3, "click", "2024-01-01 11:00:00"),
        (3, "purchase", "2024-01-01 11:00:00"),
    ]
    pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "event_type": [r[1] for r in rows],
            "ts": pd.to_datetime([r[2] for r in rows]).astype("datetime64[us]"),
        }
    ).to_parquet(tmp_path / "events.parquet")
    out = {r.stage: r.n_users for r in E.queries()["q_funnel"](spark, str(tmp_path)).collect()}
    assert out == {"1_view": 3, "2_click": 2, "3_purchase": 1}


# ---- rolling time-range window frame semantics ----

def test_rolling_window_range_frame(spark):
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [
            (1, 10, "2024-01-01"),
            (2, 10, "2024-01-01"),   # same-day peer: both see both
            (3, 10, "2024-01-31"),   # 30 days after 01-01: inside frame
            (4, 10, "2024-02-01"),   # 31 days after 01-01: outside
        ],
        "o_orderkey long, cust long, d string",
    ).withColumn("ts", F.col("d").cast("timestamp"))
    w = (
        W.partitionBy("cust")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    got = {
        r.o_orderkey: r.s
        for r in df.select("o_orderkey", F.sum("o_orderkey").over(w).alias("s")).collect()
    }
    assert got[1] == 3 and got[2] == 3      # peers include each other
    assert got[3] == 1 + 2 + 3              # 30-day edge inclusive
    assert got[4] == 3 + 4                  # 01-01 rows aged out


# ---- weighted_sample ----

from facematch_spark.operators.sampling import weighted_sample


def test_weighted_sample_zero_weight_never_kept(spark):
    df = spark.createDataFrame(
        [(i, 0 if i % 2 == 0 else 100) for i in range(200)],
        "doc_id long, w long",
    )
    kept = weighted_sample(df, "w").collect()
    assert kept, "some positive-weight rows must be kept"
    assert all(r.w > 0 for r in kept)


def test_weighted_sample_monotone_in_weight(spark):
    # raising every weight (same keys, same salt) can only ADD rows
    lo = spark.createDataFrame(
        [(i, 10 + (i % 50)) for i in range(500)], "doc_id long, w long"
    )
    hi = lo.withColumn("w", F.col("w") + 40)
    # keep w_max identical so per-row rates strictly grow: append one
    # max-weight anchor row to both sides
    anchor = spark.createDataFrame([(10_000, 100)], "doc_id long, w long")
    lo, hi = lo.union(anchor), hi.union(anchor)
    kept_lo = {r.doc_id for r in weighted_sample(lo, "w").collect()}
    kept_hi = {r.doc_id for r in weighted_sample(hi, "w").collect()}
    assert kept_lo <= kept_hi and len(kept_hi) > len(kept_lo)


def test_weighted_sample_partition_invariant(spark):
    df = spark.createDataFrame(
        [(i, 1 + (i % 97)) for i in range(1000)], "doc_id long, w long"
    )
    a = {r.doc_id for r in weighted_sample(df.repartition(2), "w").collect()}
    b = {r.doc_id for r in weighted_sample(df.repartition(16), "w").collect()}
    assert a == b


def test_weighted_sample_rate_tracks_weight(spark):
    # 10k rows at w=25 vs w=100: kept fraction ratio ~ 1/4 (loose bounds)
    df = spark.createDataFrame(
        [(i, 25 if i < 10000 else 100) for i in range(20000)],
        "doc_id long, w long",
    )
    kept = weighted_sample(df, "w").groupBy("w").count().collect()
    frac = {r.w: r["count"] / 10000 for r in kept}
    assert 0.20 < frac[25] < 0.30
    assert frac[100] > 0.99


# ---- z-score sanity (moments from exact ints) ----

def test_zscore_normalizes_per_group(spark):
    import __spark_entry__ as E

    out = (
        E.queries()["q_zscore"](spark, "/root/testdata/sf0.001")
        .groupBy("event_type")
        .agg(F.avg("z").alias("m"), F.stddev_pop("z").alias("s"))
        .collect()
    )
    for r in out:
        assert abs(r.m) < 1e-9 and abs(r.s - 1.0) < 1e-9


# ---- co-occurrence hand check ----

def test_cooccurrence_counts_users_not_events(spark):
    ut = spark.createDataFrame(
        [
            (1, "view"), (1, "view"), (1, "click"),   # u1: repeat views
            (2, "view"), (2, "click"), (2, "click"),
            (3, "view"),
        ],
        "user_id long, event_type string",
    ).distinct()
    a, b = ut.alias("a"), ut.alias("b")
    got = {
        (r.type_a, r.type_b): r.n
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {("click", "view"): 2}
