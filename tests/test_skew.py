"""Skew-handling tests (SURVEY.md §5.5): a corpus where one shingle (a
license-header paragraph) appears in 50% of rows creates hot LSH bands; the
pipeline must complete, the salted triangle join must produce exactly the
same pair set as the plain join, and the max_band_group drop must be the only
recall loss."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from facematch_spark import schema as S
from facematch_spark.config import DedupeConfig
from facematch_spark.fixtures import corpus_to_pandas, generate_corpus
from facematch_spark.operators import lsh as L
from facematch_spark.operators import signatures as SIG


@pytest.fixture(scope="module")
def skew_df(spark):
    corpus = generate_corpus(n_base=60, seed=11, skew=True, edge_rows=False)
    return spark.createDataFrame(corpus_to_pandas(corpus), schema=S.SOURCE_FILES).localCheckpoint()


def test_salted_join_equals_plain_join(spark, skew_df, monkeypatch):
    """Forcing the salting path (HOT_GROUP_CAP=2) must not change the
    candidate pair set vs the plain path (cap high enough that nothing is
    salted) — salting is a physical rewrite, not a semantic one."""
    monkeypatch.setattr(DedupeConfig, "max_band_group", 100_000)
    cfg = DedupeConfig(jaccard_threshold=0.5)
    sigs = SIG.sign_documents(skew_df, cfg).localCheckpoint()

    monkeypatch.setattr(L, "HOT_GROUP_CAP", 100_000)
    plain = {(r.id_a, r.id_b) for r in L.candidate_pairs(sigs, cfg).collect()}
    monkeypatch.setattr(L, "HOT_GROUP_CAP", 2)
    monkeypatch.setattr(L, "SALT_BUCKETS", 4)
    salted = {(r.id_a, r.id_b) for r in L.candidate_pairs(sigs, cfg).collect()}
    assert plain == salted
    assert plain, "skew fixture must produce candidates"


def test_max_band_group_drop_bounds_pairs(spark, skew_df, monkeypatch):
    """With a tiny max_band_group, hot boilerplate bands are dropped from
    candidate generation; output must shrink (bounded work) but planted
    exact dups must survive through their other, non-boilerplate bands."""
    monkeypatch.setattr(L, "HOT_GROUP_CAP", 4)
    cfg = DedupeConfig(jaccard_threshold=0.5)
    sigs = SIG.sign_documents(skew_df, cfg).localCheckpoint()

    # the cap is read when the plan is built
    monkeypatch.setattr(DedupeConfig, "max_band_group", 100_000)
    full = L.candidate_pairs(sigs, cfg)
    monkeypatch.setattr(DedupeConfig, "max_band_group", 8)
    capped = L.candidate_pairs(sigs, cfg)
    n_full, n_capped = full.count(), capped.count()
    assert n_capped <= n_full

    # exact duplicates collide in EVERY band, so even aggressive caps keep
    # them unless all 32 of their bands are hot — check via minhash equality
    exact_sig_pairs = (
        sigs.alias("x")
        .join(sigs.alias("y"), F.col("x.file_id") < F.col("y.file_id"))
        .filter((F.col("x.status") == "ok") & (F.col("y.status") == "ok"))
        .filter(F.col("x.sha256") == F.col("y.sha256"))
        .select(F.col("x.file_id").alias("id_a"), F.col("y.file_id").alias("id_b"))
    )
    missed = exact_sig_pairs.join(capped, ["id_a", "id_b"], "left_anti").count()
    assert missed == 0


def test_size_derived_partitioning_is_lossless(spark, monkeypatch):
    """r6: n_rows/n_build derive the key-exchange partition count
    (bounding the un-spillable shuffled-hash builds at scale — see
    SCALE_r06.md) without changing a single output pair, and the derived
    count lands in the physical plan."""
    import io
    from contextlib import redirect_stdout

    monkeypatch.setattr(L, "HOT_GROUP_CAP", 50)
    monkeypatch.setattr(L, "SALT_BUCKETS", 4)
    rows = spark.range(400).select(
        (F.col("id") % 20).alias("k"), F.col("id").alias("fid")
    )
    base = L.tiered_self_join(rows, keys=["k"], id_col="fid", n_rows=rows.count())
    forced = L.tiered_self_join(rows, keys=["k"], id_col="fid", n_rows=50_000_000)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, forced.collect()))

    expect = max(
        spark.sparkContext.defaultParallelism,
        50_000_000 // L.TIER_ROWS_PER_PARTITION + 1,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        forced.explain()
    assert f", {expect})" in buf.getvalue()  # hashpartitioning(k, <derived>)

    # build groups of 20 above a cap of 10: both plans take the salted tier
    monkeypatch.setattr(L, "HOT_GROUP_CAP", 10)
    probes = spark.range(300).select((F.col("id") % 15).alias("k"), F.col("id").alias("q"))
    build = spark.range(300).select((F.col("id") % 15).alias("k"), F.col("id").alias("b"))
    p_base = L.salted_probe_join(
        probes, build, keys=["k"], left_id="q", right_id="b", n_build=build.count()
    )
    p_forced = L.salted_probe_join(
        probes, build, keys=["k"], left_id="q", right_id="b", n_build=50_000_000
    )
    plain = probes.join(build, "k").select("q", "b")
    assert sorted(map(tuple, p_base.collect())) == sorted(map(tuple, plain.collect()))
    assert sorted(map(tuple, p_base.collect())) == sorted(map(tuple, p_forced.collect()))


def test_ppjoin_partitioning_is_size_derived_and_lossless(spark, tiny_df, monkeypatch):
    """Both PPJoin forms size their prefix join's shuffled-hash build from
    the prefix row count (``PREFIX_ROWS_PER_PARTITION``): with the bound
    lowered so the derived count exceeds ``defaultParallelism``, the
    candidate plan of each form carries that count and the rows of both
    forms are unchanged."""
    import io
    import math
    import re
    from contextlib import redirect_stdout

    from facematch_spark.operators import dedup as D

    k, t = 9, 0.5
    docs = (
        tiny_df.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"), F.col("content").alias("text")
        )
        .filter(F.col("text").isNotNull())
        .localCheckpoint()
    )
    left, right = docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 != 0)

    def rows():
        return (
            sorted(map(tuple, D.ngram_jaccard_pairs(docs, k, t).collect())),
            sorted(map(tuple, D.ngram_jaccard_pairs_between(left, right, k, t).collect())),
        )

    default = rows()
    assert default[0] and default[1], "the fixture must give pairs in both forms"

    # prefix rows: n - ceil(t·n) + 1 per doc with n distinct k-grams; both
    # forms rank the same docs, so both derive the same count
    sizes = D.char_shingles(docs, k).groupBy("doc_id").count().collect()
    n_prefix = sum(r[1] - math.ceil(t * r[1]) + 1 for r in sizes)
    dp = spark.sparkContext.defaultParallelism
    per_part = n_prefix // (3 * dp)
    expect = n_prefix // per_part + 1
    assert expect > dp
    monkeypatch.setattr(D, "PREFIX_ROWS_PER_PARTITION", per_part)

    assert rows() == default

    def hashed(df, *cols):
        return df.select("doc_id", *cols, F.xxhash64("shingle").alias("sh")).localCheckpoint()

    grams = D.char_shingles(docs, k)
    side = (F.col("doc_id") % 2 != 0).cast("int")  # left = 0, right = 1
    for cands in (
        D._ppjoin_candidates(hashed(grams), t),
        D._ppjoin_candidates(hashed(grams.withColumn("_side", side), "_side"), t, cross=True),
    ):
        buf = io.StringIO()
        with redirect_stdout(buf):
            cands.explain()
        counts = re.findall(r"hashpartitioning\(sh#\d+L?, (\d+)\)", buf.getvalue())
        assert counts and set(counts) == {str(expect)}


@pytest.fixture(scope="module")
def skew_sigs(spark):
    corpus = generate_corpus(n_base=200, seed=7, skew=True)
    df = spark.createDataFrame(corpus_to_pandas(corpus), schema=S.SOURCE_FILES)
    return SIG.sign_documents(df, DedupeConfig()).localCheckpoint()


def test_candidates_are_band_slice_collisions(spark, skew_sigs):
    """The candidates are exactly the ok-file pairs whose MinHash slices
    ``minhash[b*r:(b+1)*r]`` are equal in some band ``b``. The oracle never
    hashes, so an off-by-one in the 1-based ``slice`` or a wrong ``band_id``
    breaks the equality whatever the hash function is."""
    cfg = DedupeConfig()
    r = cfg.rows_per_band
    groups: dict[tuple, list[int]] = {}
    for row in skew_sigs.filter(F.col("status") == S.STATUS_OK).select("file_id", "minhash").collect():
        for b in range(cfg.bands):
            groups.setdefault((b, tuple(row.minhash[b * r : (b + 1) * r])), []).append(row.file_id)
    expected = {
        (min(x, y), max(x, y))
        for ids in groups.values()
        for i, x in enumerate(ids)
        for y in ids[i + 1 :]
        if x != y
    }
    got = {(row.id_a, row.id_b) for row in L.candidate_pairs(skew_sigs, cfg).collect()}
    assert expected, "the skew fixture must share band slices"
    assert got == expected


def test_band_plan_has_no_python_stage(spark, skew_sigs, tmp_path):
    """``band_explode`` is one JVM projection: its executed plan over a
    parquet scan holds no Python operator, its schema is unchanged, and the
    band keys repeat under the same ``cfg.seed`` and change under another."""
    import dataclasses

    path = str(tmp_path / "sigs")
    skew_sigs.write.parquet(path)
    sigs = spark.read.schema(S.SIGNATURES).parquet(path)
    cfg = DedupeConfig()
    bands = L.band_explode(sigs, cfg)

    plan = bands._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert bands.schema.simpleString() == "struct<file_id:bigint,band_id:int,band_hash:bigint>"

    def keys(c):
        return sorted(map(tuple, L.band_explode(sigs, c).collect()))

    base = keys(cfg)
    n_ok = sigs.filter(F.col("status") == S.STATUS_OK).count()
    assert len(base) == n_ok * cfg.bands
    assert keys(cfg) == base
    reseeded = keys(dataclasses.replace(cfg, seed=cfg.seed + 1))
    assert [k[:2] for k in reseeded] == [k[:2] for k in base]
    assert {k[2] for k in reseeded}.isdisjoint({k[2] for k in base})
