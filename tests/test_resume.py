"""Checkpoint/resume + CLI tests (SURVEY.md §5.3): rerun skips completed
work, --reset truncates, config-keyed tables coexist, outputs are stable
across reruns. Consolidated around two pipeline runs + one CLI subprocess to
keep suite wall-time bounded; a smoke run of the scaling job, the other
subprocess entry point, closes the file."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from facematch_spark import schema as S
from facematch_spark.config import DedupeConfig
from facematch_spark.fixtures import corpus_to_pandas, generate_corpus
from facematch_spark.plans.pipeline import run_dedupe
from facematch_spark.sources.checkpoint import StageStore

CFG = DedupeConfig(jaccard_threshold=0.5)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def small_df(spark):
    corpus = generate_corpus(n_base=20, seed=7, edge_rows=False)
    return spark.createDataFrame(corpus_to_pandas(corpus), schema=S.SOURCE_FILES).localCheckpoint()


@pytest.fixture(scope="module")
def store_and_runs(spark, small_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))
    store = StageStore(root, CFG)
    first = run_dedupe(spark, small_df, CFG, store=store)
    second = run_dedupe(spark, small_df, CFG, store=store)
    return store, first, second


def test_resume_skips_signed_files(spark, small_df, store_and_runs):
    store, first, second = store_and_runs
    assert store.exists("signatures") and store.exists("pairs") and store.exists("clusters")
    # rerun over the same input has zero pending files (utils.py:178-186 analog)
    assert store.pending_inputs(small_df, spark).count() == 0
    # stages read back, results identical
    assert second.counts == first.counts
    a = sorted(map(tuple, first.pairs.select("id_a", "id_b").collect()))
    b = sorted(map(tuple, second.pairs.select("id_a", "id_b").collect()))
    assert a == b
    assert first.counts["files"] == small_df.count()


def test_incremental_detects_new_files(spark, small_df, store_and_runs):
    store, _, _ = store_and_runs
    extra = small_df.limit(3).select(
        F.col("repo"), F.concat(F.col("path"), F.lit(".new")).alias("path"),
        F.col("commit"), F.col("lang"), F.col("content"),
    )
    widened = small_df.unionByName(extra)
    assert store.pending_inputs(widened, spark).count() == 3


def test_non_append_guard(spark, small_df, tmp_path_factory):
    """An update-in-place (same repo/path/commit, new content) forces a full
    recompute of the stage tables; a pure append still resumes
    incrementally (VERDICT r4 #3 — the io.resolve_snapshot_pin append-only
    assumption, now detected instead of documented)."""
    root = str(tmp_path_factory.mktemp("ckpt_guard"))
    store = StageStore(root, CFG)
    run_dedupe(spark, small_df, CFG, store=store)

    # pure append: detector sees no drift, resume skips the signed files
    extra = small_df.limit(2).select(
        F.col("repo"), F.concat(F.col("path"), F.lit(".app")).alias("path"),
        F.col("commit"), F.col("lang"), F.col("content"),
    )
    appended = small_df.unionByName(extra)
    assert store.detect_non_append(appended, spark) == {"updated": 0, "deleted": 0, "pending": 2}
    run_dedupe(spark, appended, CFG, store=store)
    assert store.pending_inputs(appended, spark).count() == 0
    # the append signs only the batch: lineage counts each file once
    lineage = spark.read.parquet(store.path("lineage_sign"))
    assert lineage.agg(F.sum("rows_out")).collect()[0][0] == appended.count()

    # update-in-place: same keys, mutated content on one row
    mutated = appended.withColumn(
        "content",
        F.when(F.col("path") == appended.limit(1).collect()[0]["path"],
               F.concat(F.col("content"), F.lit("\n# mutated")))
        .otherwise(F.col("content")),
    )
    drift = store.detect_non_append(mutated, spark)
    assert drift["updated"] >= 1
    # the CLI writes a text input's malformed rows here before run_dedupe
    quarantine = os.path.join(root, f"quarantine_{CFG.table_suffix()}")
    os.makedirs(quarantine)
    r = run_dedupe(spark, mutated, CFG, store=store)
    assert r.counts.get("non_append_reset", 0) >= 1
    # the checkpoint was rebuilt from the mutated head: every current row
    # signed, and the stored sha256 now matches the mutated content
    assert store.detect_non_append(mutated, spark) == {"updated": 0, "deleted": 0, "pending": 0}
    assert r.counts["files"] == mutated.count()
    # the rebuild dropped the stage tables only, and the lineage with them
    assert os.path.isdir(quarantine)
    lineage = spark.read.parquet(store.path("lineage_sign"))
    assert lineage.agg(F.sum("rows_out")).collect()[0][0] == mutated.count()

    # delete: dropping head rows leaves stale checkpointed signatures
    shrunk = appended.limit(appended.count() - 2)
    assert store.detect_non_append(shrunk, spark)["deleted"] >= 1


def test_crash_after_signing_resumes_to_fresh_result(spark, small_df, tmp_path_factory, monkeypatch):
    """A run that crashes in stage 2, after the batch's signatures commit,
    and then resumes gives the pairs and clusters of a from-scratch run: the
    base run's pairs table is not read back as if it covered the batch."""
    from facematch_spark.operators import lsh as L

    store = StageStore(str(tmp_path_factory.mktemp("ckpt_crash")), CFG)
    run_dedupe(spark, small_df, CFG, store=store)
    batch = small_df.limit(4).select(
        F.col("repo"), F.concat(F.col("path"), F.lit(".new")).alias("path"),
        F.col("commit"), F.col("lang"), F.col("content"),
    )
    widened = small_df.unionByName(batch)

    def crash(*args, **kwargs):
        raise RuntimeError("injected stage-2 crash")

    with monkeypatch.context() as m:
        m.setattr(L, "candidate_pairs", crash)
        with pytest.raises(RuntimeError, match="injected"):
            run_dedupe(spark, widened, CFG, store=store)
    resumed = run_dedupe(spark, widened, CFG, store=store)
    fresh = run_dedupe(spark, widened, CFG, StageStore(str(tmp_path_factory.mktemp("ckpt_fresh")), CFG))

    def rows(df, cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    pair_cols = ["id_a", "id_b", "jaccard", "hamming", "containment", "method"]
    assert rows(resumed.pairs, pair_cols) == rows(fresh.pairs, pair_cols)
    assert rows(resumed.clusters, ["file_id", "cluster_id"]) == rows(fresh.clusters, ["file_id", "cluster_id"])
    # some from-scratch pair crosses the batch, so a stale pairs table differs
    new_ids = {r.file_id for r in batch.select(F.xxhash64("repo", "path", "commit").alias("file_id")).collect()}
    assert any((a in new_ids) != (b in new_ids) for a, b, *_ in rows(fresh.pairs, pair_cols))


def test_pairs_table_with_minhash_est_resumes(spark, small_df, tmp_path_factory):
    """A store whose pairs table still carries the ``minhash_est`` column
    that verification once wrote resumes: the table is read back, not
    rewritten, with exactly the PAIRS columns. The column went without a
    ``config_hash`` or ``KERNEL_VERSION`` change, so the store keeps its key."""
    from pyspark.sql import types as T

    from facematch_spark.functions.hashing import KERNEL_VERSION

    assert (CFG.config_hash, KERNEL_VERSION) == ("10ec291078cb", 2)
    store = StageStore(str(tmp_path_factory.mktemp("ckpt_minhash_est")), CFG)
    first = run_dedupe(spark, small_df, CFG, store=store)
    pdf = first.pairs.toPandas()
    expect = sorted(map(tuple, pdf.itertuples(index=False)))
    pdf.insert(3, "minhash_est", pdf["jaccard"])
    fields = list(S.PAIRS.fields)
    fields.insert(3, T.StructField("minhash_est", T.DoubleType(), True))
    store.write("pairs", spark.createDataFrame(pdf, schema=T.StructType(fields)))

    def files(stage):
        root = store.path(stage)
        return sorted((f, os.stat(os.path.join(root, f)).st_mtime_ns) for f in os.listdir(root))

    before = files("pairs")
    res = run_dedupe(spark, small_df, CFG, store=store)
    assert files("pairs") == before
    assert res.pairs.columns == S.PAIRS.fieldNames()
    assert sorted(map(tuple, res.pairs.collect())) == expect
    assert res.counts == first.counts


def test_metrics_lineage_written(spark, small_df, store_and_runs):
    store, _, _ = store_and_runs
    m = store.read_metrics(spark)
    stages = {r.stage for r in m.collect()}
    assert {"sign", "dedupe", "cluster"} <= stages
    per_part = spark.read.parquet(store.path("lineage_sign"))
    assert per_part.filter(F.col("partition_id").isNotNull()).count() >= 1
    assert per_part.agg(F.sum("rows_out")).collect()[0][0] == small_df.count()


def test_config_keyed_reset_is_isolated(spark, small_df, store_and_runs, tmp_path_factory):
    """Different shingle configs get distinct state (the reference's
    config-suffixed file names, utils.py:56-59); reset() only truncates its
    own config's tables (utils.py:77-81)."""
    store, _, _ = store_and_runs
    cfg2 = DedupeConfig(jaccard_threshold=0.5, k=7)
    s2 = StageStore(store.root, cfg2)
    assert s2.path("signatures") != store.path("signatures")
    assert not s2.exists("signatures")
    s2.write("signatures", spark.read.schema(S.SIGNATURES).parquet(store.path("signatures")))
    assert s2.exists("signatures")
    s2.reset()
    assert not s2.exists("signatures")
    assert store.exists("signatures")


def test_cli_end_to_end(tmp_path_factory):
    """Black-box CLI run in a subprocess (the spark-submit surface)."""
    root = tmp_path_factory.mktemp("cli")
    corpus = generate_corpus(n_base=12, seed=3, edge_rows=False)
    pdf = corpus_to_pandas(corpus)
    inp = str(root / "input.parquet")
    pdf.to_parquet(inp)
    out = str(root / "out")

    def cli(*flags: str) -> tuple[dict, list[str]]:
        res = subprocess.run(
            [sys.executable, "-m", "facematch_spark.cli", inp, "--out", out,
             "--threshold", "0.5", "--master", "local[2]", *flags],
            capture_output=True, text=True, timeout=600, cwd=REPO,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        lines = res.stdout.splitlines()
        return json.loads([l for l in lines if l.startswith("{")][0]), lines

    def stage_dirs() -> set[str]:
        return {d for d in os.listdir(out) if d.startswith(("signatures_", "pairs_", "clusters_"))}

    summary, lines = cli("--report", "--symmetric")
    assert summary["files"] == len(pdf)
    assert summary["findings"] >= 1

    # --symmetric (utils.py:338-347 analog): every pair appears both ways
    import csv
    import glob

    csv_dir = glob.glob(f"{out}/report_csv_*")
    assert csv_dir, "CSV report dir missing"
    seen = set()
    for part in glob.glob(f"{csv_dir[0]}/*.csv"):
        with open(part) as fh:
            for row in csv.DictReader(fh):
                seen.add((row["id_a"], row["id_b"], row["path_a"], row["path_b"]))
    assert seen and all((b, a, pb, pa) in seen for a, b, pa, pb in seen)

    # report settings are not part of the checkpoint key: a rerun that only
    # changes them resumes from the same stage tables
    dirs = stage_dirs()
    rerun, rerun_lines = cli("--report", "--report-threshold", "0.95", "--edges", "3")
    assert stage_dirs() == dirs
    assert rerun["config_hash"] == summary["config_hash"]
    assert rerun["findings"] == summary["findings"]

    # the report threshold reaches every report output: the first run's
    # TOP/BOTTOM lines hold a finding below it, the rerun's hold none
    def edge_jaccards(out_lines: list[str]) -> list[float]:
        return [float(l.split()[3]) for l in out_lines if l.startswith(("TOP ", "BOTTOM "))]

    assert min(edge_jaccards(lines)) < 0.95
    assert edge_jaccards(rerun_lines) and min(edge_jaccards(rerun_lines)) >= 0.95


@pytest.mark.parametrize("stage", ["signatures", "pairs"])
def test_chaos_resume(stage, tmp_path):
    """``tools/chaos_resume.py``: a driver killed right after a stage's
    checkpoint commits resumes to the clean run's pairs and clusters."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "chaos_resume.py"), str(tmp_path / "chaos"),
         "--stage", stage, "--n-base", "15", "--cpus", "2"],
        capture_output=True, text=True, timeout=900, cwd=REPO, env=env,
    )
    lines = [l for l in res.stdout.splitlines() if l.startswith("{")]
    assert lines, res.stderr[-2000:]
    verdict = json.loads(lines[-1])
    assert verdict["pass"], verdict


def test_scaling_job_runs_the_shipped_pipeline(spark, tmp_path):
    """``jobs/scaling_job.py`` reports ``run_dedupe``'s counts under the keys
    ``bench/scaling.py`` reads, and removes the stores its runs checkpoint
    to."""
    inp = str(tmp_path / "corpus.parquet")
    corpus_to_pandas(generate_corpus(n_base=12, seed=3)).to_parquet(inp)
    local = tmp_path / "local"
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY="1g",  # the job pre-touches its whole -Xms heap
        SPARK_LOCAL_DIRS=str(local),
        SCALING_PARTITIONS="8",
    )
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "scaling_job.py"), inp, "2"],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert set(out) == {"files", "wall_s", "files_per_sec", "pairs", "clusters", "cpus", "stages"}
    assert set(out["stages"]) == {"sign_s", "pairs_s", "cluster_s"}
    left = [d for _, dirs, _ in os.walk(local) for d in dirs if d.startswith(("signatures_", "pairs_", "clusters_"))]
    assert not left
    # the job runs at CFG's threshold
    ref = run_dedupe(spark, spark.read.schema(S.SOURCE_FILES).parquet(inp), CFG, StageStore(str(tmp_path / "ref"), CFG))
    assert out["pairs"] == ref.counts["pairs"] >= 1
    assert (out["files"], out["clusters"]) == (ref.counts["files"], ref.counts["clusters"])
