"""Both sides of every verify gate give the same rows.

``verify.exact_overlap`` is the one exact tier; ``verify_candidates`` joins
the candidate files' SimHash onto its output for the Hamming distance. Each
case forces one size gate to the branch the test fixtures never reach on
their own (at scale, the shuffle plans: ``ATTACH_BROADCAST_IDS_MAX`` flips
both the candidate-id cut and the SimHash join) and asserts
bit-identical rows — pairs AND metric doubles — against the default plans,
for the PPJoin query and for ``run_dedupe``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from facematch_spark.config import DedupeConfig

# a high Jaccard bar (and exact-SimHash only, set in _pipeline), so part of
# the run_dedupe output is admitted by containment alone
PIPELINE_CFG = DedupeConfig(jaccard_threshold=0.97)


@pytest.fixture(scope="module")
def docs_df(spark):
    from facematch_spark import schema as S
    from facematch_spark.fixtures import corpus_to_pandas, generate_corpus

    src = spark.createDataFrame(
        corpus_to_pandas(generate_corpus(n_base=40, seed=7)), schema=S.SOURCE_FILES
    )
    return src.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        F.col("content").alias("text"),
        F.col("lang"),
    ).filter(F.col("text").isNotNull())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ngram(docs_df):
    from facematch_spark.operators import dedup as D

    return _rows(D.ngram_jaccard_pairs(docs_df, 9, 0.5))


def _pipeline(spark, tiny_df, tmp_path_factory):
    from facematch_spark.plans.pipeline import run_dedupe
    from facematch_spark.sources.checkpoint import StageStore

    # a reused store would read back an earlier call's pairs, computed
    # under the other side of the gate
    store = StageStore(str(tmp_path_factory.mktemp("store")), PIPELINE_CFG)
    assert not store.exists("pairs")
    # module-scoped callers cannot take the function-scoped fixture
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DedupeConfig, "simhash_hamming_max", 0)
        return _rows(run_dedupe(spark, tiny_df, PIPELINE_CFG, store).pairs)


@pytest.fixture(scope="module")
def default_rows(spark, docs_df, tiny_df, tmp_path_factory):
    ngram, pipeline = _ngram(docs_df), _pipeline(spark, tiny_df, tmp_path_factory)
    # the fixtures plant near-dups; empty outputs would test nothing
    assert ngram
    assert any(r[-1] == "containment" for r in pipeline)
    return ngram, pipeline


@pytest.mark.parametrize("gate", ["BROADCAST_SHINGLE_LIMIT", "ATTACH_BROADCAST_IDS_MAX"])
def test_broadcast_and_fallback_tiers_agree(
    spark, docs_df, tiny_df, default_rows, monkeypatch, tmp_path_factory, gate
):
    from facematch_spark.operators import verify as V

    monkeypatch.setattr(V, gate, 0)
    # on these paths exact_overlap's broadcast branch is the only caller of
    # SparkContext.broadcast, so counting the calls shows the branch taken
    sc = spark.sparkContext
    calls = []

    def counted(value):
        calls.append(value)
        return type(sc).broadcast(sc, value)

    monkeypatch.setattr(sc, "broadcast", counted)
    ngram = _ngram(docs_df)
    ngram_calls = len(calls)
    assert (ngram, _pipeline(spark, tiny_df, tmp_path_factory)) == default_rows
    broadcast = gate != "BROADCAST_SHINGLE_LIMIT"
    assert (ngram_calls > 0) == broadcast
    assert (len(calls) > ngram_calls) == broadcast
