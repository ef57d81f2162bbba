"""Operator-suite tests over the driver's sf0.001 tables: dedup variants,
recall gates (LSH vs exact), text analysis, similarity search, multimodal
plumbing, streaming parity (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from facematch_spark.config import DedupeConfig

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").localCheckpoint()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint()


# ---------------- dedup suite ----------------

def test_exact_duplicates_group_sizes(spark, docs):
    from facematch_spark.operators.dedup import exact_duplicates

    groups = exact_duplicates(docs)
    total = groups.agg(F.sum("group_size")).collect()[0][0]
    assert total == docs.count()


@pytest.fixture(scope="module")
def exact_pairs_df(spark, docs):
    from facematch_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(docs, 9, 0.5).localCheckpoint()


def test_ngram_jaccard_sane(exact_pairs_df):
    rows = exact_pairs_df.collect()
    assert len(rows) > 0, "sf0.001 must contain planted near-dups"
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.5 <= r.jaccard <= 1.0


def test_minhash_lsh_recall_vs_exact(spark, docs, exact_pairs_df):
    """The scale path must recover ≥99% of exact near-dup pairs at the
    planted-dup similarity level (north rule recall ≥ 0.99). Only LSH
    candidate recall can lose a pair here: candidates are verified
    exactly."""
    from facematch_spark.operators.dedup import minhash_lsh_exact_pairs

    cfg = DedupeConfig(jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b) for r in minhash_lsh_exact_pairs(docs, cfg).collect()}
    # compare against exact pairs at a margin above the threshold (banding
    # recall falls off near the threshold — standard LSH accounting)
    oracle = {(r.id_a, r.id_b) for r in exact_pairs_df.filter(F.col("jaccard") >= 0.6).collect()}
    assert oracle
    recall = len(oracle & got) / len(oracle)
    assert recall >= 0.99, f"recall={recall} ({len(oracle)} oracle pairs)"


def test_containment_matches_naive(spark, docs):
    """Prefix-gram candidate join must find exactly the naive substring
    containment pairs (superset-candidate argument: if a ⊆ b then a's prefix
    16-gram is one of b's 16-grams)."""
    from facematch_spark.operators.dedup import containment_pairs

    got = {(r.id_a, r.id_b) for r in containment_pairs(docs, k=16).collect()}
    d = docs.select("doc_id", "text").collect()
    naive = {
        (a.doc_id, b.doc_id)
        for a in d
        for b in d
        if a.doc_id != b.doc_id
        and len(a.text) >= 16
        and len(a.text) < len(b.text)
        and a.text in b.text
    }
    assert got == naive
    assert naive, "sf0.001 should contain containment pairs"


def test_dedup_clusters_match_pairs(spark, docs, exact_pairs_df):
    from facematch_spark.operators.dedup import dedup_clusters

    clusters = dedup_clusters(docs, 9, 0.5)
    labels = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert len(labels) == docs.count()
    for r in exact_pairs_df.collect():
        assert labels[r.id_a] == labels[r.id_b]


# ---------------- text suite ----------------

def test_token_count_values(spark, docs):
    from facematch_spark.operators.text import token_count

    out = token_count(docs).join(docs, "doc_id").collect()
    for r in out[:50]:
        assert r.n_tokens == len(r.text.split())
        assert r.n_chars_exact == len(r.text)


def test_quality_ranges(spark, docs):
    from facematch_spark.operators.text import quality_score

    for r in quality_score(docs).collect():
        assert 0 <= r.stopword_ratio <= 1
        assert 0 <= r.punct_ratio <= 1
        assert 0 <= r.upper_ratio <= 1
        assert r.mean_word_len > 0


def test_fingerprint_exact_dup_keys(spark, docs):
    """Normalized fingerprint must be insensitive to case/whitespace."""
    from facematch_spark.operators.text import fingerprint

    base = docs.limit(1)
    variant = base.select(
        F.lit(910001).alias("doc_id"),
        F.upper(F.regexp_replace("text", " ", "   ")).alias("text"),
        "lang", "source", "n_chars",
    )
    fp = fingerprint(base.unionByName(variant)).collect()
    assert fp[0].fp_normalized == fp[1].fp_normalized
    assert fp[0].fp_exact != fp[1].fp_exact


# ---------------- similarity suite ----------------

@pytest.fixture(scope="module")
def brute_topk(spark, emb):
    from facematch_spark.operators.similarity import cosine_topk_bruteforce

    return cosine_topk_bruteforce(emb, emb, k=3).localCheckpoint()


def test_brute_topk_shape(spark, emb, brute_topk):
    n = emb.count()
    assert brute_topk.count() == n * 3
    assert brute_topk.groupBy("query_id").count().filter(F.col("count") != 3).count() == 0


def test_ann_lsh_recall_vs_brute(spark, emb, brute_topk):
    """LSH-bucketed ANN: top-1 neighbor recall vs brute force.

    This corpus is nearly isotropic (max pairwise cosine ≈ 0.51), the hardest
    regime for cosine LSH: collision probability per 4-bit table for a
    cosine-0.5 pair is (1-θ/π)^4 ≈ 0.13, so 8 tables give ≈ 0.67 per-pair —
    the recall bound asserted here is the theory value minus slack. Corpora
    with real near-dup structure (cosine ≥ 0.9 ⇒ ≥ 0.87/table) recall ≈ 1."""
    from facematch_spark.operators.similarity import ann_topk_lsh

    ann = ann_topk_lsh(emb, k=3, n_bits=4, n_tables=8)
    b1 = {(r.query_id, r.neighbor_id) for r in brute_topk.filter(F.col("rank") == 1).collect()}
    a_all = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    recall = len(b1 & a_all) / len(b1)
    assert recall >= 0.45, f"top-1-in-top-3 recall {recall}"


# ---------------- multimodal plumbing ----------------

def test_multimodal_metadata(spark, docs):
    from facematch_spark.operators.multimodal import extract_metadata, make_media_df

    media = make_media_df(spark, docs)
    meta = extract_metadata(media).collect()
    assert len(meta) == docs.count()
    for r in meta[:20]:
        assert r.byte_len > 0 and r.status == "ok" and len(r.sha256) == 64


def test_frame_sampling_counts(spark, docs):
    from facematch_spark.operators.multimodal import make_media_df, sample_frames

    media = make_media_df(spark, docs, kind="video")
    counts = {r.media_id: r.n for r in sample_frames(media).groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    lens = {r.doc_id: len(r.text.encode()) for r in docs.select("doc_id", "text").collect()}
    for mid, n in counts.items():
        assert n == min(8, max(1, lens[mid] // 1024))


# ---------------- streaming ----------------

def test_streaming_matches_batch(spark):
    from facematch_spark.streaming.incremental import (
        run_streaming_event_counts,
        windowed_event_counts,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    batch = {tuple(r) for r in windowed_event_counts(ev).collect()}
    stream = {tuple(r) for r in run_streaming_event_counts(spark, f"{SF}/events.parquet").collect()}
    assert batch == stream
    assert batch
