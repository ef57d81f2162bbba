"""Round-5 regression tests: brute-force ANN collect gate and the
near-containment LCS settle wired into the containment operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bruteforce_ann_corpus_gate(spark):
    """The driver collect has an explicit ceiling (VERDICT r4 #4 — mirrors
    the ngram 5M-row and union-find 1M-edge gates); past it the error names
    the bucketed paths. Under it, results are unchanged."""
    import numpy as np

    from facematch_spark.operators.similarity import cosine_topk_bruteforce

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    with pytest.raises(ValueError, match="ann_topk_lsh"):
        cosine_topk_bruteforce(emb, emb, k=1, max_corpus_rows=10).collect()

    ok = cosine_topk_bruteforce(emb, emb, k=1, max_corpus_rows=20)
    assert ok.count() == 20


def test_near_containment_lcs_settle(spark):
    """A doc embedded inside a bigger doc WITH ONE EDIT is invisible to the
    verbatim ``contains`` check but found via the suffix-automaton LCS
    coverage when ``lcs_threshold`` is set (VERDICT r4 #5); default mode
    still returns only the verbatim pair."""
    from facematch_spark.operators.dedup import containment_pairs

    base = "".join(f"line {i}: the quick brown fox jumps over the lazy dog\n" for i in range(40))
    # one-char edit inside the block, near its start: lcs_cov = the longest
    # surviving run / len(base) ≈ 0.98 (a MID-block edit would cap coverage
    # at ~0.5 — coverage is the longest SINGLE common substring)
    edited = base[:40] + "X" + base[41:]
    docs = spark.createDataFrame(
        [
            (1, base, "en", "s", len(base)),                       # embedded verbatim in 3
            (2, "PREFIX\n" + edited + "SUFFIX\n", "en", "s", 0),   # embeds the EDITED copy
            (3, "HEADER\n" + base + "FOOTER\n", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    verbatim_only = {(r.id_a, r.id_b) for r in containment_pairs(docs, k=16).collect()}
    assert (1, 3) in verbatim_only
    assert (1, 2) not in verbatim_only  # the edit hides it from contains()

    # n_probes > edit_len + k - 1 = 16 guarantees a probed gram survives the
    # single edit (an edit of length e invalidates ≤ e + k - 1 grams, and
    # here those grams are exactly the corpus-rarest, so the probe set must
    # outrun them)
    near = {
        (r.id_a, r.id_b): r.lcs_cov
        for r in containment_pairs(docs, k=16, lcs_threshold=0.95, n_probes=20).collect()
    }
    assert near[(1, 3)] == 1.0
    assert (1, 2) in near and near[(1, 2)] >= 0.95  # settled by LCS coverage


def test_fixture_generator_cross_process_determinism():
    """generate_corpus must emit byte-identical content regardless of the
    per-process string-hash salt. Regression: the 'rename' mutation sampled
    identifier tokens from raw set-iteration order (PYTHONHASHSEED-salted),
    so two processes generating 'the same' corpus disagreed on ~20% of rows
    — caught in round 5 when a regenerated scaling corpus changed pair
    counts (347942-file corpus: 140382 → 140394 pairs)."""
    import hashlib
    import os
    import subprocess
    import sys

    prog = (
        "import sys, hashlib;"
        "sys.path.insert(0, %r);"
        "from facematch_spark.fixtures import generate_corpus;"
        "c = generate_corpus(n_base=60, seed=7, edge_rows=False);"
        "acc = 0\n"
        "for r in c.rows:\n"
        "    d = hashlib.md5(('\\x00'.join((r['repo'], r['path'], r['commit'],"
        " r['content']))).encode()).digest()\n"
        "    acc ^= int.from_bytes(d[:8], 'little')\n"
        "print(hex(acc))"
    ) % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    digests = set()
    for hash_seed in ("1", "2"):
        out = subprocess.run(
            [sys.executable, "-c", prog],
            env={**os.environ, "PYTHONHASHSEED": hash_seed},
            capture_output=True, text=True, timeout=120, check=True,
        )
        digests.add(out.stdout.strip())
    assert len(digests) == 1, f"corpus content varies with hash salt: {digests}"


def test_embedding_near_dup_exact_matches_numpy(spark):
    """embedding_near_dup_pairs returns EXACTLY the unordered pairs with
    round(cosine, 6) >= t, once each with id_a < id_b — verified against a
    driver-side NumPy recomputation on a random fixture."""
    import numpy as np

    from facematch_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(11)
    V = rng.standard_normal((60, 16))
    rows = [(i, [float(x) for x in V[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    t = 0.2
    got = {(r.id_a, r.id_b): r.cosine for r in embedding_near_dup_pairs(emb, t).collect()}

    Vd = V.astype(np.float64)
    n = Vd / np.sqrt((Vd * Vd).sum(1))[:, None]
    cos = np.round(n @ n.T, 6)
    want = {
        (i, j): cos[i, j]
        for i in range(60)
        for j in range(i + 1, 60)
        if cos[i, j] >= t
    }
    assert want, "fixture must produce at least one pair"
    assert got == want


def test_embedding_near_dup_corpus_gate(spark):
    """Same explicit driver-collect ceiling as the sibling gates; past it the
    call raises and names the knob that lifts the gate."""
    import numpy as np

    from facematch_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    with pytest.raises(ValueError, match="would not fit; raise max_corpus_rows"):
        embedding_near_dup_pairs(emb, 0.5, max_corpus_rows=10).collect()


# ---------------------------------------------------------------------------
# round-5 session 5: training-data curation additions
# ---------------------------------------------------------------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_stratified_sample_deterministic_and_stratified(spark):
    from facematch_spark.operators.sampling import stratified_sample

    rows = [(i, f"doc {i}", ["en", "fr", "zh"][i % 3]) for i in range(3000)]
    df = _docs_df(spark, rows)
    rates = {"en": 0.5, "fr": 0.2, "zh": 0.0}

    a = {r.doc_id for r in stratified_sample(df, rates).collect()}
    b = {r.doc_id for r in stratified_sample(df.repartition(7), rates).collect()}
    assert a == b, "membership must be independent of partitioning"

    by_lang = {
        lang: sum(1 for i in a if rows[i][2] == lang) / 1000 for lang in ("en", "fr", "zh")
    }
    assert abs(by_lang["en"] - 0.5) < 0.06
    assert abs(by_lang["fr"] - 0.2) < 0.06
    assert by_lang["zh"] == 0.0


def test_stratified_sample_nested_and_superset_consistent(spark):
    from facematch_spark.operators.sampling import stratified_sample

    rows = [(i, "x", "en") for i in range(2000)]
    df = _docs_df(spark, rows)
    small = {r.doc_id for r in stratified_sample(df, {"en": 0.1}).collect()}
    large = {r.doc_id for r in stratified_sample(df, {"en": 0.3}).collect()}
    assert small < large, "lower rate must be a strict subset at the same salt"

    # growing the corpus never flips an existing row's verdict
    grown = _docs_df(spark, rows + [(i, "x", "en") for i in range(2000, 4000)])
    regrown = {r.doc_id for r in stratified_sample(grown, {"en": 0.1}).collect()}
    assert {i for i in regrown if i < 2000} == small


def test_stratified_sample_salts_are_independent(spark):
    from facematch_spark.operators.sampling import stratified_sample

    rows = [(i, "x", "en") for i in range(4000)]
    df = _docs_df(spark, rows)
    s1 = {r.doc_id for r in stratified_sample(df, {"en": 0.2}, salt="train:").collect()}
    s2 = {r.doc_id for r in stratified_sample(df, {"en": 0.2}, salt="eval:").collect()}
    overlap = len(s1 & s2) / max(len(s1), 1)
    # independent 20% samples overlap ~20%; identical hashing would give 100%
    assert 0.05 < overlap < 0.45


def test_stratified_sample_is_map_only(spark):
    from facematch_spark.operators.sampling import stratified_sample

    df = _docs_df(spark, [(1, "x", "en")])
    out = stratified_sample(df, {"en": 0.5})
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan, "sampling must not shuffle"


def test_stratified_sample_rejects_bad_rate(spark):
    import pytest as _pytest

    from facematch_spark.operators.sampling import stratified_sample

    df = _docs_df(spark, [(1, "x", "en")])
    with _pytest.raises(ValueError, match="rate"):
        stratified_sample(df, {"en": 1.5})


def test_cluster_representatives_election(spark):
    from facematch_spark.operators.dedup import cluster_representatives

    base = "def handler(event, ctx):\n    return process(event) or fallback(ctx)\n" * 4
    rows = [
        (1, base, "en"),                     # cluster {1,2,3}: 3 is longest
        (2, base + "# v2\n", "en"),
        (3, base + "# v2 extended notes\n", "en"),
        (10, "completely different content about parquet readers " * 5, "en"),  # singleton
    ]
    out = {
        r.cluster_id: r
        for r in cluster_representatives(_docs_df(spark, rows), k=9, threshold=0.5).collect()
    }
    assert out[1].rep_id == 3 and out[1].n_members == 3
    assert out[10].rep_id == 10 and out[10].n_members == 1
    assert out[1].rep_score == len(rows[2][1])


def test_cluster_representatives_tie_breaks_min_doc_id(spark):
    from facematch_spark.operators.dedup import cluster_representatives

    txt = "tie break corpus body with enough shingles to cluster " * 3
    rows = [(7, txt, "en"), (4, txt, "en")]  # equal length => min doc_id wins
    out = cluster_representatives(_docs_df(spark, rows), k=9, threshold=0.5).collect()
    assert len(out) == 1 and out[0].rep_id == 4 and out[0].n_members == 2


def test_jsonl_ingest_parses_and_quarantines(spark, tmp_path):
    import json as _json

    from facematch_spark.operators.signatures import sign_documents
    from facematch_spark.config import DedupeConfig
    from facematch_spark.sources.io import read_source_files_text, split_corrupt

    p = tmp_path / "drop.jsonl"
    good = [
        {"repo": "r1", "path": "a.py", "commit": "c" * 40, "lang": "py",
         "content": "def alpha(x):\n    return x * 2  # doubled for the test corpus\n" * 3},
        {"repo": "r2", "path": "b.py", "commit": "d" * 40, "lang": "py",
         "content": "def beta(y):\n    return y + 7  # shifted for the test corpus\n" * 3},
    ]
    lines = [_json.dumps(g) for g in good]
    lines.insert(1, '{"repo": "broken", not json at all')          # malformed line
    lines.append(_json.dumps({"repo": "r3", "lang": "py", "content": "z"}))  # missing path/commit
    p.write_text("\n".join(lines) + "\n")

    ok, bad = split_corrupt(read_source_files_text(spark, str(p), fmt="jsonl"))
    assert {r.repo for r in ok.collect()} == {"r1", "r2"}
    assert bad.count() == 2  # one malformed, one missing required fields
    assert "_corrupt_record" not in ok.columns

    # the clean side flows through the signature stage unchanged
    sigs = sign_documents(ok, DedupeConfig(jaccard_threshold=0.5))
    assert sigs.filter(sigs.status == "ok").count() == 2


def test_csv_ingest_roundtrip(spark, tmp_path):
    from facematch_spark.sources.io import read_source_files_text, split_corrupt

    p = tmp_path / "drop.csv"
    p.write_text(
        'repo,path,commit,lang,content\n'
        f'r1,a.py,{"c" * 40},py,"line one\nline two"\n'
        f'r2,b.py,{"d" * 40},py,hello\n'
        f',missing_repo.py,{"e" * 40},py,nope\n'
    )
    # default (splittable, line-per-record) mode: the quoted embedded
    # newline cannot be parsed — that row quarantines instead of truncating
    ok, bad = split_corrupt(read_source_files_text(spark, str(p), fmt="csv"))
    assert {r.repo for r in ok.collect()} >= {"r2"}
    # multiline opt-in parses the quoted newline correctly (one task/file)
    ok_ml, bad_ml = split_corrupt(
        read_source_files_text(spark, str(p), fmt="csv", multiline=True)
    )
    rows = {r.repo: r for r in ok_ml.collect()}
    assert set(rows) == {"r1", "r2"}
    assert rows["r1"].content == "line one\nline two"
    assert bad_ml.count() == 1


def test_ingest_rejects_unknown_format(spark):
    import pytest as _pytest

    from facematch_spark.sources.io import read_source_files_text

    with _pytest.raises(ValueError, match="fmt"):
        read_source_files_text(spark, "/tmp/nope", fmt="xml")


def test_curation_pipeline_semantics(spark):
    """Quality gate drops short docs; near-dup clusters keep one
    representative; the sample predicate filters deterministically."""
    from facematch_spark.plans.curation import curate

    body = "def handler(event, ctx):\n    return process(event) or fallback(ctx)\n" * 4
    rows = [
        (1, body, "en"),                          # cluster {1,2}: 2 is longer
        (2, body + "# trailing note\n", "en"),
        (3, "tiny", "en"),                        # fails the quality gate
        (4, "independent corpus about parquet row-group pruning " * 6, "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    # rate 1.0 => sampling keeps everything; isolates the first two stages
    out = {r.doc_id: r for r in curate(df, 9, 0.5, rates={"en": 1.0}).collect()}
    assert set(out) == {2, 4}, "rep of {1,2} plus the independent doc"
    assert out[2].n_members == 2 and out[4].n_members == 1

    # rate 0 for the stratum => nothing survives; default_rate unused
    assert curate(df, 9, 0.5, rates={"en": 0.0}).count() == 0

    # provenance columns are the contract
    assert set(curate(df, 9, 0.5, rates={"en": 1.0}).columns) == {
        "doc_id", "lang", "cluster_id", "n_members", "sample_key"
    }


def test_cli_jsonl_ingest_end_to_end(tmp_path_factory):
    """Black-box CLI run over a raw JSONL drop: clean rows flow through the
    full dedup pipeline, the malformed line quarantines to parquet, and the
    summary counts match a parquet run of the same corpus."""
    import json as _json
    import subprocess
    import sys as _sys

    from facematch_spark.fixtures import corpus_to_pandas, generate_corpus

    root = tmp_path_factory.mktemp("cli_jsonl")
    pdf = corpus_to_pandas(generate_corpus(n_base=12, seed=3, edge_rows=False))
    drop = root / "drop.jsonl"
    with open(drop, "w") as f:
        for _, r in pdf.iterrows():
            f.write(_json.dumps({k: r[k] for k in ("repo", "path", "commit", "lang", "content")}) + "\n")
        f.write('{"repo": "broken, not json\n')

    out = str(root / "out")
    res = subprocess.run(
        [_sys.executable, "-m", "facematch_spark.cli", str(drop), "--format", "jsonl",
         "--out", out, "--threshold", "0.5", "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = _json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][0])
    assert summary["files"] == len(pdf)
    q = [l for l in res.stderr.splitlines() if l.startswith('{"quarantined_rows"')]
    assert q and _json.loads(q[0])["quarantined_rows"] == 1


def test_stratified_sample_works_on_streams(spark, tmp_path_factory):
    """The sampling predicate is stateless and map-only, so the SAME operator
    applies unchanged to a streaming DataFrame — and, because membership is a
    pure function of the row key, the streamed sample equals the batch sample
    of the same data exactly."""
    from facematch_spark.operators.sampling import stratified_sample

    root = tmp_path_factory.mktemp("stream_sample")
    input_dir = str(root / "in")
    out_dir = str(root / "out")
    ckpt = str(root / "ckpt")
    import os as _os

    _os.makedirs(input_dir)
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": range(500), "text": ["x"] * 500, "lang": ["en", "fr"] * 250}
    )
    pdf.to_parquet(f"{input_dir}/b1.parquet")

    rates = {"en": 0.4, "fr": 0.1}
    stream = spark.readStream.schema("doc_id long, text string, lang string").parquet(input_dir)
    q = (
        stratified_sample(stream, rates)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_ids = {
        r.doc_id
        for r in stratified_sample(
            spark.createDataFrame(pdf, "doc_id long, text string, lang string"), rates
        ).collect()
    }
    streamed_ids = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert streamed_ids == batch_ids and len(batch_ids) > 0


def test_decontaminate_drops_near_dup_train_docs(spark):
    """A train doc that near-duplicates a held-out doc is dropped with an
    audit row naming its strongest match; unrelated train docs survive;
    clean + contaminated partition the train set exactly."""
    from facematch_spark.operators.dedup import decontaminate

    eval_body = "def evaluate(batch):\n    return sum(score(x) for x in batch) / len(batch)\n" * 4
    rows_train = [
        (10, eval_body + "# train copy with a tweak\n", "en"),   # contaminated
        (12, "a completely different module about arrow buffers " * 6, "en"),
        (14, eval_body, "en"),                                   # exact copy
    ]
    rows_eval = [(21, eval_body, "en")]
    train = spark.createDataFrame(rows_train, "doc_id long, text string, lang string")
    held = spark.createDataFrame(rows_eval, "doc_id long, text string, lang string")

    clean, contaminated = decontaminate(train, held, k=9, threshold=0.5)
    kept = {r.doc_id for r in clean.collect()}
    dropped = {r.doc_id: r for r in contaminated.collect()}
    assert kept == {12}
    assert set(dropped) == {10, 14}
    assert dropped[14].matched_eval_id == 21 and dropped[14].jaccard == 1.0
    assert dropped[10].jaccard >= 0.5
    assert kept | set(dropped) == {10, 12, 14}


def test_cross_corpus_pairs_never_within_side(spark):
    """Two identical docs on the SAME side must not pair; the identical doc
    across sides must."""
    from facematch_spark.operators.dedup import ngram_jaccard_pairs_between

    body = "shared body text for the cross corpus side test " * 4
    left = spark.createDataFrame(
        [(1, body, "en"), (2, body, "en")], "doc_id long, text string, lang string"
    )
    right = spark.createDataFrame(
        [(31, body, "en")], "doc_id long, text string, lang string"
    )
    got = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs_between(left, right, 9, 0.5).collect()}
    assert got == {(1, 31), (2, 31)}  # cross pairs only; (1,2) absent


def test_decontaminate_empty_held_out_keeps_everything(spark):
    from facematch_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(1, "some training document body " * 4, "en")],
        "doc_id long, text string, lang string",
    )
    held = spark.createDataFrame([], "doc_id long, text string, lang string")
    clean, contaminated = decontaminate(train, held, k=9, threshold=0.5)
    assert clean.count() == 1 and contaminated.count() == 0


def test_curation_custom_score_elects_different_rep(spark):
    """Passing a score expression flips the election away from the default
    keep-the-longest — e.g. prefer the SHORTEST doc via a negated length."""
    from pyspark.sql import functions as F

    from facematch_spark.plans.curation import curate

    body = "def handler(event, ctx):\n    return process(event) or fallback(ctx)\n" * 4
    rows = [(1, body, "en"), (2, body + "# extra trailing commentary\n", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    default_rep = {r.doc_id for r in curate(df, 9, 0.5, rates={"en": 1.0}).collect()}
    short_rep = {
        r.doc_id
        for r in curate(
            df, 9, 0.5, rates={"en": 1.0}, score=(-F.length("text")).cast("long")
        ).collect()
    }
    assert default_rep == {2} and short_rep == {1}


def test_cross_corpus_equals_cross_subset_of_self_join(spark):
    """Losslessness of the side-aware PPJoin: on any corpus split, the
    cross-corpus operator returns EXACTLY the cross-side subset of the
    self-join operator over the union — same pairs, same jaccard values
    (both use the union-wide frequency order, so the prefix filters agree)."""
    from facematch_spark.fixtures import corpus_to_pandas, generate_corpus
    from facematch_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_between,
    )

    pdf = corpus_to_pandas(generate_corpus(n_base=30, seed=13, edge_rows=False))
    pdf = pdf.reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    docs = spark.createDataFrame(
        pdf.rename(columns={"content": "text"})[["doc_id", "text", "lang"]],
        "doc_id long, text string, lang string",
    )
    left = docs.filter("doc_id % 2 = 0")
    right = docs.filter("doc_id % 2 = 1")

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_between(left, right, 9, 0.5).collect()
    }
    # self-join canonicalizes id_a < id_b; re-key to (even, odd) sides
    want = {}
    for r in ngram_jaccard_pairs(docs, 9, 0.5).collect():
        ev, od = (r.id_a, r.id_b) if r.id_a % 2 == 0 else (r.id_b, r.id_a)
        if ev % 2 == 0 and od % 2 == 1:
            want[(ev, od)] = r.jaccard
    assert want, "fixture must produce at least one cross-side pair"
    assert got == want
