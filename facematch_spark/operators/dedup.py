"""Deduplication operator suite over a ``documents`` table
``(doc_id, text, lang, source, n_chars)`` — the training-data-pipeline
generalization of the core engine (SURVEY.md §2 + driver brief):

  * exact dedup        — hash groupBy (md5 key), pure SQL
  * n-gram Jaccard     — exact char- or token-k-gram Jaccard within one
                         corpus, char k-grams across two (decontamination):
                         PPJoin prefix candidates
  * MinHash + LSH      — the scale path (signatures → bands → join)
  * SimHash            — Hamming-ball near-dup pairs
  * containment        — substring dups via prefix-shingle candidate join
  * connected comps    — cluster ids over any of the pair relations

Every exact-Jaccard operator here verifies its candidates in
``verify.exact_overlap``, the tier the shipped ``run_dedupe`` pipeline uses,
so scores are the same doubles whichever generator found the pair. The
n-gram operators shingle through Spark built-ins (sequence / transform /
array_distinct / explode — no UDF) so the DuckDB oracle reproduces their
values from the same string k-grams; the MinHash operators reuse the
engine's vectorized shingle kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from facematch_spark.config import DedupeConfig
from facematch_spark.operators import lsh as L
from facematch_spark.operators import signatures as SIG
from facematch_spark.operators import verify as V

# Rows per partition for the PPJoin prefix join's shuffled-hash build (self
# and cross-corpus forms):
# a prefix row is 4 longs but its LongToUnsafeRowMap entry is ~100-300 B
# with map overhead, and every core builds one relation CONCURRENTLY, so
# the bound must hold cores × build inside the execution pool: 250k rows ≈
# 25-75 MB per build (32 concurrent ≈ 1-2 GB in flight). 1M rows/partition
# measured OOM at a 60M-row relation on a 16 GB heap (scale_fallback_probe
# run D); 250k completes. At bench scale parts == defaultParallelism either
# way, so the local plan is unchanged.
PREFIX_ROWS_PER_PARTITION = 250_000


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact-dup groups: md5(text) key + group size + min doc_id as group
    representative. Hash-groupBy — one shuffle on the digest."""
    return (
        docs.select("doc_id", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").cast("long").alias("group_size"),
            F.min("doc_id").alias("rep_id"),
        )
    )


# Docs longer than this take the linear char-array slice path below; shorter
# docs keep the allocation-free substr path (quadratic but ≤ ~34M byte-steps
# at the boundary — sub-millisecond).
_SUBSTR_SHINGLE_MAX_CHARS = 8192


def char_shingles(docs: DataFrame, k: int, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct char k-grams via built-in expressions —
    stays in whole-stage codegen: sequence → transform → array_distinct →
    explode.

    Two per-row strategies behind one CASE (only the taken branch evaluates):

      * short docs — ``substr(i, k)`` per position. UTF8String.substr scans
        from byte 0 to find the i-th codepoint, so the total is O(n²/2)
        byte-steps — fine below the cutoff, PATHOLOGICAL above it (a 1 MB
        doc costs ~30 CPU-minutes, a 10 MB source file hours; found
        round 5 via the edge-row corpus);
      * long docs — ONE regex pass with a zero-width lookahead capture
        (``(?s)(?=(.{k}))``): every position yields its k-gram in O(k), so
        the whole doc is O(n·k) — linear in doc length. (``F.split('')``
        was tried first and is ALSO super-linear on megabyte strings —
        UTF8String.split showed 465 CPU-s on the same doc.) Boundary note:
        Java regex ``.`` matches UTF-16 code units vs substr's codepoints —
        they differ only for astral-plane chars, where either choice is a
        valid deterministic shingling.
    """
    from facematch_spark.operators.signatures import _ensure_parallel

    docs = _ensure_parallel(docs)
    grams = F.array_distinct(_gram_array(text_col, k))
    return (
        docs.filter(F.length(text_col) >= k)
        .select("doc_id", F.explode(grams).alias("shingle"))
    )


def _gram_array(text_col: str, k: int):
    """Ordered, NON-distinct char k-gram array: element ``i`` (0-based) is
    the k-gram starting at 1-based char position ``i + 1``. Callers must
    filter ``length(text_col) >= k`` first (``sequence(1, 0)`` would count
    DOWN). Shared by ``char_shingles`` (distinct + explode) and
    ``duplicate_spans`` (posexplode — positions matter there)."""
    n_positions = F.greatest(F.length(text_col) - (k - 1), F.lit(0))
    substr_grams = F.transform(
        F.sequence(F.lit(1), n_positions),
        lambda i: F.col(text_col).substr(i, F.lit(k)),
    )
    regex_grams = F.regexp_extract_all(
        F.col(text_col), F.lit(f"(?s)(?=(.{{{k}}}))"), F.lit(1)
    )
    return F.when(
        F.length(text_col) <= F.lit(_SUBSTR_SHINGLE_MAX_CHARS), substr_grams
    ).otherwise(regex_grams)


def token_shingles(docs: DataFrame, k: int, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct k-TOKEN shingles (tokens = maximal
    non-whitespace runs, shingle = k consecutive tokens joined by one space)
    — same all-built-in shape as ``char_shingles``: split → filter →
    transform(concat_ws(slice)) → array_distinct → explode."""
    from facematch_spark.operators.signatures import _ensure_parallel

    docs = _ensure_parallel(docs)
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0)
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= k)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice("toks", i, F.lit(k))),
        )
    )
    return d.select("doc_id", F.explode(grams).alias("shingle"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int,
    threshold: float,
    shingle_kind: str = "char",
) -> DataFrame:
    """Exact k-gram Jaccard pairs ≥ threshold — char k-grams by default,
    k-token shingles with ``shingle_kind="token"`` — via a prefix-filtered
    set-similarity join (PPJoin-style; Xiao et al., WWW'08 — public
    algorithm):

      1. shingle sets hashed to longs (xxhash64 — join keys stay 8 bytes;
         distinct counts, hence Jaccard values, are hash-collision-exact in
         expectation and deterministic for a given corpus);
      2. **prefix filter**: order each doc's shingles by global frequency
         (rarest first); two sets with Jaccard ≥ t MUST share a shingle
         within each other's first ``n - ceil(t*n) + 1`` shingles, so the
         candidate equi-join runs on prefixes only. Hot boilerplate shingles
         (the skew risk — sum over shingles of count² explodes on word-soup
         corpora) sit at the END of the frequency order and never enter the
         join;
      3. exact verification: the candidates go through the shared
         ``verify.exact_overlap`` tier, which intersects the full sorted
         hash arrays in an Arrow-batched NumPy stage and keeps
         jaccard = |∩| / (n_a + n_b - |∩|) ≥ threshold.

    Exactness: step 2 is a lossless filter (prefix-filter theorem), step 3
    is exact set intersection — output matches the naive all-shared-shingle
    join bit for bit (integer-ratio doubles).
    """
    shingler = {"char": char_shingles, "token": token_shingles}[shingle_kind]
    # materialize once: the shingle relation feeds the frequency / rank
    # windows and the verify tier — without a checkpoint each one would
    # re-run the explode+hash lineage
    sh = (
        shingler(docs, k)
        .select("doc_id", F.xxhash64("shingle").alias("sh"))
        .localCheckpoint()
    )
    cands = _ppjoin_candidates(sh, threshold)
    shingles = sh.select(F.col("doc_id").alias("file_id"), F.col("sh").alias("shingle"))
    return V.exact_overlap(cands, shingles, threshold).drop("containment")


def _ppjoin_candidates(sh: DataFrame, threshold: float, cross: bool = False) -> DataFrame:
    """Pinned distinct ``(doc_id, sh)`` shingle-hash rows → PPJoin candidate
    pairs ``(id_a, id_b)``, a lossless superset of the pairs with
    Jaccard ≥ ``threshold``. The self form pairs ``id_a < id_b``; with
    ``cross`` the rows carry ``_side`` (0 or 1) and side-0 docs pair with
    side-1 docs only (``id_a`` from side 0)."""
    from pyspark.sql import Window as W

    # frequency + cardinality + rank as WINDOW counts — two shuffles total
    # (one by sh, one by doc_id with a shared exchange for both doc_id
    # windows) instead of the groupBy+join form's four (freq agg, full-sh
    # re-shuffle into the freq join, rank window, cardinality join).
    # Skew note: a hot shingle's rows land in one window task, but the work
    # is a linear count — same rows-per-task as the join form's shuffle,
    # without the second full-relation exchange. Ordering (freq, sh) is
    # unchanged, so ranks — and the lossless prefix filter — are identical.
    with_n = (
        sh.withColumn("freq", F.count("*").over(W.partitionBy("sh")))
        .withColumn("n_sh", F.count("*").over(W.partitionBy("doc_id")))
        .withColumn("rnk", F.row_number().over(W.partitionBy("doc_id").orderBy("freq", "sh")))
    )
    # prefix length: n - ceil(t*n) + 1
    prefix = (
        with_n.filter(
            F.col("rnk") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .select("doc_id", *(["_side"] if cross else []), "sh", "rnk", "n_sh")
        .localCheckpoint()  # feeds both sides of the join
    )

    # candidate join with the lossless PPJoin filters:
    #   length filter:   t·n_a ≤ n_b ≤ n_a/t  (else J < t regardless);
    #   positional:      at the first shared prefix element (positions i, j
    #                    in the global frequency order) the overlap is at
    #                    most 1 + min(n_a-i, n_b-j); taking max over shared
    #                    elements equals the first-element bound (earliest
    #                    shared element has the largest slack), and it must
    #                    reach α = ceil(t/(1+t)·(n_a+n_b)) for J ≥ t.
    # The per-pair positional bound is max over shared elements of
    # 1 + min(n_a-rnk_a, n_b-rnk_b) — a pair survives iff ANY join row
    # passes, so the filter applies per-row BEFORE the dedup shuffle
    # (map-side pruning; the groupBy-max formulation would shuffle every
    # shared-prefix row first).
    # shuffled-hash join (guide §3.1): the auto plan broadcasts one side of
    # the prefix relation — a driver collect + per-query hash-table build
    # that measured 2× slower than hashing per partition, and a
    # non-starter once the prefix relation outgrows the broadcast cap.
    # Partition count is SIZE-DERIVED, not the session constant: shuffled-
    # hash builds a per-partition hash relation and (unlike sort-merge)
    # cannot spill the build — at cores-count partitions a 60M-row prefix
    # relation OOMs the build (caught by tools/scale_fallback_probe.py run
    # D: "Can't acquire ... bytes to build hash relation"). Bounding rows
    # per partition keeps the build ~tens of MB at ANY corpus size; the
    # explicit repartitions are absorbed by the join (same key, same
    # count → no extra exchange), and at bench scale parts ==
    # defaultParallelism.
    parts = L.key_partitions(prefix, prefix.count(), PREFIX_ROWS_PER_PARTITION)
    if cross:
        a, b = prefix.filter(F.col("_side") == 0), prefix.filter(F.col("_side") == 1)
    else:
        a, b = prefix, prefix
    a = a.repartition(parts, "sh").alias("a")
    b = b.repartition(parts, "sh").alias("b").hint("shuffle_hash")
    alpha = F.ceil(
        F.lit(threshold) / (1 + threshold) * (F.col("a.n_sh") + F.col("b.n_sh"))
    )
    slack = F.least(
        F.col("a.n_sh") - F.col("a.rnk"), F.col("b.n_sh") - F.col("b.rnk")
    )
    cond = (
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh"))
        & (F.col("a.n_sh") * F.lit(threshold) <= F.col("b.n_sh"))
        & (slack + 1 >= alpha)
    )
    if not cross:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def docs_as_source_files(docs: DataFrame) -> DataFrame:
    """Adapt the documents table to the engine's SOURCE_FILES shape so the
    MinHash/SimHash kernels apply unchanged."""
    return docs.select(
        F.col("doc_id").cast("string").alias("repo"),
        F.lit("doc").alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def doc_signatures(docs: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Documents → SIGNATURES (file_id replaced by doc_id)."""
    src = docs_as_source_files(docs)
    sigs = SIG.sign_documents(src, cfg)
    return sigs.withColumn("doc_id", F.col("repo").cast("long")).drop(
        "file_id", "repo", "path", "commit"
    ).withColumnRenamed("doc_id", "file_id")


def doc_shingles(docs: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Documents → exploded distinct shingle-hash rows ``(file_id, shingle)``
    with ``file_id = doc_id``, using the same vectorized kernels as the
    MinHash stage (hashes agree bit-for-bit with the signatures)."""
    src = docs.select(F.col("doc_id").alias("file_id"), F.col("text").alias("content"))
    return SIG.explode_shingles(src, cfg)


def minhash_lsh_exact_pairs(docs: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Scale-path near-dup pairs with EXACT verification: MinHash → banding
    LSH candidates → exact Jaccard over the cfg shingle sets → threshold.
    Returns (id_a, id_b, jaccard).

    This is the production shape (candidates bounded by LSH, verification
    exact) AND the SQL-oracle-able one: candidate generation is
    deterministic for a given seed+corpus, and whenever its recall is 1.0
    for pairs above the threshold (pytest-gated; holds by construction at
    high Jaccard — at b=32, r=4 a j=0.7 pair is missed w.p. (1-j⁴)³² ≈
    1.5e-4), the output equals the brute-force Jaccard join over the same
    normalized text, which DuckDB can reproduce.

    Verification is the shared ``verify.exact_overlap`` tier, the one
    ``run_dedupe`` uses — |A∩B| / (n_a + n_b − |A∩B|) integer-ratio
    doubles from one sorted-array intersection kernel."""
    # pinned: candidate_pairs reads its input twice (ok-row count + join),
    # and unpinned each read would rerun the Python MinHash signing
    sigs = doc_signatures(docs, cfg).localCheckpoint()
    cands = L.candidate_pairs(sigs, cfg).localCheckpoint()
    sh = doc_shingles(docs, cfg).localCheckpoint()
    return V.exact_overlap(cands, sh, cfg.jaccard_threshold).drop("containment")


def simhash_chunk_bounds(hamming_max: int, total_bits: int = 64) -> list[tuple[int, int]]:
    """Bit ranges ``(lo_bit, width)`` of the pigeonhole chunks for a
    ``total_bits``-wide fingerprint at Hamming radius ``hamming_max``:
    splitting into ``c > hamming_max`` near-equal chunks guarantees that two
    fingerprints within Hamming ≤ hamming_max agree EXACTLY on at least
    ``c - hamming_max`` chunks (≤ hamming_max differing bits cannot touch
    more than hamming_max chunks). c is ``hamming_max + 2`` at radius ≥ 4
    (so keys combine m = 2 chunks — Manku et al., WWW'07) and floored at 4
    so low radii still get selective keys; any c above the radius is exact."""
    c = max(hamming_max + (2 if hamming_max >= 4 else 1), 4)
    bounds = [(i * total_bits) // c for i in range(c + 1)]
    return [(bounds[i], bounds[i + 1] - bounds[i]) for i in range(c)]


def pigeonhole_chunk_keys(fps: DataFrame, hamming_max: int, total_bits: int) -> DataFrame:
    """(file_id, fp) → (file_id, chunk_id, chunk): one row per m-combination
    of pigeonhole chunks, where m = c - hamming_max and ``chunk`` packs the
    combination's chunk values into one long. Fingerprints within the Hamming
    radius share at least one full (chunk_id, chunk) key — the multi-chunk
    pigeonhole guarantee this module's candidate generators build on."""
    from itertools import combinations

    bounds = simhash_chunk_bounds(hamming_max, total_bits)
    c = len(bounds)
    m = c - hamming_max
    chunk_exprs = [
        F.shiftrightunsigned("fp", lo).bitwiseAND(F.lit((1 << w) - 1)) for lo, w in bounds
    ]
    widths = [w for _, w in bounds]
    combo_keys = []
    for combo_id, combo in enumerate(combinations(range(c), m)):
        key, shift = F.lit(0).cast("long"), 0
        for i in combo:
            key = key.bitwiseOR(F.shiftleft(chunk_exprs[i], shift))
            shift += widths[i]
        # disjoint bit-ranges of one ≤64-bit fp: the combined key always
        # fits a long (sign bit reuse is fine — keys only face equality)
        assert shift <= total_bits <= 64
        combo_keys.append(
            F.struct(F.lit(combo_id).alias("chunk_id"), key.alias("chunk"))
        )
    return fps.select(
        "file_id", F.explode(F.array(*combo_keys)).alias("c")
    ).select("file_id", "c.chunk_id", "c.chunk")


def _pigeonhole_hamming_pairs(fps: DataFrame, hamming_max: int, total_bits: int) -> DataFrame:
    """(file_id, fp) fingerprints → (id_a, id_b, hamming ≤ hamming_max).
    Exact (recall = 1.0 within the radius) via MULTI-CHUNK pigeonhole keys
    (Manku, Jain, Sarma, WWW'07 §3): with c chunks, fingerprints within the
    radius agree on ≥ m = c - hamming_max whole chunks, so keying candidates
    on every m-combination of chunks is lossless while each key carries
    m × (total_bits/c) bits of selectivity. Single-chunk keys (c = r + 1,
    m = 1) are a 100×-scale cliff: a ~7-bit key has ≤ 128 distinct values, so
    candidate volume grows as N²/2⁷ no matter how the join is salted;
    m = 2 at c = r + 2 squares the key space (~13 bits → ~12k values) for a
    C(10,2)/10 ≈ 4.5× row-explosion cost. Candidates then go through the
    shared size-tiered self-join (lossless — no drop tier) and exact
    ``bit_count(xor)`` verification."""
    from facematch_spark.operators.lsh import tiered_self_join

    fps = fps.localCheckpoint()  # feeds chunk explode + two verify joins
    chunks = pigeonhole_chunk_keys(fps, hamming_max, total_bits)
    # chunk-row count is analytic: n_fps × C(c, m) combination keys per
    # fingerprint (fps is pinned, so the count is a block-manager scan)
    from math import comb

    bounds = simhash_chunk_bounds(hamming_max, total_bits)
    n_chunk_rows = fps.count() * comb(len(bounds), len(bounds) - hamming_max)
    cands = tiered_self_join(
        chunks,
        keys=["chunk_id", "chunk"],
        id_col="file_id",
        n_rows=n_chunk_rows,
        drop_above=None,  # lossless: recall=1.0 within the Hamming radius
    )
    fa = fps.select(F.col("file_id").alias("id_a"), F.col("fp").alias("fp_a"))
    fb = fps.select(F.col("file_id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(hamming_max))
    )


def simhash_md5_pairs(
    docs: DataFrame,
    k: int = 9,
    hamming_max: int = 8,
    n_hex: int = 15,
) -> DataFrame:
    """SimHash near-dup pairs over an md5 hash family — every step
    bit-for-bit SQL-reproducible, so a DuckDB oracle can verify the whole
    operator (the engine's xxhash kernel fingerprints are not
    SQL-expressible):

      * shingle hash = first ``n_hex`` hex chars of md5(normalized char
        k-gram) as a 4·n_hex-bit integer (``conv`` — JVM-side, matches
        DuckDB's hex cast);
      * per-bit ±1 sums as 4·n_hex codegen SUM aggregates in ONE groupBy —
        no row explosion (the naive per-bit explode would be 60× rows);
      * fingerprint = Σ (sum_b ≥ 0) << b, reassembled JVM-side;
      * candidates + verification via the exact pigeonhole machinery.
    """
    from functools import reduce
    from operator import add

    n_bits = 4 * n_hex
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    nd = docs.select("doc_id", norm.alias("ntext"))
    sh = char_shingles(nd, k, text_col="ntext")
    h = F.conv(F.substring(F.md5("shingle"), 1, n_hex), 16, 10).cast("long")
    hashed = sh.select("doc_id", h.alias("h"))
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    fp = reduce(
        add,
        [
            F.when(F.col(f"s{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
            for b in range(n_bits)
        ],
    )
    fps = sums.select(F.col("doc_id").alias("file_id"), fp.alias("fp"))
    return _pigeonhole_hamming_pairs(fps, hamming_max, n_bits).select(
        F.col("id_a"), F.col("id_b"), F.col("hamming")
    )


def containment_pairs(
    docs: DataFrame,
    k: int = 16,
    lcs_threshold: float | None = None,
    n_probes: int = 3,
) -> DataFrame:
    """Substring-containment dups: doc a verbatim inside doc b (a shorter).

    Candidate generation without O(N^2): if a ⊆ b then EVERY k-gram of a
    appears among b's k-grams — so joining on any single gram of a is
    lossless, and we pick a's globally RAREST gram (min corpus frequency,
    gram-hash tiebreak). A fixed choice like the prefix gram is a skew trap:
    a common prefix (license header, shebang line) shared by half the corpus
    makes one join key carry O(N²) candidate rows; the rarest gram bounds
    each probe's fan-out by that gram's corpus frequency (PPJoin's
    frequency-ordering idea applied to containment). Grams travel as
    xxhash64 longs — a hash collision can only ADD candidates, and the final
    JVM ``contains`` verification is exact.

    NEAR-containment mode (``lcs_threshold`` set): a doc embedded with a few
    edits fails the verbatim ``contains`` check, so borderline candidates
    (candidate-generated but not verbatim) are settled EXACTLY with the
    suffix-automaton longest-common-substring coverage
    (``verify.lcs_coverage`` — Blumer '85): a pair is kept when
    ``lcs_cov ≥ lcs_threshold``. Output gains the ``lcs_cov`` column
    (verbatim pairs carry 1.0). Candidate recall for edited embeds comes
    from probing the ``n_probes`` rarest grams of a instead of one — an
    edit of length e invalidates ≤ e + k − 1 of a's grams, so probing
    more than that many guarantees a surviving probe (deterministic for
    bounded edits; pick n_probes per the edit budget, fan-out stays bounded
    by the probed grams' corpus frequencies). Default mode (``None``) is
    unchanged: verbatim-only, (id_a, id_b) output.
    """
    from pyspark.sql import Window as W

    grams = char_shingles(docs, k).select(
        "doc_id", F.xxhash64("shingle").alias("gram")
    ).localCheckpoint()  # feeds corpus frequency + probe ranking + build side
    # corpus frequency as a window count (one shuffle by gram; the
    # groupBy+join form re-shuffled the full gram relation a second time)
    with_freq = grams.withColumn("freq", F.count("*").over(W.partitionBy("gram")))
    probe = (
        with_freq.withColumn(
            "rnk", F.row_number().over(W.partitionBy("doc_id").orderBy("freq", "gram"))
        )
        .filter(F.col("rnk") <= (1 if lcs_threshold is None else n_probes))
        .select(F.col("doc_id").alias("id_a"), "gram")
        .localCheckpoint()  # feeds the build-side prune AND the candidate join
    )
    # Build-side prune (lossless): the candidate join only ever matches grams
    # that are some doc's rarest gram — a tiny fraction of the full gram
    # relation. Without this semi-join the build side shuffles EVERY gram of
    # EVERY doc (~|text| rows/doc), which at content scale dwarfs the
    # candidates it can produce.
    build = grams.join(
        probe.select("gram").distinct(), "gram", "left_semi"
    ).select(F.col("doc_id").alias("id_b"), "gram")
    cands = (
        probe.join(build, [probe.gram == build.gram, probe.id_a != build.id_b])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    texts_a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    texts_b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    joined = (
        cands.join(texts_a, "id_a")
        .join(texts_b, "id_b")
        .filter(F.length("text_a") < F.length("text_b"))
    )
    if lcs_threshold is None:
        return joined.filter(F.col("text_b").contains(F.col("text_a"))).select(
            "id_a", "id_b"
        )

    from facematch_spark.operators.verify import settle_containment

    # one pass over the joined texts feeds both branches — cut the
    # candidate+join lineage so the verbatim filter and the LCS settle don't
    # re-run it
    joined = joined.localCheckpoint()
    verbatim = joined.filter(F.col("text_b").contains(F.col("text_a"))).select(
        "id_a", "id_b", F.lit(1.0).alias("lcs_cov")
    )
    borderline = joined.filter(~F.col("text_b").contains(F.col("text_a"))).select(
        "id_a",
        "id_b",
        F.col("text_a").alias("content_a"),
        F.col("text_b").alias("content_b"),
    )
    settled = settle_containment(borderline, lcs_threshold)
    return verbatim.unionByName(settled)


def dedup_clusters(docs: DataFrame, k: int, threshold: float) -> DataFrame:
    """Cluster assignment over exact n-gram-Jaccard edges: every doc gets a
    cluster_id = min doc_id of its connected component (singletons = self)."""
    from facematch_spark.operators.cluster import connected_components

    # pinned: connected_components reads its edges twice
    edges = ngram_jaccard_pairs(docs, k, threshold).select("id_a", "id_b").localCheckpoint()
    nodes = docs.select(F.col("doc_id").alias("file_id"))
    return (
        connected_components(edges, nodes=nodes)
        .select(F.col("file_id").alias("doc_id"), "cluster_id")
    )


def cluster_representatives(
    docs: DataFrame,
    k: int,
    threshold: float,
    score: F.Column | None = None,
) -> DataFrame:
    """The "which copy survives" step of training-data dedup: per duplicate
    cluster, elect one representative document and report the cluster size.

    Reference parity: the reference stops at reporting findings pairs
    (tasks.py:109-127) and leaves the keep/drop decision to the operator
    reading the HTML report; training pipelines need it materialized.

    ``score`` ranks candidates (default: document length — the common
    keep-the-longest heuristic; pass e.g. a quality_score column expression
    to keep-the-cleanest). Ties break on min doc_id, so the election is
    total-order deterministic. Singleton clusters elect themselves, so the
    output is a complete keep-manifest: exactly one row per cluster,
    ``anti-join docs on rep_id ∈ output`` is the drop set.

    Scale: one extra shuffle past clustering (groupBy cluster_id with
    map-side partial max_by — no window sort, no per-cluster row explosion);
    the score join is by doc_id on relations that already exist.
    """
    score = F.length("text").cast("long") if score is None else score
    clusters = dedup_clusters(docs, k, threshold)
    scored = clusters.join(docs.select("doc_id", score.alias("score")), "doc_id")
    # max_by over (score, -doc_id): highest score wins, lowest doc_id on ties
    return scored.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max_by("doc_id", F.struct(F.col("score"), (-F.col("doc_id")).alias("nid"))).alias("rep_id"),
        F.max("score").alias("rep_score"),
    )


def ngram_jaccard_pairs_between(
    left: DataFrame,
    right: DataFrame,
    k: int,
    threshold: float,
) -> DataFrame:
    """Exact char k-gram Jaccard pairs ≥ threshold BETWEEN two corpora — the
    cross-corpus form of :func:`ngram_jaccard_pairs` (same PPJoin filters,
    side-aware join). Returns ``(id_a, id_b, jaccard)`` with ``id_a`` from
    ``left`` and ``id_b`` from ``right``; within-side pairs are never
    generated, so a decontamination sweep costs the cross join only, not
    the full self-join of the union.

    The prefix filter orders shingles by UNION-wide frequency: the
    prefix-filter theorem holds for ANY fixed total order of the universe,
    so a shared ordering across both sides is lossless; frequency order is
    the selectivity heuristic, exactly as in the self-join form.

    Requires the two corpora's ``doc_id`` spaces to be disjoint (the
    verification tier keys its shingle arrays by doc_id alone); callers
    with overlapping id spaces must re-key one side first.
    """
    # shingle each side, tag, union — row-local, no join back to the docs
    sh_tagged = (
        char_shingles(left, k).withColumn("_side", F.lit(0))
        .unionByName(char_shingles(right, k).withColumn("_side", F.lit(1)))
        .select("doc_id", "_side", F.xxhash64("shingle").alias("sh"))
        .localCheckpoint()
    )
    cands = _ppjoin_candidates(sh_tagged, threshold, cross=True)
    shingles = sh_tagged.select(F.col("doc_id").alias("file_id"), F.col("sh").alias("shingle"))
    return V.exact_overlap(cands, shingles, threshold).drop("containment")


def decontaminate(
    train: DataFrame,
    held_out: DataFrame,
    k: int,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """Remove training docs that near-duplicate anything in a held-out set —
    the eval-decontamination sweep every LLM training pipeline runs before
    training (the reference has no cross-corpus mode at all; its loop
    compares one directory against itself, tasks.py:69-96).

    Returns ``(clean_train, contaminated)`` where ``contaminated`` carries
    ``(doc_id, matched_eval_id, jaccard)`` — the strongest held-out match
    per dropped doc, deterministically tie-broken — for the audit trail.
    Candidates come from the lossless cross-corpus PPJoin
    (:func:`ngram_jaccard_pairs_between`) and are verified with exact set
    intersection — no approximation in the drop decision.
    """
    pairs = ngram_jaccard_pairs_between(train, held_out, k, threshold)
    contaminated = pairs.groupBy("id_a").agg(
        F.max_by(
            "id_b", F.struct(F.col("jaccard"), (-F.col("id_b")).alias("nid"))
        ).alias("matched_eval_id"),
        F.max("jaccard").alias("jaccard"),
    ).withColumnRenamed("id_a", "doc_id")
    clean = train.join(contaminated.select("doc_id"), "doc_id", "left_anti")
    return clean, contaminated


def duplicate_spans(
    docs: DataFrame,
    k: int = 30,
    hash_grams: bool = False,
) -> DataFrame:
    """Exact-substring duplicate SPANS — the "remove the duplicated span,
    not the document" operator of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", public), re-expressed as a dataflow
    instead of a corpus-wide suffix array.

    A char position-window ``[p, p + k)`` of a document is *duplicated* when
    its k-gram also occurs in at least one OTHER document (cross-document by
    design: within-doc repetition — loops, license boilerplate repeated in
    one file — is legitimate structure and is NOT flagged; Lee et al.'s
    suffix-array form also counts within-doc repeats, documented delta).
    Overlapping/adjacent duplicated windows merge into maximal spans.

    Returns ``(doc_id, span_start, span_end, span_len)`` — 1-based char
    offsets, ``span_end`` exclusive, all BIGINT. Downstream a trainer cuts
    ``text[span_start, span_end)`` or drops docs whose duplicated-char
    fraction is high.

    Dataflow (all built-in expressions, no UDF):

      1. distinct per-doc k-grams (``char_shingles`` — linear-time on any
         doc length via the round-5 regex branch) → grams in ≥ 2 docs;
      2. doc prefilter: only docs containing ≥ 1 duplicated gram position-
         explode — on a mostly-clean corpus the O(total_chars) positional
         relation is built for the dirty sliver only;
      3. positional semi-join against the duplicated-gram set (equi-join,
         AQE-skew-safe: a hot gram concentrates per doc_id, not per key);
      4. per-doc gaps-and-islands merge into maximal spans
         (``_merge_spans``).

    ``hash_grams=True`` shuffles ``xxhash64(gram)`` (8 bytes) instead of the
    k-char string — the 100 TB shuffle diet. Collisions can only ADD false
    duplicated windows (expected extra windows ≈ n²/2⁶⁵ over n total grams —
    ~10⁻⁴ per doc-pair at 10¹⁴ grams); parity with the exact form is
    pytest-pinned on the fixture corpus.
    """
    eligible = docs.filter(F.length("text") >= k).select("doc_id", "text")
    grams = char_shingles(docs, k)
    key = (F.xxhash64("shingle") if hash_grams else F.col("shingle")).alias("g")
    gk = grams.select("doc_id", key)
    # small (duplicated grams only) but consumed by TWO semi-joins — the
    # checkpoint stops the full shingle groupBy from running twice, and is
    # the operator's one eager boundary (shingle + dedup-detection;
    # everything after is the lazy positional tail).
    dup_grams = (
        gk.groupBy("g")
        .agg(F.count("*").alias("n_docs"))  # per-doc-distinct → count == doc count
        .filter(F.col("n_docs") >= 2)
        .select("g")
        .localCheckpoint()
    )
    hit_docs = gk.join(dup_grams, "g", "left_semi").select("doc_id").distinct()

    pos_key = (F.xxhash64("gram") if hash_grams else F.col("gram")).alias("g")
    positions = (
        eligible.join(hit_docs, "doc_id", "left_semi")
        .select("doc_id", F.posexplode(_gram_array("text", k)).alias("idx", "gram"))
        .select("doc_id", (F.col("idx") + 1).alias("pos"), pos_key)
    )
    dup_pos = positions.join(dup_grams, "g", "left_semi").select("doc_id", "pos")
    return _merge_spans(dup_pos, k)


def _merge_spans(dup_pos: DataFrame, k: int) -> DataFrame:
    """Per-doc gaps-and-islands merge of duplicated k-char windows
    ``(doc_id, pos)`` into maximal spans ``(doc_id, span_start, span_end,
    span_len)``: a window break at gap > k, a running sum → island id, a
    groupBy island → span bounds. Windows at p < q merge iff ``q - p <= k``
    (coverage is contiguous up to adjacency)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0)
    return (
        dup_pos.withColumn("brk", brk)  # two steps: window-in-window is illegal
        .withColumn("island", F.sum("brk").over(w))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def duplicate_span_stats(
    docs: DataFrame,
    k: int = 30,
    drop_above: float = 0.8,
    hash_grams: bool = False,
) -> DataFrame:
    """The per-doc manifest a trainer consumes on top of ``duplicate_spans``:
    ``(doc_id, dup_chars, dup_frac, action)`` for EVERY doc, where action is

      * ``drop`` — duplicated fraction ≥ ``drop_above`` (the doc is mostly
        someone else's content);
      * ``cut``  — some duplicated spans, below the drop bar (cut the spans,
        keep the rest — Lee et al.'s remedy);
      * ``keep`` — no cross-doc duplicated window at all.

    Merged spans never overlap, so ``dup_chars = Σ span_len`` exactly.
    One extra groupBy + one join past ``duplicate_spans``; docs shorter than
    k carry dup_frac 0 / keep.
    """
    spans = duplicate_spans(docs, k=k, hash_grams=hash_grams)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_len").cast("long").alias("dup_chars")
    )
    base = docs.select("doc_id", F.greatest(F.length("text"), F.lit(1)).alias("n_chars"))
    out = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("dup_chars", F.lit(0).cast("long")).alias("dup_chars"),
        F.round(F.coalesce("dup_chars", F.lit(0)) / F.col("n_chars"), 4).alias("dup_frac"),
    )
    return out.withColumn(
        "action",
        F.when(F.col("dup_frac") >= drop_above, F.lit("drop"))
        .when(F.col("dup_chars") > 0, F.lit("cut"))
        .otherwise(F.lit("keep")),
    )


def within_doc_repeated_spans(docs: DataFrame, k: int = 20) -> DataFrame:
    """WITHIN-document repeated-substring spans — closes the documented
    delta of ``duplicate_spans`` (which is cross-document by design) against
    Lee et al. 2022's suffix-array form, which also surfaces repeats inside
    one document: per doc, maximal char intervals covered by k-char windows
    whose k-gram occurs ≥ 2 times in the SAME document (copy-pasted blocks,
    templated boilerplate within a file). Same output shape as
    ``duplicate_spans``: ``(doc_id, span_start, span_end, span_len)``,
    1-based, end-exclusive.

    Dataflow (all built-ins):

      1. prefilter: a doc has a within-doc repeat iff its position count
         (``length − k + 1``) exceeds its DISTINCT gram count — one tiny
         per-doc agg over the existing ``char_shingles`` (distinct) relation,
         so clean docs never position-explode (the analog of the cross-doc
         form's dirty-sliver prefilter);
      2. position-explode only the flagged docs; keep positions whose gram
         repeats in-doc via a window count over (doc_id, gram) — no
         aggregate-join round trip;
      3. the same gaps-and-islands merge as ``duplicate_spans``.

    Skew: a degenerate doc (one char repeated N times) concentrates all its
    positions in ONE (doc_id, gram) window partition — linear count, single
    task per doc, the same per-doc bound as any per-doc window. Cross-doc
    hot grams don't exist here by construction (the window key includes
    doc_id).
    """
    from pyspark.sql import Window as W

    eligible = docs.filter(F.length("text") >= k).select("doc_id", "text")
    n_distinct = char_shingles(docs, k).groupBy("doc_id").agg(
        F.count("*").alias("_nd")
    )
    rep_docs = (
        eligible.join(n_distinct, "doc_id")
        .filter(F.length("text") - F.lit(k - 1) > F.col("_nd"))
        .select("doc_id", "text")
    )
    positions = rep_docs.select(
        "doc_id", F.posexplode(_gram_array("text", k)).alias("idx", "gram")
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "gram")
    dup_pos = (
        positions.withColumn(
            "_n", F.count("*").over(W.partitionBy("doc_id", "gram"))
        )
        .filter(F.col("_n") >= 2)
        .select("doc_id", "pos")
    )
    return _merge_spans(dup_pos, k)
