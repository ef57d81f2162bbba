"""LSH band candidate generation.

Replaces the reference's core operator — the O(N^2) all-pairs nested loop
(``dedupe_images``, ``utils.py:228-246``, every worker holding the full
encodings dict ``__main__.py:112-116`` / ``tasks.py:88``) — with banding LSH:

    minhash signature → ``bands`` xxhash64 band keys (one Catalyst
    projection) → explode → self equi-join on (band_id, band_hash) with
    ``id_a < id_b`` → distinct pairs.

Two documents with Jaccard j collide in ≥1 band with probability
``1 - (1 - j^r)^b`` — at (b=32, r=4), j=0.8 collides w.p. ~0.9999998, which is
where the ≥0.99 recall target comes from.

Scale notes (the part the reference cannot do at all):
  * the join is a shuffled-hash equi-join on (band_id, band_hash):
    ``tiered_self_join`` hints ``shuffle_hash`` on the side that arrives
    hash-partitioned from its group-size window; AQE skew-join is the
    backstop;
  * hot bands (boilerplate: license headers, empty ``__init__.py`` files)
    are handled explicitly BEFORE the join by ``tiered_self_join``: groups
    above ``HOT_GROUP_CAP`` take a salted triangle join over
    ``SALT_BUCKETS`` buckets (lossless), and groups above
    ``cfg.max_band_group`` are dropped (recall impact documented in tests).
    A group of size g emits g(g-1)/2 pairs — capping g caps the quadratic
    term.
  * pair canonicalization ``id_a < id_b`` replaces the reference's
    seen-set bookkeeping (``utils.py:237-240``) and md5 pair keys
    (``utils.py:267-268``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from facematch_spark.config import DedupeConfig

# Rows per partition for the tiered/probe joins' key exchanges when the
# caller supplies the build relation's row count: 500k narrow (key, id) rows
# ≈ 50 MB of hashed-relation footprint per build — ~1.6 GB in flight with 32
# concurrent tasks, bounded at any corpus size. The un-spillable shuffled-
# hash build is the constraint (guide §3.1); the explicit partition count
# also stops AQE's byte-based coalescing from merging build partitions past
# the memory bound (observed at 1M vectors: 96 MB build exchange coalesced
# to ~2 partitions → build OOM).
TIER_ROWS_PER_PARTITION = 500_000

# Key groups above this size take the salted join in ``tiered_self_join`` and
# ``salted_probe_join``, so no reducer holds a whole hot group. Salting is
# lossless: the cap moves work between two physical plans, never a pair.
HOT_GROUP_CAP = 200
# Buckets a hot group is salted into; any count gives the same pairs.
SALT_BUCKETS = 16


def key_partitions(df: DataFrame, n_rows: int, rows_per_partition: int) -> int:
    """Partition count for a key exchange over ``n_rows`` rows: at most
    ``rows_per_partition`` rows each, and never fewer than the session's
    ``defaultParallelism``. An explicit count keeps an un-spillable
    shuffled-hash build bounded per task and stops AQE from coalescing the
    build exchange past that bound."""
    return max(df.sparkSession.sparkContext.defaultParallelism, n_rows // rows_per_partition + 1)


def band_explode(signatures: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """signatures → (file_id, band_id, band_hash), one row per band.

    One projection of built-in expressions, so the band keys are computed in
    the JVM and never leave it: band ``b`` hashes its MinHash slice
    ``minhash[b*r : (b+1)*r]`` together with ``b`` and ``cfg.seed`` with
    ``xxhash64``. Two files share a band key exactly when their slices in
    that band are equal, up to 64-bit collisions. Only ``status == 'ok'``
    rows enter (error-row filter applied ONCE, vs the reference re-checking
    inside the N^2 loop, ``utils.py:231-242``).
    """
    r = cfg.rows_per_band
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda b: F.xxhash64(F.slice("minhash", b * r + 1, F.lit(r)), b, F.lit(cfg.seed)),
    )
    ok = signatures.filter(F.col("status") == "ok")
    return ok.select("file_id", F.posexplode(keys).alias("band_id", "band_hash"))


def candidate_pairs(signatures: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """LSH candidate pair generation → (id_a, id_b) distinct, id_a < id_b.

    The band rows go through ``tiered_self_join`` on (band_id, band_hash):
    groups above ``HOT_GROUP_CAP`` are salted into ``SALT_BUCKETS`` buckets
    (lossless), and groups above ``cfg.max_band_group`` are dropped
    (boilerplate bands — license headers, empty ``__init__`` files; members
    are near-certainly co-candidates through their other b-1 bands; recall
    impact is measured in tests/test_skew.py).

    ``signatures`` is read twice (its ok-row count sizes the join, then the
    join itself), so callers pass a materialized relation: a table read or
    a pinned one. The band relation itself is not pinned; it is a JVM
    projection of those rows, with ``bands`` rows per ok row.
    """
    n_ok = signatures.filter(F.col("status") == "ok").count()
    return tiered_self_join(
        band_explode(signatures, cfg),
        keys=["band_id", "band_hash"],
        id_col="file_id",
        n_rows=n_ok * cfg.bands,
        drop_above=cfg.max_band_group,
    )


def tiered_self_join(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    n_rows: int,
    drop_above: int | None = None,
) -> DataFrame:
    """Size-tiered self equi-join on ``keys`` → distinct canonical pairs
    ``(id_a, id_b)`` with ``id_a < id_b``. The shared skew machinery for
    the bucketed candidate generators (MinHash bands, SimHash chunks):

      * g == 1                → dropped (no pair from a singleton group);
      * 1 < g ≤ HOT_GROUP_CAP → plain self equi-join on ``keys``;
      * HOT_GROUP_CAP < g (≤ drop_above)
                              → salted triangle join: members get bucket
                                ``b = xxhash64(id) % SALT_BUCKETS``, the left
                                side is replicated to buckets ≥ its own, the
                                right keeps its bucket — every unordered pair
                                lands on exactly one reducer, no reducer sees
                                more than (g/SALT_BUCKETS)² work. LOSSLESS —
                                same pairs as the plain join;
      * g > drop_above        → dropped entirely (only when ``drop_above``
                                is set; callers with an exactness guarantee —
                                SimHash pigeonhole — pass ``None``).

    Group sizes are computed with a window count over ``keys`` rather than a
    ``groupBy`` + self-join: the window shuffles the row relation ONCE (the
    same hash exchange the self-join needs anyway, so the join below reuses
    it), where the groupBy form exchanged the rows for the aggregation and
    then again for the size join — two extra full passes of the widest
    relation in the job through shuffle storage. Semantics are identical
    (``count(*) over (partition by keys)`` ≡ joined groupBy count).

    ``n_rows`` (the row count of ``rows``, supplied by the caller) SIZE-DERIVES
    the key exchange's partition count instead of taking the session
    constant: the normal tier's shuffled-hash build cannot spill
    (guide §3.1 risk — the analogous PPJoin prefix build OOM'd at 60M rows
    on cores-count partitions, caught by tools/scale_fallback_probe.py),
    so rows-per-partition is bounded at ``TIER_ROWS_PER_PARTITION``; the
    window and both join sides reuse the one explicit exchange.
    """
    from pyspark.sql.window import Window

    cap, s = HOT_GROUP_CAP, SALT_BUCKETS
    rows = rows.repartition(key_partitions(rows, n_rows, TIER_ROWS_PER_PARTITION), *keys)
    sized = rows.withColumn("g", F.count(F.lit(1)).over(Window.partitionBy(*keys)))

    normal = sized.filter((F.col("g") > 1) & (F.col("g") <= cap)).drop("g")
    hot_cond = F.col("g") > cap
    if drop_above is not None:
        hot_cond = hot_cond & (F.col("g") <= drop_above)
    hot = sized.filter(hot_cond).drop("g")

    # shuffled-hash (guide §3.1): both sides arrive already hash-partitioned
    # by ``keys`` from the window count's exchange, so the hint only swaps
    # the per-partition sort-merge for a hash build — no sort of the band
    # relation on either side.
    a = normal.alias("a")
    b = normal.alias("b").hint("shuffle_hash")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    normal_pairs = a.join(
        b, on=[*on, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))

    hot_b = hot.withColumn("bkt", F.pmod(F.xxhash64(id_col), F.lit(s)))
    hot_a = hot_b.withColumn("rep", F.explode(F.sequence(F.col("bkt"), F.lit(s - 1))))
    ha, hb = hot_a.alias("ha"), hot_b.alias("hb")
    on_hot = [F.col(f"ha.{k}") == F.col(f"hb.{k}") for k in keys]
    hot_pairs = (
        ha.join(
            hb,
            on=[
                *on_hot,
                F.col("ha.rep") == F.col("hb.bkt"),
                F.col(f"ha.{id_col}") != F.col(f"hb.{id_col}"),
            ],
        )
        .select(
            F.least(F.col(f"ha.{id_col}"), F.col(f"hb.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"ha.{id_col}"), F.col(f"hb.{id_col}")).alias("id_b"),
        )
    )

    return normal_pairs.unionByName(hot_pairs).dropDuplicates(["id_a", "id_b"])


def salted_probe_join(
    probes: DataFrame,
    build: DataFrame,
    keys: list[str],
    left_id: str,
    right_id: str,
    n_build: int,
) -> DataFrame:
    """Skew-safe ASYMMETRIC equi-join on ``keys`` → ``(left_id, right_id)``
    rows — the probe→build sibling of ``tiered_self_join`` for a candidate
    generator whose two sides differ (``similarity.ann_topk_lsh``: multi-probe
    ANN queries probing home buckets). Build-side groups
    above ``HOT_GROUP_CAP`` are salted: build rows get
    ``bkt = xxhash64(right_id) % SALT_BUCKETS`` and each probe row replicates
    across all buckets, so no reducer sees more than g/SALT_BUCKETS build
    rows per probe — LOSSLESS (same rows as the plain join; verified in
    tests/test_skew.py)."""
    cap, s = HOT_GROUP_CAP, SALT_BUCKETS
    sizes = build.groupBy(*keys).agg(F.count("*").alias("g"))
    build_sized = build.join(sizes, keys)
    probes_sized = probes.join(sizes, keys)  # inner: probes w/o build rows can't match anyway

    # The candidate joins pin SHUFFLE_HASH on the build side (guide §3.1):
    # the build⋈sizes relation is O(corpus) rows but its size ESTIMATE after
    # the aggregate join is unreliable — at 1M vectors the auto plan chose
    # BroadcastHashJoin over the ~1 GB relation and aborted on
    # spark.driver.maxResultSize (tools/scale_fallback_probe.py run E).
    # The (small, O(distinct keys)) `sizes` relation stays auto-planned:
    # its broadcast is what lets the big probe side stream un-shuffled.
    normal_p = probes_sized.filter(F.col("g") <= cap).drop("g")
    normal_b = build_sized.filter(F.col("g") <= cap).drop("g")
    # ``n_build`` (the build relation's row count — callers pin the build
    # side and pass its count) SIZE-DERIVES the join partitioning so the
    # un-spillable hash build stays bounded per task (same pattern as
    # tiered_self_join / the PPJoin prefix join; the run-E failure sequence
    # was auto-broadcast abort → hint-only SHJ build OOM → this). Explicit
    # partition counts also stop AQE from coalescing the build exchange past
    # the build's memory bound.
    parts = key_partitions(build, n_build, TIER_ROWS_PER_PARTITION)
    normal_p = normal_p.repartition(parts, *keys)
    normal_b = normal_b.repartition(parts, *keys)
    normal = normal_p.join(normal_b.hint("shuffle_hash"), keys).select(left_id, right_id)

    hot_b = build_sized.filter(F.col("g") > cap).drop("g").withColumn(
        "bkt", F.pmod(F.xxhash64(right_id), F.lit(s))
    )
    hot_p = probes_sized.filter(F.col("g") > cap).drop("g").withColumn(
        "bkt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    )
    hot_p = hot_p.repartition(parts, *keys, "bkt")
    hot_b = hot_b.repartition(parts, *keys, "bkt")
    hot = hot_p.join(hot_b.hint("shuffle_hash"), [*keys, "bkt"]).select(left_id, right_id)
    return normal.unionByName(hot)
