"""One run of the shipped pipeline, ``plans/pipeline.py run_dedupe`` (sign →
MinHash/LSH → exact verify → cluster, each stage checkpointed in a fresh
``StageStore`` under ``SPARK_LOCAL_DIRS`` as the CLI does under ``--out``),
for the scaling-efficiency measurement. Prints one JSON line: {"files": N, "wall_s": T,
"files_per_sec": F, "pairs": P, "clusters": K, "cpus": C, "stages":
{"sign_s", "pairs_s", "cluster_s"}}.

Usage: python jobs/scaling_job.py INPUT_PARQUET CPUS
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# abspath first: invoked as `python jobs/scaling_job.py` the raw __file__ is
# relative and rsplit would resolve the repo root to "jobs"
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from facematch_spark import schema as S
from facematch_spark.config import DedupeConfig
from facematch_spark.plans.pipeline import run_dedupe
from facematch_spark.session import get_spark
from facematch_spark.sources.checkpoint import StageStore


def main() -> int:
    inp, cpus = sys.argv[1], sys.argv[2]
    cfg = DedupeConfig(jaccard_threshold=0.5)
    # Shuffle-width knob (identical at BOTH levels of a pair — the protocol
    # compares executor counts, never plans). 64 gives the wide (8-slot)
    # level 8 waves per shuffle stage.
    n_parts = int(os.environ.get("SCALING_PARTITIONS", "64"))
    # IDENTICAL plan at every parallelism level: fixed shuffle width and
    # level-independent scan splits (see maxPartitionBytes below), so the
    # only variable between N and 4N is executor count — exactly what a
    # cluster scale-out varies. (Letting each level pick its own widths
    # confounds the comparison: an 8-way shuffle has worse straggler tails
    # than a 64-way one.)
    # Heap sized to the corpus, not maxed out: every fresh heap page is a
    # host page fault on this time-shared VM (measured up to 6 s / 32 MB in
    # degraded windows), so a 48g heap is a stall bomb — 16g fits the 348k
    # corpus's band relation + signature checkpoint with room (override via
    # SPARK_DRIVER_MEMORY for larger corpora). Identical at both parallelism
    # levels, mirroring a real cluster. network.timeout 300s rides out
    # full-GC pauses that would otherwise kill the local heartbeat.
    # Shuffle/spill on tmpfs: a real cluster's 4N executors bring 4N local
    # SSDs, so disk bandwidth scales WITH the cluster; this sandbox has one
    # shared virtio disk whose writeback throughput varies minute-to-minute
    # (measured: the same 8-core pairs stage 28 s with a warm page cache vs
    # 73-122 s when vda writeback stalled — invisible to the CPU busy-loop
    # gate). tmpfs models the executor-local disk both widths get equally;
    # the ~3 GB of shuffle fits trivially in the 126 GB of RAM.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/fm_spark_local")
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        app_name=f"scaling_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=n_parts,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
            "spark.network.timeout": "300s",
            "spark.local.dir": local_dir,
            # Fault the whole heap in at JVM startup (standard production
            # executor flag): this host's fresh-page fault servicing swings
            # from ~6 GB/s to <0.1 GB/s between minutes, and a heap growing
            # mid-run turns those windows into multi-second allocation
            # stalls inside the timed stages. Pre-touch moves all heap
            # faults into (untimed, gated) session bring-up.
            "spark.driver.extraJavaOptions": "-Xms"
            + os.environ.get("SPARK_DRIVER_MEMORY", "16g")
            + " -XX:+AlwaysPreTouch",
            # Fine, LEVEL-INDEPENDENT scan splits. maxSplitBytes =
            # min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism));
            # 2 MB < bytes/parallelism at every width ≤ 195 cores on the
            # 390 MB corpus, so BOTH levels compute the identical ~200-split
            # plan (the default 128 MB read the file as FOUR tasks, idling
            # 4 of the wide level's 8 cores through the whole scan — the
            # round-5 sign-stage 'serial term'). 2 MB splits over the
            # 1024-row (~0.7-3.2 MB) row groups keep sign tasks near-uniform
            # so the wide level's straggler tail is ≤ one ~2 s task (the 8 MB
            # splits over 2.6-13 MB groups left a ~29 s largest task — a
            # ~0.92 wide-level utilization cap measured in campaign 3).
            # Content then flows scan → sign directly: the old
            # repartition(64) pushed 400 MB of content through an exchange
            # written by those 4 scan tasks — the heaviest shuffle in the
            # job, carrying the one column that never needs to move.
            # Downstream shuffles (bands, joins) stay at the fixed n_parts
            # width and move only ~KB-scale signatures.
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.files.openCostInBytes": "1m",
        },
    )
    # page-cache warm of the input (untimed): models executor-local data — a
    # real cluster's scan reads node-local SSD/cache, and this host's virtio
    # disk throughput swings minute-to-minute (the axis tmpfs shuffle dirs
    # already remove for the shuffle side)
    with open(inp, "rb") as fh:
        while fh.read(1 << 24):
            pass
    source = spark.read.schema(S.SOURCE_FILES).parquet(inp)
    # warm the JVM/scan metadata AND the Python workers/netty arenas so the
    # measurement is the dataflow, not session bring-up (a cluster's
    # executors are warm long-lived processes; here every fresh page fault
    # can cost ~4 ms in this host's bad windows). Both parallelism levels
    # get the identical treatment; the warmup runs the FULL dataflow shape
    # over a tiny slice — sign alone is shuffle-free, so a sign-only warmup
    # left the first timed shuffle to allocate every sorter buffer, netty
    # arena and join hash map fresh, and to JIT the exchange/join code paths,
    # exactly inside the fault-exposed pairs stage (round-3's 28 s vs 73 s
    # pairs-stage spread was dominated by that fresh-allocation window).
    # Each run checkpoints its stages in a fresh store under the local dir,
    # as the CLI does under --out; the stores go when the job ends.
    store_root = tempfile.mkdtemp(prefix="fm_scaling_store_", dir=local_dir)
    try:
        run_dedupe(spark, source.limit(int(cpus) * 64), cfg, StageStore(f"{store_root}/warm", cfg))
        # drop the warmup's localCheckpoint blocks so the timed run starts
        # with an empty block manager (leaked blocks degrade later queries —
        # the round-3 bench.py lesson); the warmed arenas/JIT state survive.
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(m.keySet().toArray()):
            m.get(rid).unpersist()

        t0 = time.perf_counter()
        res = run_dedupe(spark, source, cfg, StageStore(f"{store_root}/run", cfg))
        wall = time.perf_counter() - t0
    finally:
        shutil.rmtree(store_root, ignore_errors=True)

    print(json.dumps({
        "files": res.counts["files"],
        "wall_s": round(wall, 2),
        "files_per_sec": round(res.counts["files"] / wall, 2),
        "pairs": res.counts["pairs"],
        "clusters": res.counts["clusters"],
        "cpus": cpus,
        "stages": {
            "sign_s": round(res.times["sign"], 2),
            "pairs_s": round(res.times["dedupe"], 2),
            "cluster_s": round(res.times["cluster"], 2),
        },
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
