"""SparkSession factory tuned for the dedup workload.

Replaces the reference's process-pool setup (``__main__.py:87-99``) and Celery
app config (``c.py:4-21``): parallelism is Spark's, not ours. Settings follow
the public Spark tuning guidance: AQE on (runtime coalesce + skew-join
backstop), Arrow on (all our UDFs are pandas/Arrow batched), shuffle
partitions sized to cores for local mode (a real cluster submit overrides via
spark-submit --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half of physical
    memory, capped at 16g, so the heap, the Python workers and the OS fit on
    a small host."""
    cap = 16 << 30
    try:
        half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    except (AttributeError, ValueError, OSError):  # memory size not reported
        half = cap
    return f"{min(half, cap) >> 20}m"


def get_spark(
    app_name: str = "facematch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]``. On a real
    cluster, pass ``master=None`` and let spark-submit decide; every setting
    here is safe under multi-executor deployment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism locally; on a cluster AQE coalesces from a
        # deliberately higher initial number.
        n = os.cpu_count() or 8
        if master.startswith("local["):
            inner = master[6:-1]
            if inner.isdigit():
                n = int(inner)
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # glibc malloc in the Python workers: by default every >128 KB numpy/
        # Arrow buffer is a fresh anonymous mmap, munmapped on free — so each
        # mapInPandas batch re-faults its working set from the kernel. On
        # hosts where fresh-page fault servicing is slow or contended (any
        # oversubscribed VM; this sandbox degrades ~400× in bad windows —
        # see bench/scaling.py), that churn lands in the hot loop. Raising
        # the mmap threshold to 1 GB and disabling trim keeps freed buffers
        # in the worker's heap for warm reuse; long-lived reused workers
        # (spark.python.worker.reuse, default on) amortize the first touch.
        # Worst-case footprint = one worker's peak batch working set, which
        # executor memory must bound anyway.
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        # Long multi-query sessions age without these: ContextCleaner frees
        # shuffle files / broadcast blocks only when the JVM happens to GC
        # (the references are weak), and the default periodic System.gc()
        # interval is 30 min — longer than a whole bench suite, so with a
        # 16 GB heap that never fills, shuffle data (here on tmpfs = RAM)
        # and broadcasts pile up for hundreds of queries. A 1-min periodic
        # GC drains the cleaner continuously. The SQL listener similarly
        # retains per-execution plan graphs/metrics for 1000 executions
        # even with the UI off — a multi-thousand-job session holds them
        # in driver memory for nothing.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.sql.ui.retainedExecutions", "32")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "5000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
