"""Benchmark of the shipped ``run_dedupe`` pipeline (see README.md here).

    python3 perfbench/run.py --workload fresh_corpus --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. Scratch files live in
``.perfbench/`` under the current directory and are removed on exit, except
the per-invocation record ``.perfbench/record-<workload>-<seed>-t<trace>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "3g"
MIN_RUNS = 1  # timed runs per invocation, even when --seconds is already spent
# A timed run during which the hypervisor stole more than NOISY_STEAL of the
# CPU time is answered with more runs, until quiet runs outnumber noisy ones,
# so the median is a quiet run. MAX_RUNS and RETRY_UNTIL_S (since process
# start) bound what this costs in a busy window.
NOISY_STEAL = 0.025
MAX_RUNS = 3
RETRY_UNTIL_S = 70
# The status store must keep every stage of a run until its counters are read.
STATUS_RETENTION = {"spark.ui.retainedJobs": "10000", "spark.ui.retainedStages": "10000"}


def parse_args(argv):
    from inputs import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="minimum measured wall time")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full", help="tiny is for the smoke test")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python workers into
    ``work`` and size the driver heap, before any JVM starts."""
    for d in ("spark-local", "tmp", "stores"):
        os.makedirs(os.path.join(work, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM started from here, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def start_spark(work: str):
    from facematch_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={"spark.local.dir": os.path.join(work, "spark-local"), **STATUS_RETENTION},
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Bench:
    def __init__(self, args, work: str, spark) -> None:
        from facematch_spark.config import DedupeConfig
        from inputs import WORKLOADS
        from oracle import Oracle

        self.args, self.work = args, work
        self.cfg = DedupeConfig()
        self.spark, self.sc = spark, spark.sparkContext
        self.marks = {"session": time.perf_counter() - T_PROCESS}
        self.wl = WORKLOADS[args.workload](args.seed, args.size)
        self.oracle = Oracle(self.wl.rows, self.wl.groups, self.cfg)
        self.input_path = self._stage(self.wl.rows, "input.parquet")
        self.base_path = self._stage(self.wl.rows[: self.wl.n_base], "base.parquet") if self.wl.n_base else None
        self.marks["staged"] = time.perf_counter() - T_PROCESS
        self.pristine: str | None = None
        self.reference: dict | None = None
        self.runs: list[dict] = []
        self._n_store = 0

    def _stage(self, rows: list[dict], name: str) -> str:
        import pandas as pd

        from facematch_spark import schema as S

        path = os.path.join(self.work, name)
        pd.DataFrame(rows, columns=S.SOURCE_FILES.fieldNames()).to_parquet(path, index=False)
        return path

    def new_store(self) -> str:
        self._n_store += 1
        return os.path.join(self.work, "stores", f"s{self._n_store}")

    def pipeline(self, input_path: str, store_dir: str):
        from facematch_spark.plans.pipeline import run_dedupe
        from facematch_spark.sources.checkpoint import StageStore
        from facematch_spark.sources.io import read_source_files

        source = read_source_files(self.spark, input_path)
        return run_dedupe(self.spark, source, self.cfg, store=StageStore(store_dir, self.cfg))

    def collect(self, res) -> dict:
        return {
            "sigs": res.signatures.select("file_id", "repo", "path", "commit").toPandas(),
            "pairs": res.pairs.toPandas(),
            "clusters": res.clusters.toPandas(),
        }

    def warm_up(self) -> None:
        """Untimed passes, the same in every invocation of a workload. The
        first pays the cold start (JVM JIT, Python workers, codegen). Without
        a base it is a pass over the input. With a base it checkpoints the
        base (the pristine store each timed run starts from), and a second
        pass computes the from-scratch reference on the final input."""
        from spans import release_blocks

        if not self.base_path:
            self.pipeline(self.input_path, self.new_store())
        else:
            self.pristine = self.new_store()
            self.pipeline(self.base_path, self.pristine)
            self.reference = self.collect(self.pipeline(self.input_path, self.new_store()))
        release_blocks(self.spark)

    def prepare_store(self) -> str:
        store = self.new_store()
        if self.pristine:
            shutil.copytree(self.pristine, store)
        return store

    def timed_run(self, i: int) -> dict:
        """One closed-loop pipeline run; checks and clean-up stay outside the
        timed window."""
        from oracle import same_tables
        from spans import cpu_times, release_blocks, stage_stats, steal_share

        rec: dict = {"run": i}
        store = self.prepare_store()
        group = f"run-{i}"
        cpu0 = cpu_times()
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            res = self.pipeline(self.input_path, store)
            rec["run_s"] = time.perf_counter() - t0
            self.sc.setJobGroup(f"check-{i}", "check")
            rec["steal_share"] = steal_share(cpu0, cpu_times())
            rec["load1"] = os.getloadavg()[0]
            rec["times"] = dict(res.times)
            rec["spark"] = stage_stats(self.sc, group)
            out = self.collect(res)
            chk = self.oracle.check(out["sigs"], out["pairs"], out["clusters"])
            if self.reference is not None:
                chk["problems"] += same_tables(
                    out, {k: self.reference[k] for k in ("pairs", "clusters")}
                )
            rec.update(chk)
            rec["ok"] = not chk["problems"]
        except Exception as e:  # a failed run is counted, not fatal
            rec.update(ok=False, problems=[f"{type(e).__name__}: {e}"])
        finally:
            shutil.rmtree(store, ignore_errors=True)
            release_blocks(self.spark)
        if not rec["ok"]:
            print(f"run {i} failed: {rec['problems']}", file=sys.stderr)
        return rec

    def measure(self) -> float:
        """Timed runs until ``--seconds`` have passed, at least ``MIN_RUNS``
        ran and noisy runs are outnumbered (see ``NOISY_STEAL``). Returns the
        set-up time."""
        setup_s = time.perf_counter() - T_PROCESS
        t_start = time.perf_counter()
        while True:
            self.runs.append(self.timed_run(len(self.runs)))
            if len(self.runs) < MIN_RUNS or time.perf_counter() - t_start < self.args.seconds:
                continue
            noisy = sum(r.get("steal_share", 0.0) > NOISY_STEAL for r in self.runs)
            if (
                2 * noisy < len(self.runs)
                or len(self.runs) >= MAX_RUNS
                or time.perf_counter() - T_PROCESS > RETRY_UNTIL_S
            ):
                return setup_s

    def end_to_end(self, setup_s: float) -> dict:
        timed = [r["run_s"] for r in self.runs if "run_s" in r]
        run_s = statistics.median(timed) if timed else 0.0  # 0 only when every run raised
        recall = min((r.get("recall", 0.0) for r in self.runs), default=0.0)
        precision = min((r.get("precision", 0.0) for r in self.runs), default=0.0)
        return {
            "run_s": (run_s, "s"),
            "files_per_s": (self.wl.signed / run_s if run_s else 0.0, "1/s"),
            "setup_s": (setup_s, "s"),
            "recall": (recall, "ratio"),
            "precision": (precision, "ratio"),
        }

    def per_layer(self) -> tuple[dict, list[dict]]:
        from kernels import hashing_us_per_doc
        from spans import Tracer, release_blocks

        done = [r for r in self.runs if "spark" in r]  # completed, checked or not
        if not done:
            raise RuntimeError("no timed run completed; per-layer metrics need one")
        run_s = statistics.median(r["run_s"] for r in done)
        med = lambda f: statistics.median(f(r) for r in done)  # noqa: E731

        tracer = Tracer(self.spark, "trace")
        store = self.prepare_store()
        traced = traced_pass(self, tracer, store)
        shutil.rmtree(store, ignore_errors=True)
        release_blocks(self.spark)
        sp = tracer.get

        texts = [r["content"] for r in self.wl.rows[self.wl.n_base :]]
        kern = hashing_us_per_doc(texts, self.cfg)
        m = {f"hashing.{k}_us_per_doc": (v, "us") for k, v in kern.items()}
        m.update({
            "signatures.sign_s": (sp("signatures.sign")["wall_s"], "s"),
            "signatures.sign_busy_share": (sp("signatures.sign")["busy_share"], "ratio"),
            "signatures.explode_s": (sp("signatures.explode")["wall_s"], "s"),
            "signatures.shingle_rows": (sp("signatures.explode")["rows"], "count"),
            "lsh.candidates_s": (sp("lsh.candidates")["wall_s"], "s"),
            "lsh.band_rows": (traced["band_rows"], "count"),
            "lsh.candidate_pairs": (sp("lsh.candidates")["rows"], "count"),
            "lsh.shuffle_bytes": (sp("lsh.candidates")["shuffle_bytes"], "bytes"),
            "verify.s": (sp("verify")["wall_s"], "s"),
            "verify.jobs": (sp("verify")["jobs"], "count"),
            "verify.shuffle_bytes": (sp("verify")["shuffle_bytes"], "bytes"),
            "verify.spill_bytes": (sp("verify")["spill_bytes"], "bytes"),
            "verify.busy_share": (sp("verify")["busy_share"], "ratio"),
            "verify.yield": (sp("verify")["rows"] / max(1, sp("lsh.candidates")["rows"]), "ratio"),
            "cluster.s": (sp("cluster")["wall_s"], "s"),
            "cluster.edges": (sp("verify")["rows"], "count"),
            "cluster.clusters": (sp("cluster")["clusters"], "count"),
            "checkpoint.detect_s": (sp("checkpoint.detect")["wall_s"], "s"),
            "checkpoint.pending_s": (sp("checkpoint.pending")["wall_s"], "s"),
            "checkpoint.pending_rows": (sp("checkpoint.pending")["rows"], "count"),
            "checkpoint.merge_write_s": (sp("checkpoint.merge_write")["wall_s"], "s"),
            "checkpoint.bytes_written": (traced["bytes_written"], "bytes"),
            "pipeline.sign_s": (med(lambda r: r["times"]["sign"]), "s"),
            "pipeline.dedupe_s": (med(lambda r: r["times"]["dedupe"]), "s"),
            "pipeline.cluster_s": (med(lambda r: r["times"]["cluster"]), "s"),
            "spark.jobs": (med(lambda r: r["spark"]["jobs"]), "count"),
            "spark.tasks": (med(lambda r: r["spark"]["tasks"]), "count"),
            "spark.failed_tasks": (max(r["spark"]["failed_tasks"] for r in done), "count"),
            "spark.shuffle_bytes": (med(lambda r: r["spark"]["shuffle_bytes"]), "bytes"),
            "spark.spill_bytes": (med(lambda r: r["spark"]["spill_bytes"]), "bytes"),
            "spark.gc_s": (med(lambda r: r["spark"]["gc_s"]), "s"),
            "spark.task_cpu_s": (med(lambda r: r["spark"]["cpu_s"]), "s"),
            "host.steal_share": (max(r["steal_share"] for r in done), "ratio"),
            "host.load1": (max(r["load1"] for r in done), "count"),
            "trace.overhead_s": (sp("pipeline")["wall_s"] - run_s, "s"),
        })
        return m, tracer.spans


def traced_pass(bench: Bench, tracer, store_dir: str) -> dict:
    """``run_dedupe``'s stages again, one layer call per span, each call's
    output materialized inside its span."""
    from pyspark.sql import functions as F

    from facematch_spark import schema as S
    from facematch_spark.operators import cluster as C
    from facematch_spark.operators import lsh as L
    from facematch_spark.operators import signatures as SIG
    from facematch_spark.operators import verify as V
    from facematch_spark.sources.checkpoint import StageStore, split_lineage, with_partition_lineage
    from facematch_spark.sources.io import read_source_files
    from spans import bytes_since

    spark, cfg = bench.spark, bench.cfg
    store = StageStore(store_dir, cfg)
    t_wall = time.time()
    with tracer.span("pipeline"):
        source = read_source_files(spark, bench.input_path)
        with tracer.span("checkpoint.detect"):
            drift = store.detect_non_append(source, spark)
        if drift["updated"] or drift["deleted"]:
            raise RuntimeError(f"workload input is not append-only: {drift}")
        with tracer.span("checkpoint.pending") as s:
            pending = store.pending_inputs(source, spark).localCheckpoint()
            s["rows"] = pending.count()
        with tracer.span("signatures.sign") as s:
            new_sigs = SIG.sign_documents(pending, cfg).localCheckpoint()
            s["rows"] = new_sigs.count()
        with tracer.span("checkpoint.merge_write"):
            merged = store.merge_signatures(new_sigs, spark).localCheckpoint()
            data, lineage = split_lineage(with_partition_lineage(merged, "sign", cfg.config_hash), "sign", cfg.config_hash)
            store.write("signatures", data)
            lineage.write.mode("append").parquet(store.path("lineage_sign"))
            spark.catalog.refreshByPath(store.path("signatures"))
            sigs = store.read(spark, "signatures", S.SIGNATURES)
        with tracer.span("lsh.candidates") as s:
            cands = L.candidate_pairs(sigs, cfg).localCheckpoint()
            s["rows"] = cands.count()
        with tracer.span("signatures.explode") as s:
            shingles = SIG.explode_shingles(source, cfg).localCheckpoint()
            s["rows"] = shingles.count()
        with tracer.span("verify") as s:
            pairs = V.verify_candidates(cands, sigs, shingles, cfg).localCheckpoint()
            s["rows"] = pairs.count()
        with tracer.span("checkpoint.write_pairs"):
            store.write("pairs", pairs)
            pairs = store.read(spark, "pairs", S.PAIRS)
        with tracer.span("cluster") as s:
            clusters = C.connected_components(pairs, nodes=sigs.select("file_id")).localCheckpoint()
            s["clusters"] = clusters.select("cluster_id").distinct().count()
        with tracer.span("checkpoint.write_clusters"):
            store.write("clusters", clusters)
            store.append_metrics(spark, [{"stage": "cluster", "rows_out": s["clusters"]}])
    written = bytes_since(store_dir, t_wall)
    n_ok = sigs.filter(F.col("status") == S.STATUS_OK).count()  # band_explode's input, outside the spans
    return {"band_rows": n_ok * cfg.bands, "bytes_written": written}


def main(argv=None) -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(ROOT, "facematch_spark", "plans", "pipeline.py")):
        print("perfbench: run from the repository root (facematch_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    spark = None
    try:
        spark = start_spark(work)
        bench = Bench(args, work, spark)
        bench.warm_up()
        setup_s = bench.measure()
        spans = []
        if args.trace:
            metrics, spans = bench.per_layer()
        else:
            metrics = bench.end_to_end(setup_s)
        record = {"workload": args.workload, "seed": args.seed, "setup_s": setup_s, "marks": bench.marks, "runs": bench.runs, "spans": spans}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(ROOT, ".perfbench", f"record-{args.workload}-{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    failed = sum(not r["ok"] for r in bench.runs)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
