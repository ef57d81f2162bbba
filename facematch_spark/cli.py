"""CLI entry point mirroring the reference's flags (``__main__.py:156-202``):

    python -m facematch_spark.cli INPUT --out DIR [--reset] [--report]
        [--threshold 0.8] [--report-threshold 0.8] [--edges 10]
        [--k 9] [--num-perm 128] [--bands 32] [--rows-per-band 4]
        [--queue]  (accepted for parity; Spark IS the queue)

Submit to a cluster with:
    spark-submit --py-files facematch_spark.zip jobs/run_dedupe.py ...
"""

from __future__ import annotations

import argparse
import json
import sys

from facematch_spark.config import DedupeConfig
from facematch_spark.plans.pipeline import report_pairs, run_dedupe
from facematch_spark.report import run_summary, top_bottom_edges, write_csv_report, write_html_report
from facematch_spark.session import get_spark
from facematch_spark.sources.checkpoint import StageStore
from facematch_spark.sources.io import read_source_files


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="facematch-spark", description=__doc__)
    p.add_argument("input", help="Iceberg table name or parquet path of source_files")
    p.add_argument("--out", required=True, help="checkpoint/output root directory")
    p.add_argument("--format", choices=["parquet", "jsonl", "csv"], default="parquet",
                   help="input format: parquet/Iceberg (default) or a raw JSONL/CSV "
                        "drop (malformed rows quarantine to OUT/quarantine instead of "
                        "failing the run)")
    p.add_argument("--reset", action="store_true", help="drop existing stage tables (utils.py:77-81 analog)")
    p.add_argument("--report", action="store_true", help="write CSV report + print top/bottom edges")
    p.add_argument("--symmetric", action="store_true",
                   help="emit each CSV pair in both directions (utils.py:338-347 analog)")
    p.add_argument("--threshold", type=float, default=0.8, help="dedupe jaccard threshold")
    p.add_argument("--report-threshold", type=float, default=0.8)
    p.add_argument("--edges", type=int, default=10)
    p.add_argument("--k", type=int, default=9)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--rows-per-band", type=int, default=4)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--master", default=None)
    p.add_argument("--queue", action="store_true", help="accepted for reference parity (no-op: Spark schedules)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = DedupeConfig(
        k=args.k,
        num_perm=args.num_perm,
        bands=args.bands,
        rows_per_band=args.rows_per_band,
        jaccard_threshold=args.threshold,
        seed=args.seed,
    )
    spark = get_spark(master=args.master)
    store = StageStore(args.out, cfg)
    if args.reset:
        store.reset()
    # Iceberg snapshot pinning (S1): a run whose predecessor COMPLETED pins
    # the CURRENT table head, so rows appended since then enter through the
    # incremental anti-join; only a resume of an INCOMPLETE run reuses the
    # stored pin (it must re-scan exactly what the interrupted run saw — a
    # moving view would let appended rows slip past the already-signed
    # anti-join). A never-expiring pin would freeze the input forever.
    # On the Parquet fallback current_snapshot_id is None and reads are live.
    meta = store.load_run_meta()
    snap = meta.get("snapshot_id")
    if "/" not in args.input:
        from facematch_spark.sources.io import current_snapshot_id, resolve_snapshot_pin

        snap = resolve_snapshot_pin(meta, current_snapshot_id(spark, args.input))
        if snap is not None:
            meta = {**meta, "snapshot_id": snap, "run_complete": False}
            store.save_run_meta(meta)
    if args.format == "parquet":
        source = read_source_files(spark, args.input, snapshot_id=snap)
    else:
        from facematch_spark.sources.io import read_source_files_text, split_corrupt

        source, bad = split_corrupt(
            read_source_files_text(spark, args.input, fmt=args.format)
        )
        n_bad = bad.count()
        if n_bad:
            qpath = f"{args.out}/quarantine_{cfg.table_suffix()}"
            bad.write.mode("overwrite").parquet(qpath)
            print(
                json.dumps({"quarantined_rows": n_bad, "quarantine_path": qpath}),
                file=sys.stderr,
            )
    res = run_dedupe(spark, source, cfg, store=store)
    if snap is not None:
        store.save_run_meta({**meta, "run_complete": True})
    summary = run_summary(res.counts, res.times, cfg)
    print(json.dumps(summary))
    if args.report:
        report = report_pairs(res.pairs, res.signatures, args.report_threshold)
        write_csv_report(report, f"{args.out}/report_csv_{cfg.table_suffix()}", symmetric=args.symmetric)
        top, bottom = top_bottom_edges(report, args.edges)
        write_html_report(top, bottom, f"{args.out}/report_{cfg.table_suffix()}.html", cfg, summary)
        for r in top:
            print(f"TOP {r.id_a} {r.id_b} {r.jaccard:.4f} {r.method}")
        for r in bottom:
            print(f"BOTTOM {r.id_a} {r.id_b} {r.jaccard:.4f} {r.method}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
