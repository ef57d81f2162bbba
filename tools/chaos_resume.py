"""Kill-mid-stage chaos resume (VERDICT r4 #7 / north-rule idempotency): run
the CLI pipeline over a generated corpus, crash the driver immediately after
one stage's checkpoint commits (``FM_CHAOS_EXIT_AFTER=<stage>`` — no Spark
shutdown, no cleanup), rerun to completion, and verify against an
uninterrupted clean-room run:

  * ``--stage pairs``: crash after the pairs table commits; clusters absent.
  * ``--stage signatures``: first complete a run on the first 90% of the
    corpus, then crash the full run after its signatures append commits; the
    base run's pairs and clusters must be gone at the kill, so the resume
    cannot read them as if they covered the batch.

Checks: pairs and clusters are row-identical (byte-equal content) between
the resumed store and the clean store, and the sign-stage lineage proves no
file was signed twice: Σ rows_out over lineage_sign == n_files exactly.

Usage: python tools/chaos_resume.py DIR [--stage {pairs,signatures}]
           [--n-base 7000] [--cpus N]
DIR holds the corpus and the stores. Prints one JSON line with the verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_cli(corpus: str, out: str, cpus: str, env_extra: dict | None = None) -> subprocess.CompletedProcess:
    env = dict(os.environ, **(env_extra or {}))
    return subprocess.run(
        [sys.executable, "-m", "facematch_spark.cli", corpus, "--out", out,
         "--threshold", "0.5", "--master", f"local[{cpus}]"],
        capture_output=True, text=True, timeout=2400, cwd=REPO, env=env,
    )


def check(r: subprocess.CompletedProcess, what: str) -> None:
    if r.returncode != 0:
        print(r.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"{what} failed")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("dir", help="working directory for the corpus and the stores")
    p.add_argument("--stage", choices=["pairs", "signatures"], default="pairs")
    p.add_argument("--n-base", type=int, default=7000)
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count()))
    args = p.parse_args(argv)

    from facematch_spark.fixtures import corpus_to_pandas, generate_corpus

    os.makedirs(args.dir, exist_ok=True)
    corpus = os.path.join(args.dir, f"corpus{args.n_base}.parquet")
    pdf = corpus_to_pandas(generate_corpus(n_base=args.n_base, seed=11, edge_rows=False))
    pdf.to_parquet(corpus, row_group_size=16384)
    store_chaos = os.path.join(args.dir, "store_chaos")
    store_clean = os.path.join(args.dir, "store_clean")
    for d in (store_chaos, store_clean):
        shutil.rmtree(d, ignore_errors=True)

    if args.stage == "signatures":
        # a completed base run leaves pairs/clusters that lack the batch
        base = os.path.join(args.dir, f"base{args.n_base}.parquet")
        pdf.iloc[: len(pdf) * 9 // 10].to_parquet(base, index=False)
        check(run_cli(base, store_chaos, args.cpus), "base run")

    # run 1: crash right after the stage's checkpoint commits
    r1 = run_cli(corpus, store_chaos, args.cpus, {"FM_CHAOS_EXIT_AFTER": args.stage})
    killed_ok = r1.returncode == 137
    at_kill = set(d.split("_")[0] for d in os.listdir(store_chaos))
    later = {"signatures": {"pairs", "clusters"}, "pairs": {"clusters"}}[args.stage]
    committed_later_absent = args.stage in at_kill and not (later & at_kill)

    # run 2: resume to completion (no reset); run 3: uninterrupted clean run
    check(run_cli(corpus, store_chaos, args.cpus), "resume run")
    check(run_cli(corpus, store_clean, args.cpus), "clean run")

    import duckdb

    con = duckdb.connect()

    def table(root: str, prefix: str):
        d = next(x for x in os.listdir(root) if x.startswith(prefix + "_"))
        return f"read_parquet('{root}/{d}/*.parquet')"

    def rows(root: str, prefix: str, cols: str):
        return con.execute(f"SELECT {cols} FROM {table(root, prefix)} ORDER BY {cols}").fetchall()

    pair_cols = "id_a, id_b, jaccard, hamming, containment, method"
    pairs = rows(store_chaos, "pairs", pair_cols)
    pairs_equal = pairs == rows(store_clean, "pairs", pair_cols)
    clusters = rows(store_chaos, "clusters", "file_id, cluster_id")
    clusters_equal = clusters == rows(store_clean, "clusters", "file_id, cluster_id")

    signed = con.execute(f"SELECT sum(rows_out) FROM {table(store_chaos, 'lineage_sign')}").fetchone()[0]
    no_resign = int(signed) == len(pdf)

    verdict = {
        "stage": args.stage,
        "killed_with_137": killed_ok,
        "stage_committed_later_absent_at_kill": committed_later_absent,
        "pairs_byte_equal_to_clean_run": pairs_equal,
        "clusters_byte_equal_to_clean_run": clusters_equal,
        "n_pair_rows": len(pairs),
        "n_cluster_rows": len(clusters),
        "sign_lineage_rows_out": int(signed),
        "n_files": len(pdf),
        "signatures_not_recomputed": no_resign,
        "pass": killed_ok and committed_later_absent and pairs_equal and clusters_equal and no_resign,
    }
    print(json.dumps(verdict))
    return 0 if verdict["pass"] else 1


if __name__ == "__main__":
    sys.exit(main())
