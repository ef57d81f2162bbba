"""Report sinks: CSV/Parquet pair reports + top/bottom-K edges + run summary.

Replaces the reference's Jinja2 HTML/CSV rendering (``utils.py:254-347``,
``report.html``, ``csv.html``): the full pair relation is written
distributed (``df.write.csv``); only the bounded top/bottom-K edge list is
collected driver-side (the reference collected *everything* and sorted in
memory, ``tasks.py:109``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from facematch_spark.config import DedupeConfig


def write_csv_report(report: DataFrame, out_dir: str, symmetric: bool = False) -> None:
    """Findings CSV (csv.html analog: idx,file1,file2,similarity —
    ``csv.html:1-2``) of a ``report_pairs`` relation, written distributed
    with a header.

    ``symmetric=True`` emits each pair in BOTH directions — the reference's
    ``generate_csv_report(symmetric=...)`` option (``utils.py:338-347``; its
    HTML report collapses them back client-side, ``report.html:161-198``).
    The default stays canonical ``id_a < id_b`` rows."""
    base = report.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("similarity"), "method", "path_a", "path_b"
    )
    if symmetric:
        swap = {"id_a": "id_b", "id_b": "id_a", "path_a": "path_b", "path_b": "path_a"}
        base = base.unionByName(base.select(*[F.col(swap.get(c, c)).alias(c) for c in base.columns]))
    base.write.mode("overwrite").option("header", True).csv(out_dir)


def _edge_order(strongest: bool) -> tuple:
    """Strongest-first (top) or weakest-first (bottom) pair order. Ties in
    jaccard break on (id_a, id_b), so a top/bottom-K cut is a pure function
    of the pair relation."""
    jaccard = F.desc("jaccard") if strongest else F.asc("jaccard")
    return jaccard, F.asc("id_a"), F.asc("id_b")


def top_bottom_edges_df(pairs: DataFrame, edges: int) -> DataFrame:
    """Deterministic top-K strongest + bottom-K weakest pairs as a DataFrame
    ``(which, pos, id_a, id_b, jaccard)`` — the oracle-checkable form of the
    reference's 'first/last N edges' report sections (``utils.py:270-298``).
    Each side plans as TakeOrderedAndProject (limit pushed into the sort);
    the row_number window then runs on the K-bounded result only, so the
    single-partition window is K rows, never the full relation."""
    from pyspark.sql import Window as W

    base = pairs.dropDuplicates(["id_a", "id_b"]).select("id_a", "id_b", "jaccard")

    def side(which: str, order) -> DataFrame:
        return (
            base.orderBy(*order)
            .limit(edges)
            .withColumn("pos", F.row_number().over(W.orderBy(*order)).cast("int"))
            .withColumn("which", F.lit(which))
        )

    top = side("top", _edge_order(strongest=True))
    bottom = side("bottom", _edge_order(strongest=False))
    return top.unionByName(bottom).select("which", "pos", "id_a", "id_b", "jaccard")


def top_bottom_edges(pairs: DataFrame, edges: int) -> tuple[list, list]:
    """Top-K strongest and bottom-K weakest unique pairs — the reference's
    'first/last N edges' report sections (``utils.py:270-298``), with every
    column of ``pairs``, in the same order as ``top_bottom_edges_df``. Spark
    plans both as TakeOrderedAndProject (limit pushed into the sort)."""
    base = pairs.dropDuplicates(["id_a", "id_b"])
    top = base.orderBy(*_edge_order(strongest=True)).limit(edges).collect()
    bottom = base.orderBy(*_edge_order(strongest=False)).limit(edges).collect()
    return top, bottom


def write_html_report(
    top: list,
    bottom: list,
    out_path: str,
    cfg: DedupeConfig,
    summary: dict | None = None,
) -> None:
    """Bounded HTML report (report.html analog, utils.py:254-335): metrics
    header + the ``top_bottom_edges`` tables, already collected, so it starts
    no Spark job; the full relation stays in the CSV/Parquet sink. Rendered
    with stdlib formatting (no Jinja2 dependency); no image previews — the
    payload is code, not faces."""

    def rows_html(rows) -> str:
        out = []
        for i, r in enumerate(rows):
            out.append(
                f"<tr><td>{i}</td><td>{r.id_a}</td><td>{r.id_b}</td>"
                f"<td>{r.jaccard:.4f}</td><td>{r.hamming}</td>"
                f"<td>{r.containment:.4f}</td><td>{r.method}</td></tr>"
            )
        return "\n".join(out)

    meta = "".join(
        f"<tr><th>{k}</th><td>{v}</td></tr>" for k, v in (summary or {}).items()
    )
    head = "<tr><th>#</th><th>id_a</th><th>id_b</th><th>jaccard</th><th>hamming</th><th>containment</th><th>method</th></tr>"
    html = f"""<!doctype html><html><head><meta charset="utf-8">
<title>dedupe report {cfg.config_hash}</title>
<style>body{{font-family:monospace}} table{{border-collapse:collapse}}
td,th{{border:1px solid #999;padding:2px 8px}}</style></head><body>
<h1>Dedupe report — config {cfg.table_suffix()}</h1>
<table>{meta}</table>
<h2>Top {len(top)} edges (strongest)</h2>
<table>{head}{rows_html(top)}</table>
<h2>Bottom {len(bottom)} edges (weakest)</h2>
<table>{head}{rows_html(bottom)}</table>
</body></html>"""
    with open(out_path, "w") as f:
        f.write(html)


def run_summary(counts: dict, times: dict, cfg: DedupeConfig) -> dict:
    """Metrics dict in the shape of the reference's run-info JSON
    (``__main__.py:134-152``: Files/Findings/Database counts + timings)."""
    total = sum(times.values())
    return {
        "config_hash": cfg.config_hash,
        "files": counts.get("files"),
        "findings": counts.get("pairs"),
        "clusters": counts.get("clusters"),
        "encoding_time_s": round(times.get("sign", 0.0), 3),
        "dedupe_time_s": round(times.get("dedupe", 0.0), 3),
        "cluster_time_s": round(times.get("cluster", 0.0), 3),
        "total_time_s": round(total, 3),
        "files_per_sec": round(counts.get("files", 0) / total, 3) if total else None,
    }
