"""Correctness oracle, written independently of the program's kernels.

Shingles are the exact byte k-grams of the normalized content (no hashing),
so a recomputed Jaccard or containment that matches the program's is
evidence that its hashed shingle sets, its verify joins and its thresholds
are right, not that it agrees with itself.

* ``recall``    -- oracle pairs found / oracle pairs. Oracle pairs are the
  pairs inside the generator's related groups whose exact Jaccard reaches
  ``cfg.jaccard_threshold``.
* ``precision`` -- emitted pairs whose reported jaccard and containment equal
  the recomputation and whose ``method`` names exactly the thresholds they
  pass / emitted pairs.
* clusters must be the connected components of the emitted pairs, labelled
  by their smallest ``file_id``, over every signed file.
"""

from __future__ import annotations

import re

import pandas as pd

_WS = re.compile(r"\s+")
RECALL_MIN = 0.99


class Oracle:
    def __init__(self, rows: list[dict], groups: list[list[int]], cfg) -> None:
        self.rows = rows
        self.groups = groups
        self.cfg = cfg
        self.index = {(r["repo"], r["path"], r["commit"]): i for i, r in enumerate(rows)}
        self._sets: dict[int, frozenset] = {}
        self._pairs: set[tuple[int, int]] | None = None

    def shingles(self, i: int) -> frozenset:
        s = self._sets.get(i)
        if s is None:
            text = self.rows[i]["content"]
            if self.cfg.normalize:
                text = _WS.sub(" ", text.lower()).strip()
            data = text.encode("utf-8", errors="surrogatepass")
            k = self.cfg.k
            s = self._sets[i] = frozenset(data[j : j + k] for j in range(len(data) - k + 1))
        return s

    def overlap(self, i: int, j: int) -> tuple[float, float]:
        a, b = self.shingles(i), self.shingles(j)
        inter = len(a & b)
        return inter / (len(a) + len(b) - inter), inter / min(len(a), len(b))

    def oracle_pairs(self) -> set[tuple[int, int]]:
        if self._pairs is None:
            thr = self.cfg.jaccard_threshold
            self._pairs = {
                (a, b)
                for g in self.groups
                for x, a in enumerate(sorted(g))
                for b in sorted(g)[x + 1 :]
                if self.overlap(a, b)[0] >= thr
            }
            if not self._pairs:
                raise ValueError("workload has no oracle pairs; recall would be undefined")
        return self._pairs

    def expected_method(self, jac: float, con: float, hamming: int) -> str:
        c = self.cfg
        return "+".join(
            name
            for name, ok in (
                ("jaccard", jac >= c.jaccard_threshold),
                ("simhash", hamming <= c.simhash_hamming_max),
                ("containment", con >= c.containment_threshold),
            )
            if ok
        )

    def check(self, sigs: pd.DataFrame, pairs: pd.DataFrame, clusters: pd.DataFrame) -> dict:
        """Score one run's committed tables. Returns recall, precision and a
        list of problems; the run is correct iff the list is empty."""
        problems: list[str] = []
        row_of = {
            int(fid): self.index.get((repo, path, commit))
            for fid, repo, path, commit in zip(sigs["file_id"], sigs["repo"], sigs["path"], sigs["commit"])
        }
        if len(sigs) != len(self.rows) or None in row_of.values() or len(set(row_of.values())) != len(self.rows):
            problems.append(f"signatures hold {len(sigs)} rows for {len(self.rows)} input files")

        found, good = set(), 0
        for r in pairs.itertuples(index=False):
            a, b = row_of.get(int(r.id_a)), row_of.get(int(r.id_b))
            if a is None or b is None or r.id_a >= r.id_b:
                continue
            found.add((min(a, b), max(a, b)))
            jac, con = self.overlap(a, b)
            if (
                abs(jac - r.jaccard) <= 1e-12
                and abs(con - r.containment) <= 1e-12
                and r.method
                and r.method == self.expected_method(jac, con, int(r.hamming))
            ):
                good += 1
        precision = good / len(pairs) if len(pairs) else 1.0
        oracle = self.oracle_pairs()
        recall = len(oracle & found) / len(oracle)
        if precision < 1.0:
            problems.append(f"precision {precision:.6f}: {len(pairs) - good} of {len(pairs)} pairs disagree")
        if recall < RECALL_MIN:
            problems.append(f"recall {recall:.6f} < {RECALL_MIN}")

        parent: dict[int, int] = {int(f): int(f) for f in sigs["file_id"]}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pairs["id_a"], pairs["id_b"]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {f: find(f) for f in parent}
        got = dict(zip(clusters["file_id"].astype("int64"), clusters["cluster_id"].astype("int64")))
        if len(clusters) != len(got) or got != expected:
            problems.append("clusters are not the connected components of the pairs")
        return {"recall": recall, "precision": precision, "problems": problems}


def same_tables(got: dict[str, pd.DataFrame], want: dict[str, pd.DataFrame]) -> list[str]:
    """Order-insensitive, exact equality of committed output tables."""
    problems = []
    for name, w in want.items():
        g = got[name]
        keys = list(w.columns)
        g = g[keys].sort_values(keys).reset_index(drop=True)
        w = w.sort_values(keys).reset_index(drop=True)
        if not g.equals(w):
            problems.append(f"{name} differ from a from-scratch run on the same input")
    return problems
