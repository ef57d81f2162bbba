"""Seeded inputs for the benchmark workloads.

Each workload is a list of ``source_files`` rows (the program sees only the
parquet written from them) plus the groups of row indices the generator knows
to be related, which the correctness oracle scores recall against.

* ``fresh_corpus`` -- ``fixtures.generate_corpus`` with its edge rows: about
  30% exact, near and containment duplicates, signed into an empty store.
* ``incremental_append`` -- a base of revision chains (successive one-line
  edits of one file, each revision a new commit of the same path) that is
  checkpointed before the timed run, then an appended batch of about 10%:
  the next revision of most chains plus unrelated new files. Every chain
  starts from a generated file cut to ``START_LINES`` lines, so the work does
  not swing with the few file lengths a seed draws.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

from facematch_spark.fixtures import generate_corpus

# Sizes are bounded by the benchmark's time budget: every invocation pays a
# JVM start and a cold pipeline pass before it can time anything.
SIZES = {
    "full": {"fresh_bases": 400, "chains": 24, "revisions": 10, "chain_tips": 18, "unrelated": 6},
    "tiny": {"fresh_bases": 20, "chains": 4, "revisions": 5, "chain_tips": 2, "unrelated": 1},
}
START_LINES = 60


@dataclass
class Workload:
    name: str
    rows: list[dict]          # final input, base rows first
    groups: list[list[int]]   # row indices the generator made related
    n_base: int               # leading rows checkpointed before the timed run

    @property
    def signed(self) -> int:
        """Files the timed run has to sign."""
        return len(self.rows) - self.n_base


def fresh_corpus(seed: int, size: str) -> Workload:
    corpus = generate_corpus(n_base=SIZES[size]["fresh_bases"], seed=seed, edge_rows=True)
    by_base: dict[int, list[int]] = {}
    for gp in corpus.golden_pairs:
        by_base.setdefault(gp["ia"], [gp["ia"]]).append(gp["ib"])
    return Workload("fresh_corpus", corpus.rows, list(by_base.values()), n_base=0)


def _edit(content: str, rng: random.Random, vocab: list[str]) -> str:
    """One small revision: replace, insert or delete a single line."""
    lines = content.split("\n")
    i = rng.randrange(len(lines))
    new = f"    {rng.choice(vocab)}_{rng.choice(vocab)} = {rng.choice(vocab)}({rng.randint(0, 999)})"
    op = rng.random()
    if op < 0.4:
        lines[i] = new
    elif op < 0.8 or len(lines) <= 4:
        lines.insert(i, new)
    else:
        del lines[i]
    return "\n".join(lines)


def incremental_append(seed: int, size: str) -> Workload:
    sz = SIZES[size]
    n_start = sz["chains"] + sz["unrelated"]
    corpus = generate_corpus(n_base=4 * n_start, seed=seed, edge_rows=False)
    derived = {gp["ib"] for gp in corpus.golden_pairs}
    starts = [
        {**r, "content": "\n".join(r["content"].split("\n")[:START_LINES]) + "\n"}
        for i, r in enumerate(corpus.rows)
        if i not in derived and r["content"].count("\n") >= START_LINES
    ][:n_start]
    if len(starts) < n_start:
        raise ValueError(f"seed {seed} drew {len(starts)} files of {START_LINES}+ lines, need {n_start}")
    rng = random.Random(seed)
    vocab = [f"rev{i}" for i in range(64)]

    def revision(start: dict, chain: int, rev: int, content: str) -> dict:
        commit = hashlib.sha1(f"chain:{seed}:{chain}:{rev}".encode()).hexdigest()
        return {**start, "commit": commit, "content": content}

    base: list[dict] = []
    tips: list[tuple[int, str]] = []  # (chain, content of its last revision)
    chains: list[list[int]] = []
    for c, start in enumerate(starts[: sz["chains"]]):
        content, members = start["content"], []
        for rev in range(sz["revisions"]):
            if rev:
                content = _edit(content, rng, vocab)
            members.append(len(base))
            base.append(revision(start, c, rev, content))
        chains.append(members)
        tips.append((c, content))

    batch: list[dict] = []
    for c, content in rng.sample(tips, sz["chain_tips"]):
        chains[c].append(len(base) + len(batch))
        batch.append(revision(starts[c], c, sz["revisions"], _edit(content, rng, vocab)))
    batch += starts[sz["chains"] : n_start]
    return Workload("incremental_append", base + batch, chains, n_base=len(base))


WORKLOADS = {"fresh_corpus": fresh_corpus, "incremental_append": incremental_append}
