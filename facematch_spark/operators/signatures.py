"""Signature stage: content → (sha256, MinHash, SimHash, status).

Replaces the reference's encode stage (``encode_faces``, ``utils.py:169-198``,
driven by multiprocessing ``__main__.py:87-99`` / Celery ``tasks.py:59-72``):
DeepFace embeddings become shingle-set signatures; the per-file Python loop
becomes one ``mapInPandas`` over Arrow batches with NumPy-vectorized kernels;
error sentinels (``utils.py:19-24``) become a typed ``status`` column.

Scale notes (100 TB target):
  * the stage is embarrassingly parallel — no shuffle; partition count is
    whatever the scan gives (``spark.sql.files.maxPartitionBytes`` sizes it);
  * output is bounded per row (num_perm longs + 1 long + scalars) regardless
    of content size, so the signatures table is ~1000x smaller than input —
    all downstream stages operate on it, never re-reading content except the
    verification/containment join;
  * per-row invariant: sha256(content) is computed here and compared at every
    stage boundary (BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from facematch_spark import schema as S
from facematch_spark.config import DedupeConfig
from facematch_spark.functions import hashing as H

_WS_RE = re.compile(r"\s+")
# control chars outside \t\n\r ⇒ binary junk escaped into the string
_CTRL_RE = re.compile(r"[\x00-\x08\x0E-\x1F]")


def normalize_content(text: str) -> str:
    """Lowercase + collapse whitespace runs to single spaces + strip.

    Must stay in sync with the SQL form used by oracle queries:
    ``trim(regexp_replace(lower(text), '\\s+', ' '))``.
    """
    return _WS_RE.sub(" ", text.lower()).strip()


def _shingles(norm: str, cfg: DedupeConfig) -> np.ndarray:
    # surrogatepass: a lone surrogate must not abort the whole job from
    # inside the UDF
    return H.char_shingle_hashes(norm.encode("utf-8", errors="surrogatepass"), cfg.k)


def shingle_hashes_for(text: str, cfg: DedupeConfig) -> np.ndarray:
    """Distinct shingle hashes for one document under ``cfg``."""
    return _shingles(normalize_content(text), cfg)


def _doc_shingles(text: str | None, cfg: DedupeConfig) -> tuple[str, np.ndarray | None]:
    """One document's status and, when it is ``ok``, its distinct shingle
    hashes; the text is normalized once for both."""
    if text is None or text.strip() == "":
        return S.STATUS_EMPTY, None
    if len(text) > cfg.max_content_bytes:
        return S.STATUS_TOO_LARGE, None
    if _CTRL_RE.search(text[:4096]) is not None:
        return S.STATUS_NON_TEXT, None
    norm = normalize_content(text)
    # fewer than k chars: an empty shingle set, whose all-sentinel MinHash
    # would LSH-collide with every other (k chars encode to ≥ k bytes, so
    # a text past the check has at least one k-gram)
    if len(norm) < cfg.k:
        return S.STATUS_TOO_SHORT, None
    return S.STATUS_OK, _shingles(norm, cfg)


def _ensure_parallel(df: DataFrame) -> DataFrame:
    """Small single-file inputs arrive as one scan partition (a 34 MB
    parquet is below maxPartitionBytes and often one row group), which would
    serialize every mapInPandas stage onto one core. Repartition up to the
    cluster's default parallelism when the scan under-partitions — a
    negligible shuffle that unlocks full-width signing. Real multi-file /
    multi-row-group inputs already arrive wide and are left untouched."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def sign_documents(df: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """SOURCE_FILES-shaped DataFrame → SIGNATURES-shaped DataFrame.

    ``file_id = xxhash64(repo, path, commit)`` is computed JVM-side (stays in
    whole-stage codegen); the heavy per-content work runs in one Arrow-batched
    ``mapInPandas``.
    """
    df = _ensure_parallel(df)
    gammas = H.perm_gammas(cfg.num_perm, cfg.seed)
    cfg_bc = cfg  # frozen dataclass, pickles cheaply into the UDF closure

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            minh = np.empty(n, dtype=object)
            simh = np.zeros(n, dtype=np.int64)
            nsh = np.zeros(n, dtype=np.int32)
            clen = np.zeros(n, dtype=np.int32)
            status = np.empty(n, dtype=object)
            texts = pdf["content"].to_numpy()
            for i in range(n):
                text = texts[i]
                status[i], sh = _doc_shingles(text, cfg_bc)
                clen[i] = 0 if text is None else len(text)
                minh[i] = None
                if sh is None:
                    continue
                nsh[i] = sh.size
                sig = H.minhash_signature(sh, gammas)
                minh[i] = H.to_signed(sig).tolist()
                simh[i] = np.uint64(H.simhash_fingerprint(sh)).view(np.int64)
            out = pd.DataFrame(
                {
                    "file_id": pdf["file_id"].to_numpy(),
                    "repo": pdf["repo"].to_numpy(),
                    "path": pdf["path"].to_numpy(),
                    "commit": pdf["commit"].to_numpy(),
                    "lang": pdf["lang"].to_numpy(),
                    "sha256": pdf["sha256"].to_numpy(),
                    "minhash": minh,
                    "simhash": simh,
                    "n_shingles": nsh,
                    "content_len": clen,
                    "status": status,
                }
            )
            yield out

    # sha256 row invariant computed JVM-side (whole-stage codegen, frees UDF
    # time); the UDF passes it through. Parity with hashlib over UTF-8 bytes
    # holds for all well-formed text (pytest-checked); lone surrogates — the
    # one divergence (JVM substitutes, hashlib surrogatepass round-trips) —
    # are classified non-text content anyway.
    with_id = df.withColumn("file_id", F.xxhash64("repo", "path", "commit")).withColumn(
        "sha256", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
    )
    return with_id.mapInPandas(batches, schema=S.SIGNATURES)


def explode_shingles(df: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """content → exploded distinct shingle-hash rows ``(file_id, shingle)``.

    Used by the exact-Jaccard verification path; emitted from the same
    vectorized kernels so hashes agree with the MinHash stage.
    """
    df = _ensure_parallel(df)
    cfg_bc = cfg

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list[np.ndarray] = []
            hs: list[np.ndarray] = []
            fids = pdf["file_id"].to_numpy()
            texts = pdf["content"].to_numpy()
            for i in range(len(pdf)):
                _, sh = _doc_shingles(texts[i], cfg_bc)
                if sh is not None:
                    ids.append(np.full(sh.size, fids[i], dtype=np.int64))
                    hs.append(H.to_signed(sh))
            if ids:
                yield pd.DataFrame({"file_id": np.concatenate(ids), "shingle": np.concatenate(hs)})
            else:
                yield pd.DataFrame({"file_id": pd.Series([], dtype="int64"), "shingle": pd.Series([], dtype="int64")})

    if "file_id" not in df.columns:
        df = df.withColumn("file_id", F.xxhash64("repo", "path", "commit"))
    return df.mapInPandas(batches, schema="file_id long, shingle long")
