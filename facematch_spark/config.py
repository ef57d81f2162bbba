"""Frozen run configuration.

The reference keys all on-disk state by ``(model_name, detector_backend)``
(``utils.py:56-59``: ``_{prefix}_{model}_{backend}.json``) so runs at
different configs coexist. Here the analog is a frozen dataclass whose
``config_hash`` keys checkpoint tables; validation mirrors the reference's
model/backend compatibility gate (``__main__.py:61-71``) — fail fast on the
driver before any job is launched.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import ClassVar


@dataclass(frozen=True)
class DedupeConfig:
    """The values the CLI sets are fields; the rest are class constants.
    Both key the checkpoint (``config_hash``)."""

    # --- shingling: char k-grams of the normalized text ---
    k: int = 9
    # --- MinHash ---
    num_perm: int = 128
    bands: int = 32
    rows_per_band: int = 4
    # --- threshold (reference default: dedupe threshold 0.4,
    #     __main__.py:162-166; ours defaults to the FIXTURES.md config) ---
    jaccard_threshold: float = 0.8
    # --- determinism ---
    seed: int = 42

    # --- constants: no caller varies them. ``shingle_kind`` and
    #     ``normalize`` name what the kernels always do (lowercase + collapse
    #     whitespace, then char k-grams); they are not switches ---
    shingle_kind: ClassVar[str] = "char"
    normalize: ClassVar[bool] = True
    simhash_hamming_max: ClassVar[int] = 3
    containment_threshold: ClassVar[float] = 0.95
    # band groups larger than this are dropped (recall-documented; salting
    # of hot groups below it is lossless: lsh.HOT_GROUP_CAP)
    max_band_group: ClassVar[int] = 5000
    # longer content is status too_large
    max_content_bytes: ClassVar[int] = 1 << 20

    def __post_init__(self) -> None:
        if self.k < 1:
            raise ValueError("k must be >= 1")
        if self.bands * self.rows_per_band != self.num_perm:
            # analog of validate_model_backend abort + suggest_backend hint
            # (__main__.py:56-71): fail fast, and tell the user a valid
            # nearby config instead of just rejecting
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"must equal num_perm ({self.num_perm}); "
                f"valid (bands, rows_per_band) for num_perm={self.num_perm}: "
                f"{suggest_band_configs(self.num_perm)}"
            )
        if not (0.0 <= self.jaccard_threshold <= 1.0):
            raise ValueError("jaccard_threshold must be in [0,1]")

    @property
    def config_hash(self) -> str:
        """Stable 12-hex-char key for checkpoint table naming (the analog of
        the reference's config-suffixed file names, utils.py:56-59).

        The payload holds every annotated name, fields and constants alike,
        so editing a constant re-keys the checkpoint too. ``kernel_version``
        is folded in alongside them: the hash functions behind MinHash/SimHash signatures are part of the
        config's identity. Without it, changing the signature kernel (as
        round 2 did, xor-mix64 → u32 multiply-add) leaves old checkpoints
        keyed identically, and an incremental resume silently merges
        old-family and new-family signatures — cross-boundary minhash
        estimates compare unrelated hash families and near-dup pairs across
        the boundary vanish. Bump ``functions.hashing.KERNEL_VERSION``
        whenever any signature kernel changes observable output."""
        from facematch_spark.functions.hashing import KERNEL_VERSION

        settings = {name: getattr(self, name) for name in self.__annotations__}
        payload = json.dumps({**settings, "kernel_version": KERNEL_VERSION}, sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:12]

    def table_suffix(self) -> str:
        return f"k{self.k}_p{self.num_perm}_b{self.bands}_{self.config_hash}"


def suggest_band_configs(num_perm: int, limit: int = 5) -> list[tuple[int, int]]:
    """Valid (bands, rows_per_band) factorizations of ``num_perm``, most
    selective first (small rows_per_band → higher recall). The analog of the
    reference's ``suggest_backend`` (``__main__.py:56-59``): when a config is
    rejected, say what WOULD work."""
    out = [(num_perm // r, r) for r in range(1, num_perm + 1) if num_perm % r == 0]
    return out[:limit]
