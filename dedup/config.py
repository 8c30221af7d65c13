"""Pipeline configuration, validated eagerly.

Mirrors the reference's fail-fast constructor contract: FrequentDirections
validates k >= 1, d >= 1, d >= 2k at construction and throws on violation
(reference: decomposition/FrequentDirections.java:156-181). We validate the
dedup config the same way and derive a stable config hash used to key
checkpoints, so a resume from mismatched config is refused exactly like
heapify refuses a mismatched family/ser-ver (FrequentDirections.java:117-126).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field

from dedup.buckets import DEFAULT_BUCKET_CAP


@dataclass(frozen=True)
class DedupConfig:
    """Configuration for the near-duplicate pipeline.

    Defaults are the reference config from BASELINE.json north_rule:
    5-gram shingles, MinHash 128 permutations, LSH 16 bands x 8 rows,
    64-bit SimHash.
    """

    shingle_k: int = 5           # tokens per shingle
    num_perm: int = 128          # MinHash permutations
    bands: int = 16              # LSH bands
    rows_per_band: int = 8       # LSH rows per band
    simhash_bits: int = 64       # SimHash fingerprint width
    seed: int = 42               # master seed for all hash families
    jaccard_threshold: float = 0.7   # verification threshold (est. Jaccard)
    simhash_max_hamming: int = 3     # SimHash near-dup Hamming radius
    band_bucket_cap: int = DEFAULT_BUCKET_CAP  # max docs per LSH bucket
    min_content_len: int = 1         # shorter content skips the signature stages
                                     # (still exact-deduped; singleton otherwise)
    substring_min_len: int = 512     # suffix-array pass: min verbatim block length
    substring_chunk: int = 1 << 20   # suffix pass: verification window half-width
                                     # around each matched-fingerprint anchor
                                     # (bounded task cost at any doc size)

    def __post_init__(self) -> None:
        # fail fast, never coerce (reference: FrequentDirections.java:156-181,
        # 192-195 — dimension mismatch throws)
        if self.shingle_k < 1:
            raise ValueError(f"shingle_k must be >= 1, got {self.shingle_k}")
        if self.num_perm < 1:
            raise ValueError(f"num_perm must be >= 1, got {self.num_perm}")
        if self.bands < 1 or self.rows_per_band < 1:
            raise ValueError(
                f"bands and rows_per_band must be >= 1, got {self.bands}x{self.rows_per_band}"
            )
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band must equal num_perm: "
                f"{self.bands}*{self.rows_per_band} != {self.num_perm}"
            )
        if self.simhash_bits != 64:
            raise ValueError(f"only 64-bit SimHash is supported, got {self.simhash_bits}")
        if not (0.0 < self.jaccard_threshold <= 1.0):
            raise ValueError(f"jaccard_threshold must be in (0,1], got {self.jaccard_threshold}")
        if self.band_bucket_cap < 2:
            raise ValueError(f"band_bucket_cap must be >= 2, got {self.band_bucket_cap}")
        if self.substring_min_len < 8:
            raise ValueError(f"substring_min_len must be >= 8, got {self.substring_min_len}")
        if self.substring_chunk < self.substring_min_len:
            raise ValueError(
                f"substring_chunk ({self.substring_chunk}) must be >= "
                f"substring_min_len ({self.substring_min_len}) or verification "
                "could never confirm a block"
            )
        if self.min_content_len < 0:
            raise ValueError(f"min_content_len must be >= 0, got {self.min_content_len}")

    def config_hash(self) -> str:
        """Stable hash of semantically relevant fields; keys checkpoint rows.

        Analog of the reference's serialized preamble (family ID + ser-ver +
        k + d) that makes images self-describing (PreambleUtil.java:68-82).
        """
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]
