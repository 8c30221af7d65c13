"""LSH candidate generation: band buckets → pairs, with explicit skew defense.

Skew is the north-rule hazard (SURVEY §7.4-2): a hot band bucket (license
headers, empty files, one giant repo) makes the within-bucket self-join
quadratic in one task. Three defenses, in order:

1. sha256-exact dedup BEFORE MinHash (pipeline.py) — verbatim copies never
   reach LSH at all.
2. bucket cap: buckets larger than cfg.band_bucket_cap are dropped from pair
   generation and their pair count is recorded in metrics — the compensative
   accounting discipline of the reference's svAdjustment_ (§2.3-5): mass we
   subtract is tracked, never silently lost.
3. salted self-join for hot-but-eligible buckets (dedup/buckets.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup.buckets import bucket_audit, capped_self_pairs
from dedup.config import DedupConfig
from dedup.session import materialize

BAND_KEYS = ["band_id", "band_hash"]


def lsh_audit(bands_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Compensative accounting surfaced as a query — the analog of
    getSingularValues(compensative=true) exposing svAdjustment_ at query time
    (reference: FrequentDirections.java:284-304, SURVEY §2.3-5): the raw
    result (pair slots actually eligible) next to the mass subtracted by the
    bucket cap (pair slots dropped), so recall can be audited without rerun.

    One row: (n_buckets, n_multi_buckets, n_dropped_buckets,
    eligible_pair_slots, dropped_pair_slots, candidate_recall_floor) — a
    projection of buckets.bucket_audit.
    """
    return bucket_audit(bands_df, BAND_KEYS, cfg.band_bucket_cap).select(
        "n_buckets", "n_multi_buckets", "n_dropped_buckets",
        "eligible_pair_slots", "dropped_pair_slots",
        F.col("pair_recall_floor").alias("candidate_recall_floor"),
    )


def candidate_pairs(
    bands_df: DataFrame,
    cfg: DedupConfig,
    materialize_bands: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped) from band buckets.

    pairs:   (key_a, key_b, n_bands_hit) with key_a < key_b, distinct
    dropped: (band_id, band_hash, bucket_size) for capped buckets — the
             compensative record (recall auditing, SURVEY §2.3-5)

    The pairs come from buckets.capped_self_pairs (count pass, cap, in-place
    cold explosion, salted hot join); n_bands_hit counts the buckets each
    pair shares.
    """
    # the band table is consumed by BOTH passes (bucket counts + the member
    # join) and each pass would otherwise re-run the upstream banding kernel
    # through Python — ReuseExchange does not fire across the differing join
    # shapes (measured 2x on the flagship). localCheckpoint materializes the
    # 24-byte-per-row band table once, without the plan-cache aliasing
    # hazard a persist() inside a library operator would create.
    # materialize_bands=False: callers whose band table is already a cheap
    # JVM explode over materialized/persisted signatures (r8 fused bands —
    # pipeline.run_dedup, the registry's sig-consumer queries) skip the
    # extra checkpoint pass; re-deriving bands from the signature store
    # costs one projection, not a Python kernel re-run.
    if materialize_bands:
        bands_df = materialize(bands_df, eager=False)
    # no persist here: within one action Catalyst reuses the aggregation
    # across the dropped/eligible branches, and persisting inside the
    # operator would silently serve stale cached plans to later queries
    pairs, dropped = capped_self_pairs(
        bands_df, BAND_KEYS, "doc_key", cfg.band_bucket_cap
    )
    pairs = pairs.groupBy("key_a", "key_b").agg(F.count("*").alias("n_bands_hit"))
    return pairs, dropped
