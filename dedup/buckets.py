"""The capped, salted bucket join — the one skew discipline every LSH lane
(MinHash bands, SimHash blocks, hyperplane buckets, IVF cells, streaming
new-vs-stored joins) runs its pair generation through.

Skew is the north-rule hazard (SURVEY §7.4-2): one hot bucket (licence
headers, all-zero fingerprints, a dense embedding region) makes a
within-bucket join quadratic in one task. The discipline, in order:

1. count pass: per-bucket row counts, map-side combinable — partial counts
   shuffle, never members.
2. cap: buckets over `cap` rows are dropped BEFORE any member row is
   buffered, and their mass is reported (`dropped`, `bucket_audit`) — the
   compensative accounting of the reference's svAdjustment_ (§2.3-5): mass
   we subtract is tracked, never silently lost.
3. salt: buckets with at least HOT_BUCKET_MIN rows spread across SALTS
   tasks — one side keeps one id-hash salt, the other replicates to every
   salt, so each pair meets exactly once. Cold buckets explode their pairs
   in place (self joins) or join at salt 0 (probe joins).

Salting changes only how work spreads across tasks, never the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HOT_BUCKET_MIN = 64  # buckets below this skip salting (one task is fine)
SALTS = 8
DEFAULT_BUCKET_CAP = 2000

# INTEGER slot arithmetic (ADVICE r4): exact bigint C(n, 2) — a double-based
# form silently loses precision once pair slots exceed 2^53; bigint
# overflows loudly under ANSI beyond ~4.3e9-row buckets instead
# (a SQL string: Columns cannot be built before a session exists)
PAIR_SLOTS = "bucket_size * (bucket_size - 1) DIV 2"


def _salt(id_col: str):
    """The one salt a row keeps: its id hash mod SALTS."""
    return F.pmod(F.xxhash64(id_col), F.lit(SALTS)).cast("int")


def _all_salts():
    """Every salt, for the side that replicates."""
    return F.array(*[F.lit(s) for s in range(SALTS)])


def bucket_sizes(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Per-bucket row counts `(*keys, bucket_size)` — the count pass."""
    return rows.groupBy(*keys).agg(F.count("*").alias("bucket_size"))


def bucket_audit(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Compensative accounting of the cap as one row, from one aggregation:
    bucket totals (n_buckets, n_multi_buckets, n_dropped_buckets), row
    totals (eligible_rows, dropped_rows), pair-slot totals
    (eligible_pair_slots, dropped_pair_slots) and the recall floors they
    imply (row_recall_floor, pair_recall_floor). Every sum is coalesced to
    0, so an EMPTY input yields an all-zero row, not nulls that poison
    downstream comparisons."""
    over = F.col("bucket_size") > cap

    def total(x):
        return F.coalesce(F.sum(x), F.lit(0))

    def floor(kept: str, lost: str):
        return F.round(
            F.col(kept) / F.greatest(F.col(kept) + F.col(lost), F.lit(1)), 6
        )

    return bucket_sizes(rows, keys).agg(
        F.count("*").alias("n_buckets"),
        total((F.col("bucket_size") >= 2).cast("long")).alias("n_multi_buckets"),
        total(over.cast("long")).alias("n_dropped_buckets"),
        total(F.when(~over, F.col("bucket_size"))).alias("eligible_rows"),
        total(F.when(over, F.col("bucket_size"))).alias("dropped_rows"),
        total(F.when(~over, F.expr(PAIR_SLOTS))).alias("eligible_pair_slots"),
        total(F.when(over, F.expr(PAIR_SLOTS))).alias("dropped_pair_slots"),
    ).select(
        "*",
        floor("eligible_rows", "dropped_rows").alias("row_recall_floor"),
        floor("eligible_pair_slots", "dropped_pair_slots")
        .alias("pair_recall_floor"),
    )


def capped_self_pairs(
    rows: DataFrame, keys: list[str], id_col: str, cap: int,
    payload: list[str] | tuple = (),
) -> tuple[DataFrame, DataFrame]:
    """Within-bucket pairs `(pairs, dropped)` of a (keys, id, payload) table.

    pairs:   (key_a, key_b, <p>_a, <p>_b for p in payload), key_a < key_b;
             a pair sharing several buckets appears once per bucket
    dropped: (*keys, bucket_size) for buckets over `cap`

    TWO passes so no task ever buffers an uncapped bucket: over-cap buckets
    are anti-filtered by the count pass BEFORE any member list is
    collected, then the eligible sizes join back onto the rows and route.
    Cold buckets (< HOT_BUCKET_MIN rows) group and explode their C(n,2)
    pairs JVM-side in place — group memory is bounded by HOT_BUCKET_MIN,
    each member a struct of id and payload when there is one. Hot buckets
    go through the salted self-join. A degenerate 10^7-member bucket
    therefore costs one counter, never a multi-GB collect_set buffer.

    `rows` is consumed by both passes; callers whose upstream is an
    expensive kernel materialize it first."""
    sizes = bucket_sizes(rows, keys)
    dropped = sizes.where(F.col("bucket_size") > cap).select(*keys, "bucket_size")
    eligible = sizes.where((F.col("bucket_size") >= 2) & (F.col("bucket_size") <= cap))
    joined = rows.join(eligible, keys)

    member = F.struct(id_col, *payload) if payload else F.col(id_col)
    cold = (
        joined.where(F.col("bucket_size") < HOT_BUCKET_MIN)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_set(member)).alias("ks"))
    )
    x, y = (f"x.{id_col}", f"y.{id_col}") if payload else ("x", "y")
    fields = ", ".join(
        [f"{x} AS key_a", f"{y} AS key_b"]
        + [f"{v}.{p} AS {p}_{s}" for p in payload for v, s in (("x", "a"), ("y", "b"))]
    )
    pairs_expr = F.flatten(
        F.expr(
            "transform(ks, (x, i) -> "
            "transform(slice(ks, i + 2, size(ks) - i - 1), "
            f"y -> struct({fields})))"
        )
    )
    cold_pairs = cold.select(F.explode(pairs_expr).alias("p")).select("p.*")
    if payload:
        # the set holds (id, payload) structs: one id carrying two payloads
        # would otherwise pair with itself
        cold_pairs = cold_pairs.where(F.col("key_a") < F.col("key_b"))

    hot = joined.where(F.col("bucket_size") >= HOT_BUCKET_MIN).select(
        *keys, id_col, *payload
    )
    left = hot.withColumn("salt", _salt(id_col))
    right = hot.withColumn("salt", F.explode(_all_salts()))
    hot_pairs = left.alias("a").join(
        right.alias("b"),
        on=[F.col(f"a.{k}") == F.col(f"b.{k}") for k in (*keys, "salt")]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    ).select(
        F.col(f"a.{id_col}").alias("key_a"),
        F.col(f"b.{id_col}").alias("key_b"),
        *[F.col(f"{s}.{p}").alias(f"{p}_{s}") for p in payload for s in "ab"],
    )
    return cold_pairs.unionByName(hot_pairs), dropped


def capped_probe_join(
    probe: DataFrame, build: DataFrame, keys: list[str], build_id: str,
    cap: int, on=None,
) -> DataFrame:
    """Probe-vs-build bucket join under the cap: `probe` aliased `p` joined
    to `build` aliased `b` on keys, salt and the optional extra condition
    `on`; both sides keep all their columns (qualify shared names).

    Buckets are sized on the BUILD side: buckets over `cap` build rows are
    dropped before either side is joined (quantify with bucket_audit). In
    hot buckets the build side keeps one id-hash salt and the probe side
    replicates across all SALTS, so exactly one replica meets each build
    row; cold buckets join at salt 0.

    `build` is consumed twice (count pass + join) and deliberately not
    materialized here: when its upstream is a pruned scan plus a cheap
    kernel, recomputing it is cheaper at scale than writing the table to
    executor-local storage."""
    eligible = bucket_sizes(build, keys).where(F.col("bucket_size") <= cap)
    hot = F.col("bucket_size") >= HOT_BUCKET_MIN
    b = (
        build.join(eligible, keys)
        .withColumn("salt", F.when(hot, _salt(build_id)).otherwise(F.lit(0)))
        .drop("bucket_size")
    )
    p = (
        probe.join(eligible, keys)
        .withColumn(
            "salt",
            F.explode(
                F.when(hot, _all_salts()).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("bucket_size")
    )
    cond = [F.col(f"p.{k}") == F.col(f"b.{k}") for k in (*keys, "salt")]
    return p.alias("p").join(b.alias("b"), cond + ([on] if on is not None else []))
