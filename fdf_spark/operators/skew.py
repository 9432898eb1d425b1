"""Skew-mitigation utilities (SURVEY §4 'physical decisions ours to make').

AQE's skew-join splitting handles most join skew automatically
(enabled in fdf_spark.session). What AQE does NOT fix:

- **exact distinct aggregation on skewed keys** — a single hot key
  funnels every distinct value through one reducer;
- **joins against a side AQE cannot split** (e.g. a hot build side).

Both are solved by salting: spread the hot key over ``salt_n``
sub-keys, do the heavy work per sub-key, then combine. Salts are
DERIVED (hash-based), never random — plans stay deterministic, so
results are oracle-comparable and retries are safe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count_distinct(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    salt_n: int = 16,
) -> DataFrame:
    """Exact per-key COUNT(DISTINCT col) in two salted phases.

    Phase 1 groups by (keys…, salt) with ``salt = hash(col) % n`` —
    the same value always lands in the same salt bucket, so buckets
    partition the distinct space and per-bucket distinct counts ADD UP
    exactly. Phase 2 sums the per-bucket counts. The hot key's distinct
    work now runs on ``salt_n`` reducers instead of one.
    """
    salt = F.pmod(F.xxhash64(F.col(col)), F.lit(salt_n)).alias("__salt")
    phase1 = (
        df.select(*keys, F.col(col), salt)
        .groupBy(*keys, "__salt")
        .agg(F.count_distinct(F.col(col)).alias("__d"))
    )
    return phase1.groupBy(*keys).agg(F.sum("__d").alias(f"n_distinct_{col}"))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_n: int = 8,
) -> DataFrame:
    """Equi-join with the left side's hot keys spread over ``salt_n``
    sub-keys and the right side replicated ``salt_n`` times.

    Use when the RIGHT side is small enough to replicate (but perhaps
    too big to broadcast) and the LEFT has hot keys. Left salt derives
    from a hash of the whole left row's join-irrelevant spread column —
    here a monotonic id — so distribution is uniform and deterministic.
    """
    on = list(on)
    l_salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_n))
    lhs = left.withColumn("__salt", l_salt)
    rhs = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )
    out = lhs.join(rhs, on + ["__salt"], "inner")
    return out.drop("__salt")
