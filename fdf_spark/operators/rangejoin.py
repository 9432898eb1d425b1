"""Interval (point-in-range) join without a cross product.

Spark plans a non-equi ``p >= lo AND p < hi`` join as
BroadcastNestedLoopJoin — O(|points| × |intervals|) compares, and a
full cross shuffle when neither side broadcasts. The standard scale
fix is bucketing: quantize the domain into fixed-width buckets, emit
each interval once per bucket it covers, equi-join on the bucket id,
then re-check the exact predicate. One hash shuffle, compares bounded
by bucket co-residency. (Same trick Databricks' range-join hints and
KDB/TimescaleDB interval indexes use.)

Bucket width tuning: ~ the median interval width. Too narrow →
interval replication blows up; too wide → each bucket pairs too many
points/intervals. At 100 TB pick from interval-width stats (a 1-row
agg) before planning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    points: DataFrame,
    point_col: str,
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    by: Sequence[str] = (),
) -> DataFrame:
    """Join each point row to interval rows with lo <= p < hi.

    ``by``: optional extra equi-keys (e.g. user_id) that must match too.
    Returns points columns + interval columns (join keys deduped).
    """
    by = list(by)
    p_bucket = F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    pts = points.withColumn("__bucket", p_bucket)
    # inclusive bucket span; a hi exactly on a boundary adds one redundant
    # bucket whose candidates the exact predicate below filters out
    span = F.sequence(
        F.floor(F.col(lo_col) / F.lit(bucket_width)).cast("long"),
        F.floor(F.col(hi_col) / F.lit(bucket_width)).cast("long"),
    )
    ivs = intervals.withColumn("__bucket", F.explode(span))
    out = pts.join(ivs, by + ["__bucket"], "inner").filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    )
    return out.drop("__bucket")
