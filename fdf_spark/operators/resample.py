"""Grid resampling with linear interpolation (P4/P5/J4 family).

The reference's users align signals on different time grids with
``np.interp`` before combining them (the ndarray arithmetic of
fdf_signal.py:30-92 presumes lock-step axes). This operator brings
that alignment step into the engine so SignalExpr arithmetic
(operators/arith.py) can combine signals sampled on different grids:
resample both onto a shared grid, then equi-join.

Implementation is UDF-free and join-free: target grid points are
UNIONed into the sample stream, and two directional windows per group
(last-non-null backward, first-non-null forward) bracket every grid
point with its neighboring samples — one sort per direction, no
fan-out, numpy.interp edge semantics (clamp to edge values outside
the sampled range, exact sample value on coordinate hits).

Scale: two window passes over |samples| + |grid| rows partitioned by
group — same shape as the baseline-subtraction operator; no shuffle
beyond the group partitioning, which co-located storage already
provides.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def resample_linear(
    df: DataFrame,
    axis: str,
    grid: DataFrame,
    by: Sequence[str] = (),
) -> DataFrame:
    """Linear interpolation of ``value`` onto ``grid``'s axis points.

    ``grid`` carries one row per target coordinate: columns ``by…`` +
    ``axis`` (a grid shared by all groups can be cross-joined by the
    caller). Returns (by…, axis, value) with numpy.interp semantics:
    points outside the sampled range take the edge sample's value; a
    grid point equal to a sample coordinate takes that sample's value
    exactly (samples sort before grid points on ties, so the backward
    window sees them).
    """
    by = list(by)
    s = df.select(*by, F.col(axis).alias("__t"), F.col("value").alias("__v")).withColumn(
        "__is_grid", F.lit(0)
    )
    g = grid.select(*by, F.col(axis).alias("__t")).withColumn(
        "__v", F.lit(None).cast("double")
    ).withColumn("__is_grid", F.lit(1))
    u = s.unionByName(g)
    part = W.partitionBy(*by) if by else W.partitionBy()
    back = part.orderBy("__t", "__is_grid").rowsBetween(W.unboundedPreceding, 0)
    fwd = part.orderBy(F.col("__t").desc(), F.col("__is_grid").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    samp = F.col("__is_grid") == 0
    u = (
        u.withColumn("__pt", F.last(F.when(samp, F.col("__t")), ignorenulls=True).over(back))
        .withColumn("__pv", F.last(F.when(samp, F.col("__v")), ignorenulls=True).over(back))
        .withColumn("__nt", F.last(F.when(samp, F.col("__t")), ignorenulls=True).over(fwd))
        .withColumn("__nv", F.last(F.when(samp, F.col("__v")), ignorenulls=True).over(fwd))
    )
    interp = (
        F.when(F.col("__pt").isNull(), F.col("__nv"))
        .when(F.col("__nt").isNull(), F.col("__pv"))
        .when(F.col("__nt") == F.col("__pt"), F.col("__pv"))
        .otherwise(
            F.col("__pv")
            + (F.col("__nv") - F.col("__pv"))
            * (F.col("__t") - F.col("__pt"))
            / (F.col("__nt") - F.col("__pt"))
        )
    )
    return (
        u.filter(F.col("__is_grid") == 1)
        .select(*by, F.col("__t").alias(axis), interp.alias("value"))
    )
