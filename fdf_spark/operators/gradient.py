"""Numerical derivative on a non-uniform sample grid (A10) —
``numpy.gradient`` parity, expressed as lag/lead window algebra.

Reference parity: the reference hands raw signal arrays to numpy, where
``np.gradient(ip, t)`` is the idiomatic dI/dt for a fusion waveform
(fdf_signal.py:30-92 makes every Signal an ndarray, so any numpy ufunc
applies); our long format needs an explicit operator.

Convention pinned to ``numpy.gradient(f, x)`` (second-order accurate on
non-uniform grids, edge_order=1):

- interior point i with steps ``hs = x[i]-x[i-1]``, ``hd = x[i+1]-x[i]``:
  ``g = (hs²·f[i+1] + (hd² − hs²)·f[i] − hd²·f[i-1]) / (hs·hd·(hd+hs))``
- first/last point: one-sided first-order difference.

Divergence from numpy, by design: duplicate axis values (zero step)
yield a NULL gradient at the affected samples instead of numpy's
inf/nan — under Spark 4's default ANSI mode a literal division would
abort the whole job with DIVIDE_BY_ZERO, and a distributed operator
must degrade per-row, not per-job (``F.try_divide`` / ``nullif`` in
the SQL twin).

Scale: one window per series key (the same hash exchange any per-series
transform pays); lag/lead are frame-bounded so WholeStageCodegen keeps
the whole expression JVM-side. Property-tested against
``numpy.gradient`` in tests/test_properties.py
(test_gradient_matches_numpy); oracle-checked as q101_gradient.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def gradient(
    df: DataFrame,
    value: str = "value",
    axis: str = "time",
    by: Sequence[str] = ("shot",),
    out: str = "grad",
) -> DataFrame:
    """Append column ``out`` = d(value)/d(axis) per ``by`` series.

    Single-sample series get a null gradient (numpy raises there; a
    distributed operator must instead degrade per group).
    """
    w = W.partitionBy(*by).orderBy(axis)
    f0, x0 = F.col(value), F.col(axis)
    fm, xm = F.lag(value).over(w), F.lag(axis).over(w)
    fp, xp = F.lead(value).over(w), F.lead(axis).over(w)

    hs, hd = x0 - xm, xp - x0
    # try_divide, not `/`: zero steps (tied axis values) must degrade to
    # NULL per-row, not throw DIVIDE_BY_ZERO per-job under ANSI mode
    interior = F.try_divide(
        hs * hs * fp + (hd * hd - hs * hs) * f0 - hd * hd * fm,
        hs * hd * (hd + hs),
    )
    forward = F.try_divide(fp - f0, xp - x0)  # first sample
    backward = F.try_divide(f0 - fm, x0 - xm)  # last sample
    g = (
        F.when(xm.isNull() & xp.isNull(), F.lit(None).cast("double"))
        .when(xm.isNull(), forward)
        .when(xp.isNull(), backward)
        .otherwise(interior)
    )
    return df.withColumn(out, g)


def sql_gradient(value: str, axis: str, by: str) -> str:
    """DuckDB twin of :func:`gradient` as a SELECT-list expression.

    ``by`` is the PARTITION BY key list; window-function text is shared
    so the oracle replays the same algebra.
    """
    w = f"OVER (PARTITION BY {by} ORDER BY {axis})"
    fm, xm = f"lag({value}) {w}", f"lag({axis}) {w}"
    fp, xp = f"lead({value}) {w}", f"lead({axis}) {w}"
    hs, hd = f"(({axis}) - {xm})", f"({xp} - ({axis}))"
    # nullif on every divisor: zero steps → NULL, mirroring try_divide
    interior = (
        f"({hs}*{hs}*{fp} + ({hd}*{hd} - {hs}*{hs})*({value}) - {hd}*{hd}*{fm})"
        f" / nullif({hs}*{hd}*({hd} + {hs}), 0)"
    )
    return (
        f"CASE WHEN {xm} IS NULL AND {xp} IS NULL THEN NULL"
        f" WHEN {xm} IS NULL THEN ({fp} - ({value})) / nullif({xp} - ({axis}), 0)"
        f" WHEN {xp} IS NULL THEN (({value}) - {fm}) / nullif(({axis}) - {xm}, 0)"
        f" ELSE {interior} END"
    )
