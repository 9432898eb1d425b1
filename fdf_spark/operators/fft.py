"""Per-group spectral analysis via Arrow-batched grouped-map UDF (X4).

The reference declares an FFT method for BES fluctuation data
(modules/bes/fft.py:3-9, bound by bes.xml:3 and dispatched through
parse_method factory.py:893-909) but never implements it — the stub
just prints. This is the canonical operator that Spark's built-in
expression library genuinely cannot express, so it is the engine's
flagship ``applyInPandas`` surface: one numpy FFT per (shot, channel)
group, Arrow-batched, executing in parallel across executors.

Scale: groups are independent → shuffle on the group key only; each
group's samples must fit one worker's memory (a BES channel is ~1e6
samples — fine). Output is |groups| × n_bins rows, far smaller than
the input.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def fft_power(
    df: DataFrame,
    value: str = "value",
    time: str = "time",
    by: Sequence[str] = ("shot", "channel"),
    n_bins: int | None = None,
    detrend: bool = True,
) -> DataFrame:
    """One-sided power spectrum per group → (by…, bin, freq_hz, power).

    Samples are sorted by ``time`` inside the worker (micro-sort per
    group, no global sort); the sample interval is the median time
    delta, so slightly non-uniform grids degrade gracefully. ``power``
    is ``|rfft|^2 / n`` (unnormalized periodogram); bin 0 is dropped
    when ``detrend`` (mean removal) is on, since it is then ~0.
    """
    by = list(by)
    out_schema = (
        ", ".join(f"{c} {dict(df.dtypes)[c]}" for c in by)
        + ", bin int, freq_hz double, power double"
    )

    def _one_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # tie-break duplicate timestamps by value — the SAME total order
        # fft_power_batched gets from array_sort over (t, x) structs, so
        # the two variants are bit-identical on any input
        pdf = pdf.sort_values([time, value])
        x = pdf[value].to_numpy(dtype=np.float64)
        t = pdf[time].to_numpy(dtype=np.float64)
        n = len(x)
        if n < 2:
            return pd.DataFrame(columns=by + ["bin", "freq_hz", "power"])
        if detrend:
            x = x - x.mean()
        dt = float(np.median(np.diff(t))) or 1.0
        spec = np.fft.rfft(x)
        power = (spec.real**2 + spec.imag**2) / n
        freqs = np.fft.rfftfreq(n, d=dt)
        start = 1 if detrend else 0
        k = slice(start, None if n_bins is None else start + n_bins)
        bins = np.arange(len(power))[k]
        out = pd.DataFrame({"bin": bins, "freq_hz": freqs[k], "power": power[k]})
        for c in by:
            out[c] = pdf[c].iloc[0]
        return out[by + ["bin", "freq_hz", "power"]]

    # Pin the group shuffle width: AQE sees a few MB and coalesces to ONE
    # post-shuffle partition, serializing every pandas group through a
    # single task — but this stage is CPU-bound in Python, not IO-bound,
    # so bytes are the wrong signal. An explicit hash repartition on the
    # group key satisfies applyInPandas's required distribution (no second
    # exchange) and keeps all cores busy.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(parallelism, *by)
        .groupBy(*by)
        .applyInPandas(_one_group, schema=out_schema)
    )


def fft_power_batched(
    df: DataFrame,
    value: str = "value",
    time: str = "time",
    by: Sequence[str] = ("shot", "channel"),
    n_bins: int | None = None,
) -> DataFrame:
    """Same spectrum as :func:`fft_power` (mean removed, DC bin
    dropped), shaped for HIGH-CARDINALITY
    SMALL groups (many series × few samples — e.g. per-user event
    traces): the group's samples are gathered and time-sorted JVM-side
    (``collect_list`` + ``array_sort``, map-side partial aggregation),
    and Python sees one Arrow batch of whole series, paying one
    ``rfft`` call per series instead of one pandas DataFrame round-trip
    per group. Ties in ``time`` break by value (array_sort struct
    order) — the same documented total order :func:`fft_power` uses, so
    both variants agree bit-for-bit even on duplicate timestamps.

    For the opposite regime (few groups × ~1e6 samples, e.g. BES
    channels) keep :func:`fft_power`: per-group overhead is amortized
    there and it avoids building whole-series arrays in agg buffers.
    """
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    by = list(by)
    pairs = F.array_sort(F.collect_list(F.struct(F.col(time).alias("t"), F.col(value).alias("x"))))
    g = df.groupBy(*by).agg(pairs.alias("__p"))
    g = g.select(
        *by,
        F.transform("__p", lambda s: s["t"]).alias("__t"),
        F.transform("__p", lambda s: s["x"]).alias("__x"),
    )

    out_t = ArrayType(
        StructType(
            [
                StructField("bin", IntegerType()),
                StructField("freq_hz", DoubleType()),
                StructField("power", DoubleType()),
            ]
        )
    )

    @pandas_udf(out_t)
    def _spectra(ts: pd.Series, xs: pd.Series) -> pd.Series:
        out = []
        for t_arr, x_arr in zip(ts, xs):
            x = np.asarray(x_arr, dtype=np.float64)
            t = np.asarray(t_arr, dtype=np.float64)
            n = len(x)
            if n < 2:
                out.append([])
                continue
            x = x - x.mean()
            dt = float(np.median(np.diff(t))) or 1.0
            spec = np.fft.rfft(x)
            power = (spec.real**2 + spec.imag**2) / n
            freqs = np.fft.rfftfreq(n, d=dt)
            k = slice(1, None if n_bins is None else 1 + n_bins)
            bins = np.arange(len(power))[k]
            out.append(
                [
                    {"bin": int(b), "freq_hz": float(f), "power": float(p)}
                    for b, f, p in zip(bins, freqs[k], power[k])
                ]
            )
        return pd.Series(out)

    exploded = g.select(*by, F.explode(_spectra("__t", "__x")).alias("__r"))
    return exploded.select(
        *by, F.col("__r.bin").alias("bin"), F.col("__r.freq_hz").alias("freq_hz"), F.col("__r.power").alias("power")
    )
