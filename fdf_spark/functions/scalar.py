"""Scalar / aggregate function library (SURVEY §2.8 F1-F12, §2.4).

Everything here but one is a native Column expression — JVM-side,
codegen'd, no Python UDFs — so the hot path stays inside whole-stage
codegen at any scale.  The exception is :func:`dsum_partials`, the one
Arrow kernel for exact scaled-6-dp partial sums (decimal aggregates
with many measures, and the driver-side k-means / PQ models), which
lives here with the numpy 6-dp helpers it and the similarity kernels
share (``_round6_np``, ``_scaled6_int_np``).

Oracle-stability note (drives the ``dsum``/``davg`` shape): summing
doubles is order-dependent, and a 1000-partition shuffle sums in a
different order than DuckDB's single-threaded fold. We therefore do
exact decimal accumulation (associative, order-independent) and cast
the final result back to double. The SQL-oracle twin of
``dsum(x)`` is ``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: decimal type used for exact accumulation where the column is STORED
#: (IVM state tables) — wide headroom, schema-stable across rounds.
ACC_DECIMAL = "decimal(25,6)"

#: decimal type for TRANSIENT sum inputs (dsum/davg — result is cast
#: back to double, so the declared precision never reaches a schema).
#: Precision 18 is Spark's compact-Decimal ceiling: the per-row cast
#: and the partial-sum adds stay on the long-backed fast path instead
#: of allocating a java BigDecimal per row (r14 measurement, q01's
#: 5-sum aggregate at sf0.1 min-of-4: 1.32 s at decimal(25,6) → 1.07 s
#: at decimal(18,6); pure-double was 0.29 s, so this claws back ~25%
#: of the exactness premium for free). Rounding to scale 6 is
#: precision-independent, so results are bit-identical to the oracle's
#: DECIMAL(25,6) twin as long as |value| < 10^12 — six orders above
#: any per-row measure in the schema; the sum BUFFER is decimal(28,6)
#: (10^22 headroom: a 10^12-row group of 10^6-magnitude values sums to
#: 10^18, four orders clear).
SUM_DECIMAL = "decimal(18,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double column (exact decimal accumulate).

    Envelope (ADVICE r14): the per-row cast is decimal(18,6) — 12
    integer digits — while the oracle twin :func:`sql_dsum` accumulates
    at DECIMAL(25,6).  Under ANSI mode (Spark 4's DEFAULT, verified on
    and relied upon here) an out-of-envelope value ``|v| >= 10^12``
    RAISES ``NUMERIC_VALUE_OUT_OF_RANGE`` at execution — the loud
    failure the envelope needs, at zero per-row guard cost (an explicit
    per-row range check measured +10% on the whole headline decimal
    family; ``tests/test_transforms.py::test_dsum_envelope_guard`` pins
    the raise so an ansi=false session can't silently reintroduce the
    drop).  NaN/Inf are the inputs ANSI still casts to NULL silently —
    and DuckDB's DECIMAL cast errors on them — so non-finite measures
    must be cleaned upstream of dsum; no fixture column carries them
    (two-SF oracle sweeps)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(SUM_DECIMAL)).cast("double")


def dsum_partials(df, key_schema: str, batch_fn):
    """Exact per-task partial sums behind the decimal(25,6) aggregates →
    ``(keys…, n long, s array<decimal(38,0)>)`` with ONE row per key
    per task.

    ``batch_fn(batch)`` maps each Arrow batch of ``df`` to
    ``(key arrays, (rows, w) float64 matrix)`` pairs; ``key_schema`` is
    the keys' DDL (``"cell long"``).  Each matrix value contributes its
    exact 6-dp HALF_UP decimal as a scaled integer
    (:func:`_scaled6_int_np` — the integer behind ``cast(double AS
    decimal(p,6))``), rows group by key on pandas' C path
    (``.indices``), and the integers sum per column in int64 chunks
    that cannot wrap (:func:`_exact_colsum`) into unbounded Python ints
    accumulated over every batch of the task.  ``s[i]`` is 10^6 × the
    exact total of column ``i``.

    Finish in the JVM with ``F.sum`` over the partials and
    :func:`dsum_finish` (bitwise-equal to the :func:`dsum` aggregate,
    pinned in pytest), or on the driver with :func:`dsum_means`.  The
    per-row work is one numpy pass instead of a BigDecimal allocation
    per value, and the partial relation is keys × tasks narrow rows —
    what dsum's map-side combine shipped too.  Matrix columns computed
    from other columns (e.g. ``p*(1-d)``) must use the IEEE op order of
    the Column expression they stand for.

    Envelope (the one :func:`dsum` declares, enforced loudly): every
    value must be finite and non-null with ``|round6(x)·1e6| < 2^63``;
    anything else raises ``ValueError`` rather than diverging silently.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    from fdf_spark.functions.kernels import arrow_kernel

    names = StructType.fromDDL(key_schema).names

    def partials(batches):
        acc: dict[tuple, list] = {}
        for batch in batches:
            for key_arrays, x in batch_fn(batch):
                s = _scaled6_int_np(x)
                keys = pd.DataFrame(dict(enumerate(key_arrays)))
                groups = keys.groupby(list(keys.columns), sort=False, dropna=False)
                for k, pos in groups.indices.items():  # one key → scalar k
                    k = k if isinstance(k, tuple) else (k,)
                    _add_partial(acc, k, len(pos), _exact_colsum(s[pos]))
        yield {
            **{name: [k[i] for k in acc] for i, name in enumerate(names)},
            "n": [n for n, _ in acc.values()],
            "s": [s for _, s in acc.values()],
        }

    return arrow_kernel(df, partials, f"{key_schema}, n long, s array<decimal(38,0)>")


def _add_partial(acc: dict, key: tuple, n: int, sums: list[int]) -> None:
    """Fold one ``(n, column sums)`` partial into ``acc[key]``."""
    a = acc.get(key)
    if a is None:
        acc[key] = [n, sums]
    else:
        a[0] += n
        a[1] = [x + y for x, y in zip(a[1], sums)]


def _exact_colsum(block) -> list[int]:
    """Exact column sums of an int64 block as Python ints: int64 adds
    over row chunks short enough that no chunk sum can wrap."""
    import numpy as np

    step = max(1, (1 << 62) // (int(np.abs(block).max(initial=0)) + 1))
    tot = [0] * block.shape[1]
    for i in range(0, len(block), step):
        chunk = block[i : i + step].sum(axis=0, dtype=np.int64).tolist()
        tot = [a + b for a, b in zip(tot, chunk)]
    return tot


def dsum_means(rows) -> dict[tuple, list[float]]:
    """Driver finish of collected :func:`dsum_partials` rows → ``{keys:
    [mean_0..mean_w-1]}``, each the value of the SQL aggregate
    ``cast(sum(cast(x AS decimal(25,6))) AS double) / count(*)``: the
    per-key totals are exact Python ints, ``t / 10**6`` is the
    correctly-rounded decimal→double (CPython's int true division
    rounds correctly, as the JVM and DuckDB casts do), then one double
    division."""
    acc: dict[tuple, list] = {}
    for r in rows:
        _add_partial(acc, tuple(r[:-2]), r[-2], [int(v) for v in r[-1]])
    return {k: [t / 1000000 / n for t in s] for k, (n, s) in acc.items()}


def dsum_finish(name: str) -> Column:
    """The exact finish for a :func:`dsum_partials` total summed as
    ``F.sum(F.col("s")[i]).alias(f"s_{name}")``: decimal(38,0)/10^6 is
    decimal(38,6) and EXACT (≤ 6 fractional digits), and the cast is
    the correctly-rounded decimal→double both dsum and the oracle twin
    perform."""
    return (F.col(f"s_{name}") / F.lit(1000000)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / count, then double.

    (Doing the division in double keeps Spark's and DuckDB's decimal
    division scale rules out of the comparison.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def sql_dsum(expr: str) -> str:
    """SQL twin of :func:`dsum` for DuckDB oracles."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(25,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """SQL twin of :func:`davg`."""
    return f"{sql_dsum(expr)} / COUNT({expr})"


# --- exact 6-dp numerics (numpy twins of F.round / cast AS decimal(p,6)) ---

def _round6_np(a):
    """Vectorized 6-dp round matching ``F.round`` EXACTLY — including
    at the ×1e6 half-way boundary (VERDICT r14 #8 / ADVICE r14).

    Fast path: ``sign(x)·floor(|x|·1e6+0.5)/1e6`` (half-away-from-zero
    in binary float64).  Spark's ``Round`` on a double is
    ``BigDecimal.valueOf(x).setScale(6, HALF_UP)`` — DECIMAL arithmetic
    on the shortest repr — so a value whose shortest decimal repr
    terminates exactly at a 7th-digit 5 (e.g. ``5e-07``: scaled binary
    product is 0.4999…94, floors DOWN; BigDecimal rounds UP) can
    diverge.  Elements the fast path cannot decide (:func:`_exact6_mask`)
    therefore take a scalar fixup through Python ``Decimal(repr(x))``
    (:func:`_half_up6`) — ``repr``/``Double.toString`` are both
    shortest-round-trip and ``ROUND_HALF_UP`` matches Java's (away from
    zero) — which replays the JVM result bit-for-bit.  The band is
    empty on real cosine/L2 folds (pytest boundary pin + two-SF oracle
    sweeps), so the hot path stays one vectorized pass.  Non-finite
    elements pass through."""
    import numpy as np
    from decimal import Decimal

    a = np.asarray(a, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        r = np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6
        fix = _exact6_mask(a) & np.isfinite(a)
    if fix.any():
        r[fix] = [float(Decimal(_half_up6(float(v))).scaleb(-6)) for v in a[fix]]
    return r


def _exact6_mask(a):
    """Elements where ``floor(|x|·1e6 + 0.5)`` may disagree with
    :func:`_half_up6`: |x|·1e6 at or past 2^53 (no longer an exact
    float integer; includes inf/nan), or within the float error of a
    half boundary.  That error is the repr-vs-binary gap plus the
    product's rounding, each ≤ |x|·1e6·2^-53, so the band grows with
    the magnitude (a fixed band misses e.g. ``518.6913645``)."""
    import numpy as np

    y = np.abs(a) * 1e6
    band = np.maximum(1e-8, y * 2.0**-50)
    return ~(y < 2.0**53) | (np.abs(y - np.floor(y) - 0.5) < band)


def _half_up6(v: float) -> int:
    """``round6(v) × 1e6`` exactly: HALF_UP (away from zero, like
    Java's) at 6 dp of ``Decimal(repr(v))``, the decimal Spark casts
    and rounds."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(v)).scaleb(6).to_integral_value(rounding=ROUND_HALF_UP))


def _scaled6_int_np(a):
    """Vectorized int64 of ``round6(x) × 1e6`` — the exact integer
    behind Spark's ``cast(double AS decimal(p,6))`` (HALF_UP at 6 dp of
    the shortest repr, the same contract :func:`_round6_np` pins).
    :func:`dsum_partials` sums these.

    Envelope: the float fast path is exact only while |x|·1e6 < 2^53
    and away from a half boundary; every other element
    (:func:`_exact6_mask`) takes its integer from ``Decimal(repr(x))``
    without passing through float64.  A non-finite element, or one
    whose integer leaves int64, raises ``ValueError``."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        fix = _exact6_mask(a)
        fast = np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5)
        out = np.where(fix, 0.0, fast).astype(np.int64)
    if fix.any():
        out[fix] = [_scaled6_int_exact(float(v)) for v in a[fix]]
    return out


def _scaled6_int_exact(v: float) -> int:
    """:func:`_half_up6` inside the int64 envelope; raises outside it."""
    k = _half_up6(v) if math.isfinite(v) else None
    if k is None or abs(k) >= 2**63:
        raise ValueError(
            f"_scaled6_int_np: {v!r} is non-finite or outside the scaled-6-dp envelope "
            "(finite, |round6(x)·1e6| < 2^63)"
        )
    return k


# --- byte packing (event payload codec, factory.py:295-320) -----------------

def encode_shot_bytes(shot: Column) -> Column:
    """Shot int → 4 little-endian base-256 bytes (factory.py:298-299:
    ``[shot / 256**i % 256 for i in range(4)]``)."""
    return F.array(
        *[F.shiftright(shot, 8 * i).bitwiseAND(F.lit(255)).cast("int") for i in range(4)]
    )


def decode_shot_bytes(bytes_col: Column) -> Column:
    """4 bytes → shot int (factory.py:317: ``sum(data * 256**arange(4))``).

    Uses ``F.aggregate`` — a fold over the array, fully JVM-side.
    """
    indexed = F.zip_with(
        bytes_col,
        F.sequence(F.lit(0), F.lit(3)),
        lambda b, i: b.cast("long") * F.pow(F.lit(256.0), i.cast("double")).cast("long"),
    )
    return F.aggregate(indexed, F.lit(0).cast("long"), lambda acc, x: acc + x)


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Z-order (Morton) interleave of two non-negative int columns →
    one long clustering key (bit i of x → bit 2i, bit i of y → bit 2i+1).

    The multi-dimensional file-clustering primitive: sorting a table by
    ``morton_key(a, b)`` before writing (sinks.write_table ``sort_by``)
    gives parquet row-group min/max stats that are tight in BOTH
    dimensions, so range predicates on either column prune row groups —
    the standard lakehouse Z-ORDER, as a pure JVM expression (32
    shift/mask terms inside whole-stage codegen, no UDF).

    Callers bound the inputs into [0, 2^bits) (e.g. ``% 65536``);
    bits=16 each packs into the low 32 bits of the key.
    """
    x, y = x.cast("long"), y.cast("long")
    k = F.lit(0).cast("long")
    for i in range(bits):
        k = (
            k
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return k


def morton_key_n(cols: list, bits: int = 12) -> Column:
    """Z-order interleave of N non-negative int columns → one long
    clustering key (bit i of column j → bit ``i*N + j``) — the k-dim
    generalization of :func:`morton_key`, still a pure JVM expression
    (``bits × N`` shift/mask terms; keep ``bits * N <= 63`` so the key
    fits a long; the default 12 bits supports up to 5 columns).

    Callers bound each input into [0, 2^bits); ``optimize(zorder=[a,
    b, c])`` scales from manifest stats the same way as the 2-column
    path and uses this for 3+ clustering columns.
    """
    n = len(cols)
    if n < 1:
        raise ValueError("morton_key_n needs at least one column")
    if bits * n > 63:
        raise ValueError(f"bits*cols = {bits * n} exceeds a long's 63 usable bits")
    cols = [c.cast("long") for c in cols]
    k = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            k = k + F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
    return k


def sql_morton_key(x: str, y: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`morton_key` (same shift/mask arithmetic)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"
