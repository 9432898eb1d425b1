"""Driver-side port of Spark's ``hash()`` (Murmur3_x86_32, seed 42).

Why a Python port of a JVM hash exists at all: the versioned tables'
``bucket(N, col)`` partition transform routes rows with
``pmod(hash(col), N)`` (``fdf_spark/sources/transforms.py``).  Pruning a
point lookup or an IN-list probe through that transform means computing
the SAME bucket id for a handful of literal values on the driver —
launching a Spark job for 3 literals would cost more than the scan it
saves.  This module reproduces Spark's Murmur3 bit-for-bit for the
types the transform accepts (int/long/string), so transform pruning is
zero-job metadata work, exactly like the [min, max] stats pruning it
composes with.

Fidelity is pinned by a property test (``tests/test_transforms.py``)
that compares every function here against ``F.hash`` over randomized
inputs — the port is only trusted because the JVM says so on every CI
run.  Algorithm reference: Spark's ``Murmur3_x86_32`` /
``HashExpression`` (public Apache Spark source); Murmur3 itself is
public domain (Austin Appleby).
"""

from __future__ import annotations

_MASK32 = 0xFFFFFFFF
_SEED = 42  # the seed of Spark's hash()


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _MASK32
    k1 = _rotl(k1, 15)
    return (k1 * 0x1B873593) & _MASK32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _MASK32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK32
    h1 ^= h1 >> 16
    return h1


def _signed32(x: int) -> int:
    x &= _MASK32
    return x - (1 << 32) if x >= (1 << 31) else x


def hash_int(value: int) -> int:
    """Spark ``hash()`` of an int/short/byte column value."""
    return _signed32(_fmix(_mix_h1(_SEED, _mix_k1(value & _MASK32)), 4))


def hash_long(value: int) -> int:
    """Spark ``hash()`` of a long column value (also what int literals
    widened to long hash as — Spark hashes by the column's data type)."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(_SEED, _mix_k1(v & _MASK32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _MASK32))
    return _signed32(_fmix(h1, 8))


def hash_bytes(data: bytes) -> int:
    """Spark ``hash()`` of a string (UTF-8 bytes) / binary value —
    ``hashUnsafeBytes``: whole little-endian words through the block
    mix, then each trailing byte (SIGNED) through its own block mix."""
    h1 = _SEED
    n = len(data)
    aligned = n - (n % 4)
    for i in range(0, aligned, 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(k1))
    for i in range(aligned, n):
        b = data[i]
        if b >= 128:  # JVM bytes are signed
            b -= 256
        h1 = _mix_h1(h1, _mix_k1(b & _MASK32))
    return _signed32(_fmix(h1, n))


def spark_hash(value, spark_type: str) -> int:
    """Spark ``hash()`` of one value of Spark SQL type ``spark_type``.

    Supports the types the ``bucket`` partition transform accepts:
    integer-family and string.  Raises on anything else — callers
    (transform pruning) treat that as "not computable" and skip the
    prune, never guessing.
    """
    if value is None:
        return _SEED  # Spark: null contributes the seed unchanged
    t = spark_type.lower()
    if t in ("int", "integer", "short", "smallint", "byte", "tinyint"):
        return hash_int(int(value))
    if t in ("long", "bigint"):
        return hash_long(int(value))
    if t in ("string", "varchar"):
        return hash_bytes(str(value).encode("utf-8"))
    if t == "binary":
        return hash_bytes(bytes(value))
    raise TypeError(f"spark_hash does not support type {spark_type!r}")


def bucket_of(value, spark_type: str, num_buckets: int) -> int:
    """The ``bucket(N, col)`` transform value: ``pmod(hash(col), N)``."""
    return spark_hash(value, spark_type) % num_buckets
