"""Per-file BLOOM-FILTER skipping for versioned tables — point
lookups on columns the layout does NOT cluster.

Manifest [min, max] stats prune range probes, and hidden bucket
transforms prune equality probes on the CLUSTERED key — but a point
lookup on any OTHER high-cardinality column (find a document by id in
a table clustered by date) reads every file whose range happens to
overlap, which for a hash-distributed value is ALL of them.  The
standard answer (Delta's bloom indexes, Iceberg's puffin sketches,
parquet's own bloom pages) is a per-file Bloom filter: ~10 bits/row
buys a ~1% false-positive file-skip test with zero false negatives —
the superset guarantee pruning requires.

Shape (Iceberg's compute-stats action, not a write-path tax):

- :func:`build_blooms` is a MAINTENANCE op: one Spark job over the
  live files that don't have a sidecar yet (incremental — re-run it
  after ingest batches; already-covered files are skipped by a pure
  metadata check).  Each data file gets an immutable
  ``<file>.bloom.json`` sidecar (base64 bitset per column), written
  EXECUTOR-SIDE next to its data file through the ONE tested seam
  (:func:`_write_sidecar_atomic` — stage + ``os.replace``,
  LAST-WRITER-WINS by design, which on an object store is an
  unconditional whole-object PUT; deliberately weaker than the
  manifest's create-if-absent ``publish_atomic`` because sidecars are
  non-authoritative derived metadata).  Executors must share the data
  files' filesystem; the driver VERIFIES sidecar visibility after the
  job and reports unreachable files as not built, so
  coverage reporting never promises pruning that will not engage.
  Only a tiny ``(file, built)`` row per file rides back to the
  driver, so a one-time backfill over 10^12 rows never funnels
  bitsets through driver memory.  Vacuum removes
  sidecars with their data files.
- Probe side: ``read_version(spark, path, prune=(col, values))``
  consults sidecars AFTER stats/transform pruning, dropping any file
  whose bloom rejects every probed value.  Files without a sidecar
  (not yet built, pre-upgrade) are KEPT — conservative, never a row
  lost.  Probes are capped at :data:`BLOOM_PROBE_CAP` values — past
  that a point-lookup has become a scan and the driver-side probe
  loop would stall; the cap degrades to "no pruning", never to a
  wrong answer.

Hashing is double-hashed splitmix64 (ints, dates, timestamps — the
temporal types map losslessly onto int64 epoch-day / epoch-micros;
AWARE probe datetimes are exact instants, NAIVE ones canonicalize only
when the session and OS timezones agree on the offset and otherwise
skip the consult — see :func:`_resolve_naive_ts`)
and a two-basis FNV-1a-64 + splitmix finalizer for strings, batched
executor-side as vectorized numpy over the Arrow string buffers; md5
remains as the long-string fallback (values over
:data:`_FNV_MAX_LEN` bytes, where the per-position vector loop loses
to C md5) and as the probe path for legacy untyped sidecars.  Every
sidecar column records the ``type`` it was BUILT under and the ``algo`` used,
and probes refuse cross-type values (keep the file) — a string-typed
probe against an int-built bloom must never silently hash to a false
negative.  Build and probe paths are property-pinned
against each other.

Reference parity: none (read-only client); this is engine-native
north-star surface for the "fetch one doc by id out of 100 TB" shape.
"""

from __future__ import annotations

import base64
import json
import math
import os

from pyspark.sql import SparkSession

BLOOM_SUFFIX = ".bloom.json"

#: Hard cap on probed values per bloom consult: a probe list past this
#: is a scan wearing a point-lookup's clothes — the writers' key-scope
#: paths and read_version's prune all degrade to "keep every file"
#: (superset guarantee) instead of stalling the driver.
BLOOM_PROBE_CAP = 1024

#: Strings longer than this hash through md5 (C speed) instead of the
#: vectorized FNV path, whose per-byte-position vector loop is built
#: for key-sized values; the choice is recorded per sidecar column, so
#: mixed corpora dispatch correctly on probe.  MEASURED crossover
#: on the full build path (hash + bit sets):
#: at 64 B the FNV path is 2.4× faster, at 128 B 1.2× faster, at 192 B
#: md5 wins 1.1×, at 512 B md5 wins 3.2×, at 1 KB 3.9× — an earlier cap
#: of 4096 paid ~4× on 1-4 KB values.  160 sits at the measured
#: break-even; dispatch is per (column, file) on the batch's MAX
#: length, so uuid/url-sized keys stay vectorized and document-sized
#: values go straight to C md5.
_FNV_MAX_LEN = 160

_MASK = (1 << 64) - 1
_FNV_PRIME = 0x100000001B3
_FNV_BASIS1 = 0xCBF29CE484222325
_FNV_BASIS2 = 0x84222325CBF29CE4
_EPOCH_DAY0 = 719163  # date(1970, 1, 1).toordinal()


def _splitmix64(x: int) -> int:
    """Scalar splitmix64 — must match the executor-side numpy ``mix``
    in :func:`build_blooms` bit-for-bit (property-pinned in tests)."""
    z = (x + 0x9E3779B97F4A7C15) & _MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
    return (z ^ (z >> 31)) & _MASK


def _hash_pair_int(v: int) -> tuple[int, int]:
    """Two independent 64-bit hashes of an integer value."""
    h1 = _splitmix64(v & _MASK)
    h2 = _splitmix64((v ^ 0xA5A5A5A5A5A5A5A5) & _MASK) | 1  # odd → full cycle
    return h1, h2


def _hash_pair_str_md5(v: str) -> tuple[int, int]:
    """md5 halves — legacy untyped sidecars and the long-string build path."""
    import hashlib

    d = hashlib.md5(v.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return h1, h2


def _hash_pair_str_fnv(v: str) -> tuple[int, int]:
    """Two-basis FNV-1a-64 over the UTF-8 bytes, splitmix-finalized —
    the scalar twin of the vectorized executor build (property-pinned).
    """
    h1, h2 = _FNV_BASIS1, _FNV_BASIS2
    for b in v.encode("utf-8"):
        h1 = ((h1 ^ b) * _FNV_PRIME) & _MASK
        h2 = ((h2 ^ b) * _FNV_PRIME) & _MASK
    return _splitmix64(h1), _splitmix64(h2) | 1


def _tzinfo_of(name: str | None):
    """tzinfo for a Spark timezone string (region id like
    ``Asia/Kolkata``, or ``UTC``/``GMT``-prefixed / bare numeric
    offsets); None when unparseable — callers treat that as "cannot
    establish the session zone" and stay conservative."""
    import datetime as _dt
    import re as _re

    if not name:
        return None
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(name)
    except Exception:
        pass
    m = _re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?", name.strip())
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return _dt.timezone(
            sign * _dt.timedelta(hours=int(m.group(2)), minutes=int(m.group(3) or 0))
        )
    return None


def _session_tzinfo():
    """tzinfo of the ACTIVE session's ``spark.sql.session.timeZone``,
    or None when there is no active session / the zone id is unknown."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is None:
            return None
        return _tzinfo_of(s.conf.get("spark.sql.session.timeZone"))
    except Exception:
        return None


def _resolve_naive_ts(v):
    """A NAIVE probe datetime → the aware instant it denotes, or None
    when that is AMBIGUOUS.

    A naive value's provenance decides its zone and the engine cannot
    see provenance: a classic ``collect()``/``F.lit()`` round-trip is
    OS-LOCAL wall time (measured on this Spark: under a session-tz
    override, ``collect`` still returns OS-local naive and a naive
    ``lit`` of it still matches the stored instant), while
    ``toPandas()`` and SQL literal strings are SESSION wall time.  When
    ``spark.sql.session.timeZone`` and the OS zone agree on the value's
    offset (the default configuration) the two readings coincide and
    the instant is exact; when they differ, EITHER guess could hash the
    wrong instant for the other provenance and falsely prune a file
    containing the row — so callers must SKIP the consult (keep files,
    superset guarantee).  Pass timezone-aware datetimes to keep
    pruning under session-tz overrides; the engine's own keyed writers
    are immune (staged keys re-read via pyarrow as exact instants)."""
    local = v.astimezone()  # OS-local reading
    stz = _session_tzinfo()
    if stz is None:
        return local  # no session zone to disagree with (legacy behavior)
    sess = v.replace(tzinfo=stz)
    return local if sess.utcoffset() == local.utcoffset() else None


def _canon_probe_value(v):
    """Temporal probe values → the int64 the build hashed: dates to
    epoch days; datetimes to epoch micros (aware exactly; naive only
    when the session and OS timezones agree on the offset — see
    :func:`_resolve_naive_ts`; an ambiguous naive probe raises
    TypeError, which every consult path treats as "keep the file")."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = _resolve_naive_ts(v)
            if v is None:
                raise TypeError(
                    "naive timestamp probe is ambiguous under a session-"
                    "timezone override; pass a timezone-aware datetime"
                )
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return (v - epoch) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return v.toordinal() - _EPOCH_DAY0
    return v


def _hash_pair(v) -> tuple[int, int]:
    """Legacy runtime-typed dispatch (legacy sidecars carry no
    ``type``/``algo``): splitmix for ints, md5 for strings."""
    if isinstance(v, bool):
        raise TypeError("bloom columns must be int or string, not bool")
    if isinstance(v, int):
        return _hash_pair_int(v)
    if isinstance(v, str):
        return _hash_pair_str_md5(v)
    raise TypeError(f"bloom probe supports int and str values, got {type(v).__name__}")


def _probe_hashes(entry: dict, v) -> tuple[int, int]:
    """Hash one probe value under a sidecar column's recorded build
    type/algo; TypeError on a cross-type probe (callers keep the file
    — a mismatched probe must never manufacture a false negative)."""
    v = _canon_probe_value(v)
    t = entry.get("type")
    if t is None:
        return _hash_pair(v)  # legacy untyped sidecar: runtime dispatch
    if t in ("int", "date", "timestamp"):
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(f"bloom built as {t}, probed with {type(v).__name__}")
        return _hash_pair_int(v)
    if t == "str":
        if not isinstance(v, str):
            raise TypeError(f"bloom built as str, probed with {type(v).__name__}")
        if entry.get("algo") == "md5":
            return _hash_pair_str_md5(v)
        return _hash_pair_str_fnv(v)
    raise TypeError(f"unknown bloom sidecar type {t!r}")


#: target false-positive rate of every sidecar built by :func:`build_blooms`
_FPP = 0.01


def _params(n_rows: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for ``n_rows`` at target false-positive rate."""
    n = max(1, n_rows)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)  # whole 64-bit words
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def might_contain(sidecar_col: dict, value) -> bool:
    """Probe one column's bloom in a decoded sidecar entry."""
    m, k = sidecar_col["m"], sidecar_col["k"]
    bits = sidecar_col["_bits"]  # decoded numpy array, cached by _load_sidecar
    h1, h2 = _probe_hashes(sidecar_col, value)
    for i in range(k):
        # 64-bit wrap BEFORE the modulo — the executor build runs this
        # arithmetic in uint64 numpy, where h1 + i*h2 wraps; Python's
        # big ints would not (the one place the two paths could diverge)
        pos = ((h1 + i * h2) & _MASK) % m
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


#: decoded sidecar cache — sidecars are immutable, keyed by path
_SIDECAR_CACHE: dict = {}
_SIDECAR_CACHE_CAP = 1024


def _load_sidecar(data_file: str) -> dict | None:
    """Decoded sidecar for a data file, or None if absent/unreadable."""
    sp = data_file + BLOOM_SUFFIX
    hit = _SIDECAR_CACHE.get(sp)
    if hit is not None:
        return hit
    if not os.path.exists(sp):
        return None
    import numpy as np

    try:
        with open(sp) as fh:
            raw = json.load(fh)
        for col in raw.values():
            col["_bits"] = np.frombuffer(
                base64.b64decode(col.pop("bits")), dtype=np.uint8
            )
    except Exception:
        return None  # unreadable sidecar → no pruning from it, never a loss
    if len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_CAP:
        _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
    _SIDECAR_CACHE[sp] = raw
    return raw


def sidecar_meta(data_file: str) -> dict | None:
    """Sidecar PARAMETERS only ({col: {m, k, n, fpp, type, algo}}) —
    JSON parse without the base64/numpy bitset decode and without
    touching the probe cache, for metadata consumers (table_blooms,
    coverage checks) that never probe (decoding bitsets to read six
    scalars, and caching soon-dead files, would be waste)."""
    sp = data_file + BLOOM_SUFFIX
    if not os.path.exists(sp):
        return None
    try:
        with open(sp) as fh:
            raw = json.load(fh)
        return {
            c: {k: v for k, v in e.items() if k != "bits"} for c, e in raw.items()
        }
    except Exception:
        return None


def bloom_prune(files: list[str], phys_col: str, values) -> list[str]:
    """Drop files whose bloom REJECTS every probed value; files without
    a sidecar (or without this column's bloom), probe lists past
    :data:`BLOOM_PROBE_CAP`, and cross-type probes all KEEP files —
    the superset guarantee.  ``phys_col`` is the PHYSICAL column name
    recorded at build time (a rename never detaches the sidecar)."""
    values = list(values)
    if len(values) > BLOOM_PROBE_CAP:
        return files  # a scan-sized IN-list: pruning off, never wrong
    import datetime as _dt

    if any(isinstance(v, _dt.date) for v in values):
        # canonicalize temporal probes ONCE (one session-tz lookup per
        # consult, not per file×value); an ambiguous naive timestamp
        # could live in any file — the whole consult degrades to keep-all
        try:
            values = [_canon_probe_value(v) for v in values]
        except TypeError:
            return files
    out = []
    for f in files:
        sc = _load_sidecar(f)
        col = sc.get(phys_col) if sc else None
        if col is None:
            out.append(f)
            continue
        try:
            if any(might_contain(col, v) for v in values):
                out.append(f)
        except TypeError:
            out.append(f)  # unsupported/cross-type probe → keep
    return out


#: declared-type families build_blooms accepts, and what probe values
#: coerce to under each (hash under the DECLARED type,
#: never the probe value's runtime Python type)
_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_TEMPORAL_TYPES = {"date", "timestamp", "timestamp_ntz"}


def coerce_probe_values(declared_type: str, values) -> list | None:
    """Cast probe values to the table's DECLARED column type family
    before any bloom consult — the same rule the bucket-transform
    probes follow (`_batch_bucket_memberships` casts through the
    declared type).  Returns the coerced list, or ``None`` when any
    value cannot represent the declared family (callers skip the
    bloom: Spark's own join/filter coercion may still match such a
    value, so pruning on a differently-typed hash would silently lose
    rows — a false negative)."""
    import datetime as _dt

    out = []
    if declared_type in _INT_TYPES:
        for v in values:
            if isinstance(v, bool):
                return None
            if isinstance(v, int):
                out.append(v)
            elif isinstance(v, float) and v.is_integer():
                out.append(int(v))
            elif isinstance(v, str):
                try:
                    out.append(int(v.strip()))
                except ValueError:
                    return None
            else:
                return None
        return out
    if declared_type == "string":
        for v in values:
            if not isinstance(v, str):
                return None
            out.append(v)
        return out
    if declared_type == "date":
        for v in values:
            if isinstance(v, _dt.datetime) or not isinstance(v, _dt.date):
                return None
            out.append(v.toordinal() - _EPOCH_DAY0)
        return out
    if declared_type in ("timestamp", "timestamp_ntz"):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        for v in values:
            if not isinstance(v, _dt.datetime):
                return None
            if declared_type == "timestamp_ntz":
                # wall-clock semantics: naive arithmetic, tz discarded
                out.append(
                    (v.replace(tzinfo=None) - _dt.datetime(1970, 1, 1))
                    // _dt.timedelta(microseconds=1)
                )
            else:
                if v.tzinfo is None:
                    v = _resolve_naive_ts(v)
                    if v is None:
                        # session tz ≠ OS tz: the naive value's instant
                        # depends on provenance the engine cannot see —
                        # skip the bloom (keep files), never guess
                        return None
                out.append((v - epoch) // _dt.timedelta(microseconds=1))
        return out
    return None  # float/decimal/binary/…: bloom equality not meaningful


def _write_sidecar_atomic(sidecar_path: str, payload: str) -> None:
    """THE sidecar write seam, executor-side: stage the
    fully-serialized JSON next to the data file, then ``os.replace`` —
    readers observe whole sidecars or none, concurrent builders are
    LAST-WRITER-WINS (deliberately weaker than the manifest's
    create-if-absent ``publish_atomic``: sidecars are non-authoritative
    derived metadata, a lost write costs pruning, never rows, and the
    coverage report self-heals it).  On an object store this maps onto
    an UNCONDITIONAL PUT of the whole object — same visibility, same
    last-writer-wins.

    REQUIREMENT: executors must share the data files'
    filesystem (true wherever the engine itself runs — the data file
    the sidecar sits next to was written through the same paths).  If
    a deployment ever routed data to shared storage but scratch to
    executor-local disk, the sidecar would land invisibly —
    :func:`build_blooms` therefore VERIFIES visibility driver-side
    after the job and reports unreachable files as NOT built, so
    coverage reporting can never claim pruning that will not engage."""
    import uuid as _uuid

    tmp = f"{sidecar_path}.tmp.{os.getpid()}.{_uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, sidecar_path)
    except BaseException:
        try:
            os.unlink(tmp)  # a failed publish never leaks its staging file
        except OSError:
            pass
        raise


def _sidecar_visible(data_file: str) -> bool:
    """Driver-side visibility check after an executor-side build —
    module attribute so deployment tests can swap the probe."""
    return os.path.exists(data_file + BLOOM_SUFFIX)


def _fnv_pair_vec(starts, lens, data):
    """Vectorized two-basis FNV-1a-64 + splitmix finalizer over UTF-8
    string buffers — numpy twin of :func:`_hash_pair_str_fnv`.  One
    masked vector op per byte POSITION (keys are short; values past
    ``_FNV_MAX_LEN`` never reach this path)."""
    import numpy as np

    n = len(starts)
    h1 = np.full(n, _FNV_BASIS1, dtype=np.uint64)
    h2 = np.full(n, _FNV_BASIS2, dtype=np.uint64)
    prime = np.uint64(_FNV_PRIME)
    with np.errstate(over="ignore"):
        maxlen = int(lens.max()) if n else 0
        for j in range(maxlen):
            live = lens > j
            b = data[starts[live] + j].astype(np.uint64)
            h1[live] = (h1[live] ^ b) * prime
            h2[live] = (h2[live] ^ b) * prime

        def mix(z):
            z = z + np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

        return mix(h1), mix(h2) | np.uint64(1)


def build_blooms(
    spark: SparkSession,
    path: str,
    cols,
) -> dict:
    """Build missing ``<file>.bloom.json`` sidecars for a snapshot's
    live files — ONE Spark job over exactly the uncovered files (an
    already-covered file is skipped by a driver-side stat, so steady-
    state re-runs after each ingest batch cost O(new files)).  Returns
    ``{"built": n, "skipped": n, "cols": [...]}``.

    Executor side: the uncovered files are read under an EXPLICIT
    physical schema derived from the manifest (pre-evolution files
    yield NULL for later-added columns instead of failing inference),
    projected to ``cols`` + ``_metadata.file_path``,
    grouped per file; each group folds its values into the bitset with
    vectorized numpy (splitmix64 for int/date/timestamp, two-basis
    FNV-1a for strings — the SAME functions the driver-side probe
    applies, property-pinned) and WRITES its own sidecar next to the
    data file (tmp + ``os.replace`` — atomic rename; a retried or
    speculative task simply replaces an identical sidecar).  Only a
    ``(file, built)`` row per file returns to the driver: a backfill
    over 10^12 rows holds no bitset bytes in driver memory.

    Concurrency note: two builds racing on the SAME file for DIFFERENT
    column sets are last-writer-wins on the sidecar (each merges with
    the base it read) — one column set can lose.  Harmless by the
    superset guarantee (a missing bloom only costs pruning, never
    rows), self-healing (``_covered`` reports the gap and the next
    incremental run rebuilds it, as does ``plan_maintenance``), and
    the same as under a driver-side writer.
    """
    from fdf_spark.sources.versioned import (
        _logical_schema,
        _mapping,
        _read_manifest,
        _scan,
        list_versions,
    )

    cols = list(cols)
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no versions at {path}")
    v = versions[-1]
    m = _read_manifest(path, v)
    schema = _logical_schema(m)
    if schema is not None:
        ok = _INT_TYPES | {"string"} | _TEMPORAL_TYPES
        for c in cols:
            if c not in schema.fieldNames():
                raise ValueError(f"bloom column {c!r} not in table schema")
            t = schema[c].dataType.simpleString()
            if t not in ok:
                raise ValueError(
                    f"bloom column {c!r} has type {t}; supported: "
                    "int/long/string/date/timestamp"
                )
    mapping = _mapping(m)
    phys = [mapping.get(c, c) for c in cols]
    fr = m.get("file_rows", {})

    def _covered(f: str) -> bool:
        # a sidecar counts only if it carries EVERY requested column —
        # adding a bloom on a new column must rebuild existing files'
        # sidecars too (mere existence would let a second build_blooms
        # call silently index nothing); params-only
        # read — no bitset decode, no cache churn
        sc = sidecar_meta(f)
        return sc is not None and all(p in sc for p in phys)

    todo = [f for f in m["files"] if fr.get(f, 1) != 0 and not _covered(f)]
    if not todo:
        return {"built": 0, "skipped": len(m["files"]), "cols": cols}

    phys_ = list(phys)

    def _fold(tbl):
        # ARROW group handler (one call per file): pyarrow preserves
        # int64-with-nulls exactly (validity mask), where a pandas
        # handler would promote the column to float64 and hash "7.0"
        # through the string path — a bloom false NEGATIVE, i.e. silent
        # row loss on probe.
        import base64 as b64
        import hashlib
        import json as _json
        import os as _os

        import numpy as np
        import pyarrow as pa

        fname = tbl.column("__file")[0].as_py()
        n = tbl.num_rows
        mbits, k = _params(n, _FPP)
        sidecar = {}
        for pc in phys_:
            col = tbl.column(pc).combine_chunks()
            ctype = "int"
            if pa.types.is_date(col.type):
                ctype = "date"
                col = col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
            elif pa.types.is_timestamp(col.type):
                ctype = "timestamp"
                col = col.cast(pa.timestamp("us")).cast(pa.int64())
            vals = col.drop_null()
            bits = np.zeros(mbits // 8, dtype=np.uint8)
            entry = {
                "m": mbits, "k": k, "n": int(n), "fpp": _FPP,
                "type": ctype, "algo": "splitmix64",
            }
            if pa.types.is_integer(col.type):
                x = vals.to_numpy(zero_copy_only=False).astype(np.int64).astype(np.uint64)
                with np.errstate(over="ignore"):
                    def mix(z):
                        z = z + np.uint64(0x9E3779B97F4A7C15)
                        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                        return z ^ (z >> np.uint64(31))

                    h1 = mix(x)
                    h2 = mix(x ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
                for i in range(k):
                    pos = (h1 + np.uint64(i) * h2) % np.uint64(mbits)
                    np.bitwise_or.at(
                        bits, (pos >> np.uint64(3)).astype(np.int64),
                        np.left_shift(
                            np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                        ),
                    )
            else:
                entry["type"] = "str"
                arr = vals.cast(pa.large_string())
                off = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
                    arr.offset : arr.offset + len(arr) + 1
                ]
                starts, ends = off[:-1], off[1:]
                lens = ends - starts
                if len(lens) and int(lens.max()) > _FNV_MAX_LEN:
                    # long values: C md5 beats the per-position vector
                    # loop; recorded so probes dispatch the same algo
                    entry["algo"] = "md5"
                    for sv in vals.to_pylist():
                        d = hashlib.md5(str(sv).encode("utf-8")).digest()
                        h1s = int.from_bytes(d[:8], "little")
                        h2s = int.from_bytes(d[8:], "little") | 1
                        for i in range(k):
                            # same 64-bit wrap as the probe (see
                            # might_contain) — both paths must agree
                            pos = ((h1s + i * h2s) & 0xFFFFFFFFFFFFFFFF) % mbits
                            bits[pos >> 3] |= 1 << (pos & 7)
                    sidecar[pc] = entry
                    sidecar[pc]["bits"] = b64.b64encode(bits.tobytes()).decode("ascii")
                    continue
                entry["algo"] = "fnv64"
                data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
                h1, h2 = _fnv_pair_vec(starts, lens, data)
                with np.errstate(over="ignore"):
                    for i in range(k):
                        pos = (h1 + np.uint64(i) * h2) % np.uint64(mbits)
                        np.bitwise_or.at(
                            bits, (pos >> np.uint64(3)).astype(np.int64),
                            np.left_shift(
                                np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                            ),
                        )
            entry["bits"] = b64.b64encode(bits.tobytes()).decode("ascii")
            sidecar[pc] = entry

        # EXECUTOR-SIDE sidecar write (no bitset bytes reach the
        # driver): merge with any
        # pre-existing sidecar (keep columns an earlier build indexed
        # that this call didn't request), then the atomic stage+replace
        # seam (_write_sidecar_atomic — last-writer-wins by design; a
        # speculative twin or retried attempt replaces IDENTICAL
        # content).
        sp = fname + BLOOM_SUFFIX
        if _os.path.exists(sp):
            try:
                with open(sp) as fh:
                    prev = _json.load(fh)
            except Exception:
                prev = {}
            prev.update(sidecar)
            sidecar = prev
        from fdf_spark.sources.bloomskip import _write_sidecar_atomic

        _write_sidecar_atomic(sp, _json.dumps(sidecar))
        return pa.table({"file": [fname], "built": [True]})

    # the raw bytes of every row (masked ones included — a bloom only
    # needs a superset) under the physical schema: a file that predates
    # a schema evolution yields NULL columns instead of failing inference
    df = (
        _scan(spark, m, todo, pos=True)
        .select(*phys_, "__file")
        .groupBy("__file")
        .applyInArrow(_fold, schema="file string, built boolean")
    )
    flagged = [r["file"] for r in df.collect() if r["built"]]
    for f in todo:
        _SIDECAR_CACHE.pop(f + BLOOM_SUFFIX, None)  # never serve stale decodes
    # driver-side visibility verification: an executor that
    # wrote to non-shared storage would still flag built=True — count
    # only sidecars the DRIVER can reach, so coverage reporting
    # (table_blooms, plan_maintenance, this return) never promises
    # pruning that cannot engage; unreachable stays correctness-safe
    # (superset guarantee) and is surfaced loudly here
    built = sum(1 for f in flagged if _sidecar_visible(f))
    out = {"built": built, "skipped": len(m["files"]) - len(todo), "cols": cols}
    unreachable = len(flagged) - built
    if unreachable:
        out["unreachable"] = unreachable
    return out
