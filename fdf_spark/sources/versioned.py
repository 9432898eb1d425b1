"""Versioned parquet tables: time travel + snapshot isolation via
manifest files — the Iceberg/Delta metadata model in its minimal form.

Reference parity: none (fdf is read-only; see operators/merge.py) —
this is north-star surface (SURVEY §2.11 N17): a 100 TB corpus under
continuous CDC needs readers pinned to a consistent snapshot while
writers land new versions, and "what did training job X actually read"
must stay answerable after the table moves on.

Layout::

    <path>/data/c<version>-<uuid>/part-*.parquet   immutable data files
    <path>/_versions/v<00000N>.json                manifest per version

A commit stages data files in a fresh directory, then publishes a
manifest naming the snapshot's COMPLETE file list via an atomic
create-if-absent link — the manifest either exists (snapshot visible,
whole) or not (invisible); readers never see partial writes, and two
racing committers cannot both claim a version number (the loser gets
``ConcurrentCommitError`` and retries on the new head — optimistic
concurrency, no locks).  ``append``
manifests inherit the parent's files; ``overwrite`` starts fresh but
deletes nothing, so older versions stay readable until ``vacuum``.

Scale notes: the manifest is O(files), not O(rows) — list once, read
exactly those files (no directory listing race, no eventual-consistency
hazard on object stores); it carries per-file column [min, max] stats
for metadata-only pruning (``read_version(..., prune=...)``). A
production variant additionally shards the manifest itself, which
changes nothing structural here. ``read_version`` hands Spark an
explicit file list, so a pinned reader is immune to concurrent commits
AND vacuums of later versions.
"""

from __future__ import annotations

import datetime as _datetime
import json
import os
import re
import tempfile
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from fdf_spark.sources.bloomskip import BLOOM_PROBE_CAP as _BLOOM_PROBE_CAP

_MANIFEST_DIR = "_versions"


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version number first; re-read the
    head and retry (optimistic concurrency — no locks, losers retry)."""


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:08d}.json")


def _publish_manifest_atomic(staged: str, dst: str) -> None:
    """Publish a fully-written manifest through THE create-if-absent
    seam (``sources/atomic.publish_atomic`` — shared with the
    WebDataset streaming ledger; the object-store conditional-PUT port
    is that one function). ``commit_version`` maps the seam's
    ``FileExistsError`` to ``ConcurrentCommitError`` (the
    optimistic-concurrency loser's retry signal). Kept as a module
    attribute so per-protocol tests can swap just this surface.
    """
    from fdf_spark.sources import atomic

    atomic.publish_atomic(staged, dst)


def _publish_json(obj, dst: str, replace: bool = False) -> None:
    """Stage ``obj`` as JSON next to ``dst`` and publish it there — through
    the create-if-absent seam (``FileExistsError`` when ``dst`` exists),
    or by a plain last-writer-wins ``os.replace`` when ``replace``.  Every
    manifest, staged commit, constraint, ref and consumer ack publishes
    here, so a test that swaps :func:`_publish_manifest_atomic` sees them
    all.  The staging file never survives."""
    d = os.path.dirname(dst)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(obj, fh)
        if replace:
            os.replace(tmp, dst)
        else:
            _publish_manifest_atomic(tmp, dst)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def list_versions(path: str) -> list[int]:
    d = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
    )


#: decoded-manifest cache: (path, version, mtime_ns, size) -> full dict.
#: The file-stat key makes every legitimate mutation (vacuum's delta
#: materialization, test restamps — all os.replace / rewrite) a miss,
#: so the cache can never serve a stale decode; bounded FIFO.
_MANIFEST_CACHE: dict = {}
_MANIFEST_CACHE_CAP = 256


def _read_manifest(path: str, version: int) -> dict:
    mp = _manifest_path(path, version)
    st = os.stat(mp)
    key = (path, version, st.st_mtime_ns, st.st_size)
    hit = _MANIFEST_CACHE.get(key)
    if hit is not None:
        return hit
    with open(mp) as fh:
        m = _resolve_manifest(path, json.load(fh))
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
        _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    _MANIFEST_CACHE[key] = m
    return m


def _head(path: str, version: int | None = None) -> tuple[int, dict]:
    """``(version, manifest)`` of ``version`` — the head when ``None``;
    raises ``FileNotFoundError`` when the table has no such version."""
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no versions at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    return v, _read_manifest(path, v)


# --- delta-encoded manifests -------------------------------------------------
#
# A manifest is O(live files): at 1M files the file list + per-file
# stats are ~100 MB of JSON, and rewriting ALL of it for a 1-row
# append is the metadata analog of copy-on-write.  So the publish seam
# stores most commits as a DELTA against their parent (Delta Lake's
# JSON-actions + checkpoint idea): scalar fields ride verbatim, the
# file list stores its append/add-remove, dict fields (stats,
# file_rows, delete masks, file_specs) store put/del entries, and an
# unchanged field is simply omitted and inherited.  Every
# _CHECKPOINT_EVERY-th version stores FULL (the checkpoint), bounding
# reconstruction at that many metadata reads.  Both forms are valid
# forever — decoding happens only when "delta_base" is present, so
# pre-upgrade tables and hand-written test manifests read unchanged.
# vacuum materializes any surviving delta whose base is about to die
# (see vacuum) — a chain never dangles.

_CHECKPOINT_EVERY = 8
_DELTA_DICTS = (
    "stats", "file_rows", "delete_files", "eq_deletes", "eq_applies",
    "file_specs", "tomb_rows", "file_bytes",
)
_DELTA_SETS = (
    "schema", "column_mapping", "retired_physical", "partition_specs",
    "current_spec", "column_stats", "properties",
)
_DELTA_KEYS = frozenset(
    {"delta_base", "__absent__", "files_append", "files_add", "files_remove"}
    | {k + "__put" for k in _DELTA_DICTS}
    | {k + "__del" for k in _DELTA_DICTS}
)


def _encode_manifest_delta(manifest: dict, parent_m: dict | None) -> dict:
    """The stored form of ``manifest``: a delta against ``parent_m``
    where that is smaller, the manifest itself where not (or where
    there is no parent)."""
    if parent_m is None:
        return manifest
    enc: dict = {
        k: v
        for k, v in manifest.items()
        if k not in ("files",) + _DELTA_DICTS + _DELTA_SETS
    }
    enc["delta_base"] = manifest["parent"]
    absent = [
        k for k in ("files",) + _DELTA_DICTS + _DELTA_SETS if k not in manifest and k in parent_m
    ]
    if absent:
        enc["__absent__"] = absent
    pf, nf = parent_m.get("files", []), manifest.get("files", [])
    if "files" in manifest:
        if nf == pf:
            pass  # inherit
        elif nf[: len(pf)] == pf:
            enc["files_append"] = nf[len(pf):]
        else:
            pset = set(pf)
            removed = sorted(pset - set(nf))
            added = [f for f in nf if f not in pset]
            if [f for f in pf if f not in set(removed)] + added == nf:
                if removed:
                    enc["files_remove"] = removed
                enc["files_add"] = added
            else:
                enc["files"] = nf  # reordered (e.g. restore) — store full
    for k in _DELTA_DICTS:
        if k not in manifest:
            continue
        pv, nv = parent_m.get(k, {}), manifest[k]
        if nv == pv:
            continue
        put = {kk: v for kk, v in nv.items() if kk not in pv or pv[kk] != v}
        drop = [kk for kk in pv if kk not in nv]
        if len(put) + len(drop) <= max(1, len(nv) // 2):
            if put:
                enc[k + "__put"] = put
            if drop:
                enc[k + "__del"] = drop
        else:
            enc[k] = nv
    for k in _DELTA_SETS:
        if k in manifest and manifest[k] != parent_m.get(k):
            enc[k] = manifest[k]
    return enc


def _resolve_manifest(path: str, m: dict) -> dict:
    """Decode a stored manifest into its full form (identity for full
    manifests).  Recursion depth is bounded by the checkpoint cadence."""
    if "delta_base" not in m:
        return m
    base = _read_manifest(path, m["delta_base"])
    out = {k: v for k, v in base.items() if k in ("files",) + _DELTA_DICTS + _DELTA_SETS}
    for k in m.get("__absent__", ()):
        out.pop(k, None)
    for k, v in m.items():
        if k not in _DELTA_KEYS:
            out[k] = v
    if "files_append" in m:
        out["files"] = base.get("files", []) + m["files_append"]
    elif "files_add" in m or "files_remove" in m:
        rem = set(m.get("files_remove", ()))
        out["files"] = [f for f in base.get("files", []) if f not in rem] + m.get(
            "files_add", []
        )
    for k in _DELTA_DICTS:
        if k + "__put" in m or k + "__del" in m:
            d = dict(base.get(k, {}))
            for kk in m.get(k + "__del", ()):
                d.pop(kk, None)
            d.update(m.get(k + "__put", {}))
            out[k] = d
    return out


def applied_ingest_ids(path: str) -> set:
    """Every ``meta["ingest_id"]`` any commit at ``path`` has recorded.

    The replay-detection primitive for at-least-once ingest loops:
    a caller that stamps each batch commit with an ingest id can
    detect a retried batch BEFORE re-landing it.  The check alone is
    check-then-act, NOT atomic — two concurrent replays of
    the same id can both pass it.  Atomicity comes from pairing it
    with ``commit_version(expected_parent=head)`` inside a retry loop
    (see ``llm.dedup.incremental_dedup``): the loser of the pinned
    commit re-runs this check against the winner's manifest and
    raises.  O(commits) metadata reads, zero data files.
    """
    ids = set()
    for v in list_versions(path):
        iid = _read_manifest(path, v).get("meta", {}).get("ingest_id")
        if iid is not None:
            ids.add(iid)
    return ids


# --- column mapping (rename/drop without rewrite) ---------------------------
#
# The manifest's "schema" holds LOGICAL field names — what readers see.
# "column_mapping" maps logical -> PHYSICAL name (the name the column
# carries inside data files; identity entries omitted), and
# "retired_physical" lists physical names that ever carried data for a
# since-dropped/renamed logical column.  This is Iceberg's field-id
# indirection in name form: a rename is a manifest-only commit (zero
# bytes rewritten, time travel to pre-rename snapshots intact), a drop
# never resurrects, and a RE-ADDED logical name gets a FRESH physical
# name so old files' bytes for the retired column stay invisible.
# All data files of one table share one physical naming (appends and
# OPTIMIZE translate logical->physical before writing), so one mapping
# per manifest suffices — no per-file mapping needed.


def _mapping(m: dict) -> dict[str, str]:
    return m.get("column_mapping", {})


def _physical(m: dict, logical: str) -> str:
    return _mapping(m).get(logical, logical)


def _logical_schema(m: dict) -> StructType | None:
    return StructType.fromJson(json.loads(m["schema"])) if "schema" in m else None


def _scan(spark: SparkSession, m: dict, files: list[str], pos: bool = False) -> DataFrame:
    """THE data-file read: ``files`` under the manifest's PHYSICAL
    schema (missing columns in pre-evolution files yield NULLs; dropped
    columns are never even requested — column pruning at the scan).
    ``pos`` adds ``(__file, __pos)`` — the row-position identity a
    deletion vector addresses.  Raw bytes: no delete mask applies
    (:func:`_live` is the masked, logical read)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField

    schema = _logical_schema(m)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(
            StructType(
                [StructField(_physical(m, f.name), f.dataType, f.nullable) for f in schema.fields]
            )
        )
    df = reader.parquet(*files)
    if not pos:
        return df
    return df.select(
        "*",
        _norm_file_path(F.col("_metadata.file_path")).alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    )


# --- deletion vectors (merge-on-read row-level deletes) ---------------------
#
# A delete/update commit writes a TOMBSTONE relation — (file, pos) rows
# naming the deleted positions, ``pos`` = the parquet row index Spark
# exposes as ``_metadata.row_index`` — instead of rewriting data files
# (Delta's deletion vectors / Iceberg's position deletes).  The manifest
# maps each affected data file to the tombstone files that carry rows
# for it ("delete_files"); readers apply the mask as an anti-join on
# (file, pos) — files WITHOUT deletes stream through the plain scan
# path untouched, so a table with a few deleted rows pays the mask only
# where it applies.  OPTIMIZE folds tombstones into rewritten files;
# copy-on-write (``merge_versioned``) and merge-on-read
# (:func:`merge_on_read`) produce IDENTICAL read results and identical
# change-feed deltas — the choice is purely a write-amplification
# trade: CoW rewrites O(touched file bytes) per commit and reads stay
# mask-free; MoR writes O(changed rows) per commit and reads carry the
# anti-join until the next OPTIMIZE.  Reference motivation: the
# logbook's ``voided IS null`` soft-delete (factory.py:537,583) — the
# reference never hard-deletes either; a tombstone is ``voided`` made
# engine-native.

_DELETE_SCHEMA = "file string, pos long"


def _norm_file_path(col):
    """``_metadata.file_path`` URIs (``file:/x`` or ``file:///x``) →
    the plain absolute paths manifests record."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, r"^[a-z]+:/+", "/")


def _delete_map(m: dict) -> dict:
    return m.get("delete_files", {})


def _mask(
    spark: SparkSession, files, cols=None, scope: dict | None = None
) -> DataFrame:
    """A delete mask read from its own ``files``, broadcast when they
    total under 32 MB — the sizes are known locally (no job), and a
    mask is usually orders smaller than the data it masks.  The mask is
    the ``(file, pos)`` tombstone relation, or with ``cols`` an
    equality-delete entry's key columns.  ``scope`` ({tombstone file:
    data files}) keeps each tombstone's positions for its listed data
    files only."""
    from functools import reduce

    from pyspark.sql import functions as F

    files = sorted(files)
    if cols is not None:
        df = spark.read.parquet(*files).select(*cols)
    elif scope is None:
        df = spark.read.schema(_DELETE_SCHEMA).parquet(*files)
    else:
        df = reduce(DataFrame.unionByName, [
            spark.read.schema(_DELETE_SCHEMA).parquet(t).filter(F.col("file").isin(scope[t]))
            for t in files
        ])
    if sum(os.path.getsize(f) for f in files) < (32 << 20):
        df = F.broadcast(df)
    return df


#: per-tombstone-file position counts ({data file -> rows}) — immutable
#: once written, so a bounded FIFO cache is always coherent
_TOMB_COUNTS_CACHE: dict[str, dict] = {}


def _tomb_counts_footer(tomb_file: str) -> dict:
    """Per-DATA-FILE position counts inside one tombstone parquet —
    reads only the ``file`` column (tombstone-sized).  One tombstone
    file carries positions for MANY data files, so the per-file debt
    must count only rows attributed to that file.  Commit time records
    the result in the manifest (``tomb_rows``) so metadata tables
    never re-read tombstones; this stays the fallback for pre-upgrade
    manifests."""
    hit = _TOMB_COUNTS_CACHE.get(tomb_file)
    if hit is not None:
        return hit
    from collections import Counter

    import pyarrow.parquet as pq

    c = dict(
        Counter(pq.read_table(tomb_file, columns=["file"]).column("file").to_pylist())
    )
    if len(_TOMB_COUNTS_CACHE) >= 1024:
        _TOMB_COUNTS_CACHE.pop(next(iter(_TOMB_COUNTS_CACHE)))
    _TOMB_COUNTS_CACHE[tomb_file] = c
    return c


# --- equality deletes (delete-by-key, ZERO data scan at write) --------------
#
# The second tombstone tier (Iceberg's equality deletes):
# ``delete_keys`` writes the KEY RELATION itself — no base-table scan, no
# position attribution, O(keys) bytes — and readers apply it as one more
# broadcast anti-join on the key columns.  Scoping is Iceberg's sequence
# rule in manifest form: the entry applies ONLY to data files present at
# delete time (``eq_applies``), so rows appended later with the same key
# are NOT masked — an equality delete is "delete what exists now", which
# is exactly what lets a CDC delete land without reading anything.
# OPTIMIZE folds equality tombstones the same way it folds positional
# ones (the rewrite reads effective rows); ``delete_where`` /
# ``merge_on_read`` read through the mask, so their tombstones never
# re-delete an eq-deleted row.  Key columns are recorded under PHYSICAL
# names — a later rename never detaches the mask from the bytes.


def _eq_map(m: dict) -> dict:
    """data file -> [equality-delete entry ids that apply to it]."""
    return m.get("eq_applies", {})


def _eq_entries(m: dict) -> dict:
    """entry id -> {"files": [key parquet files], "cols": [physical]}."""
    return m.get("eq_deletes", {})


def _apply_eq_masks(
    spark: SparkSession, m: dict, df: DataFrame, files: list[str]
) -> DataFrame:
    """Apply every equality-delete entry to exactly the files it scopes.

    ``df`` carries PHYSICAL columns plus ``__file``.  Files are grouped
    by their entry-id set (appends after a delete carry none and stream
    through untouched); each group anti-joins its entries' key relations
    with NULL-SAFE equality (an explicit delete of a NULL key must mask
    NULL-key rows — plain ``=`` would silently keep them).
    """
    from pyspark.sql import functions as F

    eqa, eqd = _eq_map(m), _eq_entries(m)
    groups: dict[tuple, list[str]] = {}
    for f in files:
        groups.setdefault(tuple(sorted(eqa.get(f, []))), []).append(f)
    if set(groups) == {()}:
        return df
    # one read/broadcast per ENTRY, shared across every file group that
    # scopes it — overlapping groups otherwise re-read and re-broadcast
    # the same key relation once per group
    key_dfs = {
        eid: _mask(spark, eqd[eid]["files"], cols=eqd[eid]["cols"])
        for eids in groups
        for eid in eids
    }
    parts = []
    for eids, fs in sorted(groups.items()):
        part = df.filter(F.col("__file").isin(fs)) if len(groups) > 1 else df
        for eid in eids:
            entry = eqd[eid]
            keys = key_dfs[eid]
            part = part.join(
                keys,
                [part[c].eqNullSafe(keys[c]) for c in entry["cols"]],
                "left_anti",
            )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _live(spark: SparkSession, m: dict, files: list[str], pos: bool = False) -> DataFrame:
    """The snapshot's LIVE rows over ``files`` under their LOGICAL
    names (plus ``(__file, __pos)`` with ``pos`` — what a new
    delete/update commit tombstones): clean files stream through the
    plain scan path (zero masking overhead — same plan as a DV-free
    table), files with deletion vectors anti-join their tombstone
    positions, files scoped by equality deletes anti-join the key
    relations."""
    from functools import reduce

    from pyspark.sql import functions as F

    dv, eqa = _delete_map(m), _eq_map(m)
    dirty = [f for f in files if dv.get(f) or eqa.get(f)]
    clean = [f for f in files if not (dv.get(f) or eqa.get(f))]
    parts = [_scan(spark, m, clean, pos)] if clean else []
    if dirty:
        df = _scan(spark, m, dirty, pos=True)
        tombs = {t for f in dirty for t in dv.get(f, [])}
        if tombs:
            td = _mask(spark, tombs)
            df = df.join(td, (df["__file"] == td["file"]) & (df["__pos"] == td["pos"]), "left_anti")
        df = _apply_eq_masks(spark, m, df, dirty)
        parts.append(df if pos else df.drop("__file", "__pos"))
    out = reduce(DataFrame.unionByName, parts)
    schema, mapping = _logical_schema(m), _mapping(m)
    if schema is None or not mapping:
        return out
    return out.select(
        *[F.col(mapping.get(f.name, f.name)).alias(f.name) for f in schema.fields],
        *(["__file", "__pos"] if pos else []),
    )


def _write_tombstones(
    spark: SparkSession, path: str, version: int, matches: DataFrame
) -> tuple[list[str], dict[str, list[str]], int]:
    """Stage a tombstone relation; returns (tombstone files, affected
    data file → tombstones containing rows for it, deleted row count).
    Returns ``([], {}, 0)`` — stage removed — when nothing matched.
    Cost: O(deleted rows) written; the per-file attribution reads back
    only the tombstones' ``file`` column (tombstone-sized)."""
    import pyarrow.parquet as pq

    rows = _stage_parquet(matches, path, "deletes", f"d{version:08d}")
    tomb_files, n = list(rows), sum(rows.values())
    affected: dict[str, list[str]] = {}
    for t in tomb_files:
        for fval in pq.read_table(t, columns=["file"]).column("file").unique().to_pylist():
            affected.setdefault(fval, []).append(t)
    return tomb_files, affected, n


def _predicate_bounds(spark: SparkSession, schema: StructType, cond) -> dict:
    """Conservative per-column [lo, hi] bounds implied by a predicate —
    the data-skipping translation Delta/Iceberg run before a DELETE's
    match scan.

    The predicate is ANALYZED against an empty frame with the table
    schema, then the resolved Catalyst tree (its JSON form — public
    Spark API, stable pre-order flattening) is folded: conjuncts of
    ``=``, ``<``, ``<=``, ``>``, ``>=``, ``IN`` and ``BETWEEN``-style
    pairs on a bare (or numerically widened) column against literals
    contribute bounds; anything else — OR, functions, casts that could
    reorder, non-scalar literals — contributes NOTHING, never a wrong
    bound.  Returns {} when nothing is extractable, which disables
    pruning (every file read — the superset guarantee).
    """
    import json as _json

    try:
        analyzed = _json.loads(
            spark.createDataFrame([], schema).filter(cond)
            ._jdf.queryExecution().analyzed().toJSON()
        )
        tree = next(
            n["condition"] for n in analyzed
            if n.get("class", "").endswith(".Filter")
        )
    except Exception:
        return {}

    pos = 0

    def parse(nodes):
        """Pre-order flattened TreeNode list -> (node, [children])."""
        nonlocal pos
        node = nodes[pos]
        pos += 1
        kids = [parse(nodes) for _ in range(node.get("num-children", 0))]
        return node, kids

    root = parse(tree)
    _SAFE_CASTS = {"integer", "long", "short", "byte", "float", "double"}
    # a cast is value-preserving ONLY when the target strictly contains
    # the source: integer-family widening, float→double, and small-int→
    # float/double (short fits float's 24-bit mantissa; int fits double's
    # 53 — long→double does NOT: cast(2^53+1 as double) collides with
    # 2^53, so bounds derived through it would wrongly prune files).
    # Narrowing casts (long→int wraps) are never accepted — a predicate
    # carrying one contributes nothing.
    _EXACT_WIDENING = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
        ("byte", "float"), ("byte", "double"),
        ("short", "float"), ("short", "double"),
        ("integer", "double"),
        # identity casts: the analyzer wraps IN-list columns in a
        # same-type Cast — trivially value-preserving
        ("byte", "byte"), ("short", "short"), ("integer", "integer"),
        ("long", "long"), ("float", "float"), ("double", "double"),
    }

    def attr_of(node):
        """Column name if the subtree is a bare attribute or an
        exactly-widening cast of one; else None."""
        n, kids = node
        cls = n["class"].rsplit(".", 1)[-1]
        if cls == "AttributeReference":
            return n["name"]
        if cls == "Cast" and kids:
            inner, _ = kids[0]
            if (
                inner["class"].rsplit(".", 1)[-1] == "AttributeReference"
                and (inner.get("dataType"), n.get("dataType")) in _EXACT_WIDENING
            ):
                return inner["name"]
        return None

    def lit_of(node):
        n, kids = node
        cls = n["class"].rsplit(".", 1)[-1]
        if cls == "Cast" and n.get("dataType") in _SAFE_CASTS and kids:
            # the analyzer wraps literals in widening casts (990 int ->
            # long); only an exactly-widening cast preserves the value
            inner, _ = kids[0]
            if (
                inner["class"].rsplit(".", 1)[-1] == "Literal"
                and (inner.get("dataType"), n.get("dataType")) in _EXACT_WIDENING
            ):
                return lit_of(kids[0])
            return None
        if cls != "Literal" or n.get("value") is None:
            return None
        dt, v = n.get("dataType"), n["value"]
        try:
            if dt in ("integer", "long", "short", "byte"):
                return int(v)
            if dt in ("float", "double") or str(dt).startswith("decimal"):
                return float(v)
            if dt == "string":
                return str(v)
            if dt == "boolean":
                return v if isinstance(v, bool) else str(v).lower() == "true"
            # temporal literals: Catalyst's toJSON renders a date
            # literal as 'YYYY-MM-DD' and a timestamp literal as its
            # SESSION-timezone wall string (the analyzer already
            # resolved the user's text under the session zone, so
            # attaching that zone recovers the exact instant —
            # provenance-free, unlike naive Python datetimes);
            # timestamp_ntz renders as raw wall epoch-micros
            if dt == "date":
                return _datetime.date.fromisoformat(str(v))
            if dt == "timestamp":
                from fdf_spark.sources.bloomskip import _session_tzinfo

                stz = _session_tzinfo()
                if stz is None:
                    return None  # session zone unknowable → no bound
                return _datetime.datetime.fromisoformat(str(v)).replace(tzinfo=stz)
            if dt == "timestamp_ntz":
                return _datetime.datetime(1970, 1, 1) + _datetime.timedelta(
                    microseconds=int(v)
                )
        except (TypeError, ValueError):
            return None
        return None

    NEG_INF, POS_INF = object(), object()

    def merge(bounds, col, lo, hi):
        old = bounds.get(col)
        if old is None:
            bounds[col] = [lo, hi]
            return
        olo, ohi = old
        try:
            if lo is not NEG_INF and (olo is NEG_INF or lo > olo):
                old[0] = lo
            if hi is not POS_INF and (ohi is POS_INF or hi < ohi):
                old[1] = hi
        except TypeError:
            pass  # incomparable mixed types — keep the looser bound

    def walk(node, bounds):
        n, kids = node
        cls = n["class"].rsplit(".", 1)[-1]
        if cls == "And":
            for k in kids:
                walk(k, bounds)
            return
        if cls in ("EqualTo", "EqualNullSafe", "GreaterThan",
                   "GreaterThanOrEqual", "LessThan", "LessThanOrEqual") and len(kids) == 2:
            a, b = kids
            col, lit, flipped = attr_of(a), lit_of(b), False
            if col is None or lit is None:
                col, lit, flipped = attr_of(b), lit_of(a), True
            if col is None or lit is None:
                return
            if cls in ("EqualTo", "EqualNullSafe"):
                merge(bounds, col, lit, lit)
            elif (cls in ("GreaterThan", "GreaterThanOrEqual")) != flipped:
                merge(bounds, col, lit, POS_INF)   # col >= lit
            else:
                merge(bounds, col, NEG_INF, lit)   # col <= lit
            return
        if cls == "In" and kids:
            col = attr_of(kids[0])
            lits = [lit_of(k) for k in kids[1:]]
            if col is not None and lits and all(v is not None for v in lits):
                try:
                    merge(bounds, col, min(lits), max(lits))
                except TypeError:
                    pass
            return
        # any other node (Or, Not, IsNull, UDF, ...) → no information

    bounds: dict = {}
    walk(root, bounds)
    return {
        c: (None if lo is NEG_INF else lo, None if hi is POS_INF else hi)
        for c, (lo, hi) in bounds.items()
        if lo is not NEG_INF or hi is not POS_INF
    }


def _stat_checks(m: dict, col: str, values, lo, hi) -> list[tuple]:
    """The conjunctive stat checks one column probe implies:
    ``[(stat name, value set | None, lo, hi)]`` — the raw column's
    stats plus the probe's image under every partition TRANSFORM of the
    column (membership and equality probes map value-by-value; range
    bounds map through monotonic transforms only).  A transform that
    can't map the probe driver-side contributes nothing — the superset
    guarantee is untouched.  THE one place probe-through-transform
    logic lives: read_version's prune and every write-side match scan
    call through here, so the three share one rule."""
    pc = _physical(m, col)
    checks: list[tuple] = [(pc, values, lo, hi)]
    schema = _logical_schema(m)
    if schema is None or col not in schema.fieldNames():
        return checks
    from fdf_spark.sources.transforms import all_transforms_on

    src_type = schema[col].dataType.simpleString()
    for t in all_transforms_on(m, col):
        try:
            if values is not None:
                checks.append(
                    (t.derived_name(pc), [t.apply_py(x, src_type) for x in values], None, None)
                )
            elif lo is not None and lo == hi:
                checks.append((t.derived_name(pc), [t.apply_py(lo, src_type)], None, None))
            elif t.monotonic:
                checks.append(
                    (t.derived_name(pc), None,
                     None if lo is None else t.apply_py(lo, src_type),
                     None if hi is None else t.apply_py(hi, src_type))
                )
        except TypeError:
            continue  # transform not portable for this type — skip
    return checks


def _files_passing(m: dict, files: list[str], checks: list[tuple]) -> list[str]:
    """Keep the files whose recorded [min, max] stats survive every
    check; files without stats for a checked name are kept
    (conservative), incomparable types are kept."""
    stats = m.get("stats", {})

    def _keep(f: str) -> bool:
        fstats = stats.get(f, {})
        for name, vals, lo, hi in checks:
            st = fstats.get(name)
            if st is None:
                continue  # no stats → must read
            fmin, fmax = st
            try:
                if vals is not None:
                    # canonicalize probes into the recorded stat domain
                    # (dates → epoch-day ints); a value that can't
                    # canonicalize makes the whole check unevaluable —
                    # keep the file
                    cv = [_canon_stat_probe(x) for x in vals]
                    if any(x is None for x in cv):
                        continue
                    if not any(fmin <= x <= fmax for x in cv):
                        return False
                else:
                    clo = _canon_stat_probe(lo) if lo is not None else None
                    chi = _canon_stat_probe(hi) if hi is not None else None
                    if (lo is not None and clo is None) or (hi is not None and chi is None):
                        continue  # un-canonicalizable bound — keep
                    if (clo is not None and fmax < clo) or (chi is not None and fmin > chi):
                        return False
            except TypeError:
                continue  # incomparable stats/bound types — keep
        return True

    return [f for f in files if _keep(f)]


def _prune_files_by_bounds(
    m: dict, files: list[str], bounds: dict, memberships: dict | None = None
) -> list[str]:
    """Manifest-stats file pruning: drop files whose recorded
    per-column [min, max] is DISJOINT from the predicate bounds on ANY
    bounded column.  Files without stats for a bounded column are kept
    (conservative) — the superset guarantee `read_version(prune=...)`
    makes, reused for write-side match scans.

    Bounds compose through partition TRANSFORMS (:func:`_stat_checks`).
    ``memberships`` adds explicit value-set checks keyed by PHYSICAL
    stat name — what :func:`merge_on_read` / :func:`delete_keys` pass
    after mapping a batch's distinct keys through the table's bucket
    transform (:func:`_batch_bucket_memberships`).
    """
    if not bounds and not memberships:
        return files
    checks: list[tuple] = []
    for c, (lo, hi) in bounds.items():
        checks.extend(_stat_checks(m, c, None, lo, hi))
    for name, vals in (memberships or {}).items():
        checks.append((name, list(vals), None, None))
    return _files_passing(m, files, checks)


def _batch_bucket_memberships(m: dict, df: DataFrame, cols) -> dict:
    """Map a batch's distinct key values through every bucket transform
    of ``cols`` (one tiny distinct agg per transform over the — ideally
    cached — batch; ≤N values each): the membership sets that let a
    keyed write touch only the buckets its keys route to.  ``df``
    carries LOGICAL column names; hashing happens under the TABLE's
    declared type (:meth:`Transform.column` casts)."""
    from pyspark.sql import functions as F

    from fdf_spark.sources.transforms import all_transforms_on

    schema = _logical_schema(m)
    out: dict[str, list] = {}
    if schema is None:
        return out
    for c in cols:
        if c not in schema.fieldNames() or c not in df.columns:
            continue
        ktype = schema[c].dataType.simpleString()
        for t in all_transforms_on(m, c):
            if t.kind != "bucket":
                continue  # monotonic transforms already prune via bounds
            vals = [
                r[0]
                for r in df.select(t.column(F.col(c), ktype).alias("__b")).distinct().collect()
                if r[0] is not None
            ]
            if vals:
                out[t.derived_name(_physical(m, c))] = vals
    return out


def _masks_rebasable(pm: dict, hm: dict, files) -> bool:
    """Whether a row-level commit (position tombstones computed against
    parent snapshot ``pm``, touching ``files``) can re-base onto head
    ``hm`` MANIFEST-ONLY.  True iff the head kept every touched file
    live with IDENTICAL delete masks (no concurrent delete/update/
    OPTIMIZE touched them — positions are per-file, so untouched files'
    tombstones stay valid verbatim) and neither schema nor column
    mapping moved.  Concurrent blind APPENDS always pass — Delta's
    WriteSerializable rule: the delete/update serializes BEFORE the
    concurrent insert, so rows appended during the race are simply not
    in its scope."""
    if pm.get("schema") != hm.get("schema") or _mapping(pm) != _mapping(hm):
        return False
    live = set(hm["files"])
    pdv, hdv = _delete_map(pm), _delete_map(hm)
    peq, heq = _eq_map(pm), _eq_map(hm)
    for f in files:
        if f not in live:
            return False
        if sorted(pdv.get(f, [])) != sorted(hdv.get(f, [])):
            return False
        if sorted(peq.get(f, [])) != sorted(heq.get(f, [])):
            return False
    return True


# --- manifest succession -----------------------------------------------------
#
# A new manifest starts as a copy of its head's TABLE STATE — the keys
# below, read with these defaults from a head that predates one — and
# then takes the keys its writer owns.  ``schema`` rides along only when
# the head has one.  tomb_rows, file_bytes, column_stats and properties
# are inherited centrally at publish (_stage_and_publish_manifest).

_TABLE_STATE = {
    "files": list,
    "stats": dict,
    "file_rows": dict,
    "delete_files": dict,
    "eq_deletes": dict,
    "eq_applies": dict,
    "column_mapping": dict,
    "retired_physical": list,
    "partition_specs": lambda: {"0": {"cols": []}},
    "current_spec": int,
    "file_specs": dict,
    "stream_batches": dict,
}


def _successor(head: dict | None, version: int, mode: str, meta: dict, **changed) -> dict:
    """The manifest of ``version`` succeeding ``head`` (``None`` for a
    table's first version): the head's table state, then ``changed``.

    A commit whose ``meta`` names a ``stream_id`` and ``batch_id`` (a
    streaming fold's micro-batch) records that batch as the stream's
    high-water mark in ``stream_batches``, so the mark survives every
    later commit, whichever writer makes it."""
    h = head or {}
    m = {"version": version, "parent": version - 1 if head is not None else None, "mode": mode}
    m.update((k, h[k] if k in h else make()) for k, make in _TABLE_STATE.items())
    if "schema" in h:
        m["schema"] = h["schema"]
    m["meta"] = meta
    if "stream_id" in meta and "batch_id" in meta:
        m["stream_batches"] = {**m["stream_batches"], meta["stream_id"]: meta["batch_id"]}
    m.update(changed)
    return m


def _publish_successor(path: str, parent: int, m: dict, mode: str, meta: dict, **changed) -> int:
    """Publish a metadata-only commit over ``m`` (version ``parent``):
    its :func:`_successor` with ``changed``.  Returns the new version."""
    _stage_and_publish_manifest(path, parent + 1, _successor(m, parent + 1, mode, meta, **changed))
    return parent + 1


def _appended(hm: dict, *staged: dict) -> dict:
    """``hm``'s file-keyed state (``files``, ``stats``, ``file_rows``,
    ``file_specs``) with the ``staged`` files (:func:`_stage_data_files`)
    appended."""
    out = {
        "files": list(hm.get("files", [])),
        **{k: dict(hm.get(k, {})) for k in ("stats", "file_rows", "file_specs")},
    }
    for s in staged:
        out["files"] += s["files"]
        for k in ("stats", "file_rows", "file_specs"):
            out[k].update(s[k])
    return out


def _tombstoned(hm: dict, *affected: dict) -> dict:
    """``hm``'s position-delete map plus new tombstones ``affected``
    (data file -> tombstone files, :func:`_write_tombstones`)."""
    dv = {k: list(v) for k, v in _delete_map(hm).items()}
    for aff in affected:
        for f, ts in aff.items():
            dv[f] = dv.get(f, []) + ts
    return dv


def _publish_row_level(
    path: str, parent: int, m: dict, touched, build,
    spark: SparkSession | None = None, checked: dict | None = None, staged=(),
) -> int:
    """The publish loop of every row-level commit (delete_where,
    delete_keys, update_where, merge_on_read): publish ``build(hv, hm)``,
    the manifest of version ``hv + 1`` over head ``hm`` — first over the
    snapshot ``m`` (version ``parent``) the commit was computed against.
    On a lost race the new head is accepted MANIFEST-ONLY when
    :func:`_masks_rebasable` holds for the ``touched`` files (the staged
    tombstones address immutable files, so they bind to it verbatim) and
    ``build`` runs again over it; anything else re-raises the
    ``ConcurrentCommitError`` and the caller re-runs.  A commit that
    stages new rows passes the ``staged`` data files and the CHECK set
    ``checked`` they were validated against; every rebase re-checks them
    through :func:`_recheck_staged`."""
    hv, hm = parent, m
    while True:
        manifest = build(hv, hm)
        if checked is not None and hv != parent:
            checked = _recheck_staged(spark, path, checked, manifest, staged)
        try:
            _stage_and_publish_manifest(path, hv + 1, manifest)
            return hv + 1
        except ConcurrentCommitError:
            hv, hm = _head(path)
            if not _masks_rebasable(m, hm, touched):
                raise


def _bloom_scope(m: dict, files: list[str], logical_col: str, values) -> list[str]:
    """Bloom-sidecar consult under the table's DECLARED column type:
    probe values are cast to the declared type family
    BEFORE hashing — a string-typed ``"7"`` against an int column must
    hash as the int the build hashed, and any value that cannot
    represent the family skips the bloom entirely (Spark's own
    join/filter coercion may still match it, so pruning on a
    runtime-typed hash would silently lose rows).  Files without
    sidecars, over-cap probe lists, and legacy untyped values are all
    KEPT — the superset guarantee."""
    if not files:
        return files
    from fdf_spark.sources.bloomskip import bloom_prune, coerce_probe_values

    vals = list(values)
    schema = _logical_schema(m)
    if schema is not None and logical_col in schema.fieldNames():
        vals = coerce_probe_values(
            schema[logical_col].dataType.simpleString(), vals
        )
        if vals is None:
            return files
    elif not all(
        isinstance(v, (int, str)) and not isinstance(v, bool) for v in vals
    ):
        return files  # legacy manifest without a schema: raw int/str only
    return bloom_prune(files, _physical(m, logical_col), vals)


def _bloom_prune_equalities(m: dict, files: list[str], bounds: dict) -> list[str]:
    """Bloom-scope a predicate's EQUALITY conjuncts (lo == hi bounds):
    the same sidecar consult the read path applies, reused by the
    delete/update match scans.  Range-only bounds contribute nothing;
    files without sidecars are kept (superset guarantee)."""
    if not files:
        return files
    import datetime as _dt

    eqs = {
        c: lo for c, (lo, hi) in bounds.items()
        if lo is not None and lo == hi
        and isinstance(lo, (int, str, _dt.date, _dt.datetime))
        and not isinstance(lo, bool)
    }
    for c, v in eqs.items():
        files = _bloom_scope(m, files, c, [v])
    return files


def delete_where(spark: SparkSession, path: str, condition) -> int:
    """Row-level DELETE as a MERGE-ON-READ commit: writes a tombstone
    relation naming the deleted (file, position) pairs — zero data
    files rewritten.  Returns the new version (the
    parent version, unchanged, when nothing matched).

    ``condition`` is a Column or SQL string over the table's LOGICAL
    columns, evaluated against the current snapshot's LIVE rows (rows
    already masked by earlier deletes can never be tombstoned twice).
    The scan benefits from predicate pushdown; the WRITE is
    O(matching rows) — a 1-row delete on a wide table costs one tiny
    tombstone file, not a data-file rewrite (measured in
    tools/stress.py).  Readers of this and later versions apply the
    mask (:func:`_live`); pinned readers of older versions
    are untouched; :func:`optimize` folds tombstones away; the change
    feed emits the deleted rows exactly as a copy-on-write delete
    would.  Same optimistic-commit seam as every writer — and a LOST
    RACE against a compatible head re-bases MANIFEST-ONLY instead of
    raising: position tombstones address immutable files, so any head
    that kept the touched files live with identical masks (concurrent
    blind appends, deletes on OTHER files) accepts them verbatim
    (:func:`_masks_rebasable`); rows appended during the race are not
    in the delete's scope (Delta's WriteSerializable rule).  A head
    that rewrote/re-masked a touched file or moved the schema is a
    real conflict and raises — the caller re-runs.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    if not isinstance(cond, Column):
        raise TypeError("condition must be a Column or SQL string")
    parent, m = _head(path)
    version = parent + 1
    # manifest-stats pruning BEFORE the match scan: on
    # a spec-clustered table a keyed delete reads only the files whose
    # [min, max] overlap the predicate's bounds — the same skipping the
    # read path gets from read_version(prune=...), applied to the write
    schema = _logical_schema(m)
    bounds = _predicate_bounds(spark, schema, cond) if schema is not None else {}
    scan_files = _prune_files_by_bounds(m, m["files"], bounds)
    scan_files = _bloom_prune_equalities(m, scan_files, bounds)
    if not scan_files:
        return parent  # no file can contain a matching row
    matches = (
        _live(spark, m, scan_files, pos=True)
        .filter(cond)
        .select(F.col("__file").alias("file"), F.col("__pos").alias("pos"))
    )
    tomb_files, affected, n = _write_tombstones(spark, path, version, matches)
    if n == 0:
        return parent
    meta = {
        "delete": {
            "rows": n,
            "files_affected": len(affected),
            "files_scanned": len(scan_files),
            "files_pruned": len(m["files"]) - len(scan_files),
        }
    }
    return _publish_row_level(
        path, parent, m, affected,
        lambda hv, hm: _successor(
            hm, hv + 1, "delete", meta, delete_files=_tombstoned(hm, affected)
        ),
    )


def delete_keys(spark: SparkSession, path: str, keys_df: DataFrame, key_cols) -> int:
    """Row-level DELETE by KEY as an EQUALITY-DELETE commit — writes the
    key relation itself, with NO base-table scan at all (Iceberg's
    equality deletes).  Returns the new version (the
    parent, unchanged, when ``keys_df`` is empty).

    Where :func:`delete_where` scans the (pruned) table to attribute
    positions, this writes O(keys) bytes and finishes — the landing
    path for a CDC delete stream whose keys arrive faster than any
    scan could run.  The trade moves to the READ side: every affected
    file pays a broadcast anti-join on the key columns until
    :func:`optimize` folds the mask into rewritten files (positional
    tombstones from later ``delete_where``/``merge_on_read`` commits
    compose with it — both masks apply).

    Scope is "delete what exists NOW": the entry applies only to data
    files present in the current snapshot (``eq_applies``), so a row
    with the same key appended LATER is not masked — exactly Iceberg's
    sequence-number rule.  NULL key values match NULL-key rows
    (null-safe equality).  Key columns are recorded under their
    PHYSICAL names, so a later :func:`rename_column` never detaches
    the mask.  Same optimistic-commit seam as every writer — and a
    LOST RACE against a compatible head re-bases MANIFEST-ONLY, like
    :func:`delete_where`: the entry's scope is parent-time (sequence
    rule), so a head that kept the scoped files live with identical
    masks accepts the staged key relation verbatim; anything else
    raises and the caller re-runs.
    """
    from pyspark.sql import functions as F

    key_cols = list(key_cols)
    if not key_cols:
        raise ValueError("delete_keys needs at least one key column")
    parent, m = _head(path)
    version = parent + 1
    schema = _logical_schema(m)
    if schema is not None:
        names = [f.name for f in schema.fields]
        missing = [c for c in key_cols if c not in names]
        if missing:
            raise ValueError(f"key columns {missing} not in schema (have {names})")
    missing = [c for c in key_cols if c not in keys_df.columns]
    if missing:
        raise ValueError(f"keys_df lacks key columns {missing}")
    mapping = _mapping(m)
    phys = [mapping.get(c, c) for c in key_cols]
    rows = keys_df.select(
        *[F.col(c).alias(p) for c, p in zip(key_cols, phys)]
    ).dropDuplicates()
    eq_rows = _stage_parquet(rows, path, "deletes", f"e{version:08d}")
    if not eq_rows:
        return parent
    eq_files, n = list(eq_rows), sum(eq_rows.values())
    # scope the entry by KEY-COLUMN STATS, zero extra jobs: the freshly
    # written key files' footers give [min, max] per key column, so the
    # entry attaches only to data files whose manifest stats overlap —
    # the read-side anti-join never touches files that cannot hold a
    # deleted key.  A key column with NULLs (or missing footer stats)
    # is unbounded: NULL keys must reach every file (parquet min/max
    # ignores nulls, so range overlap proves nothing about them).
    import pyarrow.parquet as pq

    kb: dict[str, list] = {p: [None, None, False] for p in phys}  # lo, hi, poisoned
    for f in eq_files:
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                a = kb.get(col.path_in_schema)
                if a is None:
                    continue
                s = col.statistics
                # date/datetime allowed: staged key files are
                # written via _write_parquet_micros, so timestamp stats
                # come back as AWARE UTC instants and canonicalize
                # exactly in _canon_stat_probe (naive ones degrade to
                # "check skipped" there — never a false prune)
                if (
                    s is None or not s.has_min_max or s.null_count != 0
                    or not isinstance(s.min, (int, float, str, bool, _datetime.date))
                ):
                    a[2] = True
                    continue
                a[0] = s.min if a[0] is None else min(a[0], s.min)
                a[1] = s.max if a[1] is None else max(a[1], s.max)
    bounds = {
        c: (a[0], a[1])
        for c, p in zip(key_cols, phys)
        for a in [kb[p]]
        if not a[2] and a[0] is not None
    }
    # on a bucket(N, key)-clustered table, range bounds over random
    # keys scope nothing — map the distinct keys through the transform
    # (one tiny agg over the key relation) so the entry attaches only
    # to the buckets its keys route to, and the read-side anti-join
    # never touches the rest
    memberships = _batch_bucket_memberships(m, keys_df, key_cols)
    applies = _prune_files_by_bounds(m, m["files"], bounds, memberships)
    # a SMALL key set additionally scopes through per-file BLOOM
    # sidecars where built (bloomskip): on an unclustered layout the
    # range/bucket checks above scope nothing for hash-scattered keys,
    # but a file whose bloom rejects every key cannot hold one — fewer
    # scoped files means fewer read-side anti-joins.  NULL keys or
    # unsupported types skip the column (superset guarantee).
    if applies and n <= _BLOOM_PROBE_CAP:
        # probe values come from the STAGED key files, not from a
        # re-evaluation of the caller's plan — a nondeterministic
        # keys_df source could otherwise stage one key set and
        # bloom-scope by another, silently losing deletes; footer-sized
        # pyarrow reads, zero Spark jobs.  _bloom_scope hashes under the
        # DECLARED key type
        for kc, p in zip(key_cols, phys):
            vals: list = []
            for f in eq_files:
                vals.extend(pq.read_table(f, columns=[p]).column(p).to_pylist())
            if vals and all(v is not None for v in vals):
                applies = _bloom_scope(m, applies, kc, vals)
    if not applies:
        # no data file's stats overlap any key — nothing can match
        import shutil

        shutil.rmtree(os.path.dirname(eq_files[0]), ignore_errors=True)
        return parent
    meta = {
        "delete_keys": {
            "keys": n,
            "cols": key_cols,
            "files_applied": len(applies),
            "files_pruned": len(m["files"]) - len(applies),
        }
    }

    def _build(hv: int, hm: dict) -> dict:
        # the entry's file scope is PARENT-TIME by the sequence rule —
        # files a racer appended are newer than this delete and are
        # correctly never scoped — so on a rebase the staged key
        # relation and its `applies` list attach to the head verbatim
        eid = f"e{hv + 1:08d}"
        eqa = {f: list(v) for f, v in _eq_map(hm).items()}
        for f in applies:
            eqa[f] = eqa.get(f, []) + [eid]
        eqd = {**_eq_entries(hm), eid: {"files": eq_files, "cols": phys}}
        return _successor(hm, hv + 1, "delete-eq", meta, eq_deletes=eqd, eq_applies=eqa)

    return _publish_row_level(path, parent, m, applies, _build)


def update_where(spark: SparkSession, path: str, condition, set_exprs: dict) -> int:
    """Row-level UPDATE as a MERGE-ON-READ commit (Delta's ``UPDATE …
    SET`` verb): matched rows' old images are position-tombstoned
    (data files untouched) and their updated images land as ordinary
    appended files, clustered by the table's partition spec — ONE
    manifest publishes both atomically.  Returns the new version (the
    parent, unchanged, when nothing matched).

    ``condition`` is a Column or SQL string over LOGICAL columns;
    ``set_exprs`` maps target column → Column/SQL expression evaluated
    per matched row (may reference any logical column).  Results are
    cast to the column's declared type, so the snapshot schema never
    drifts.  The match scan is pruned by the predicate's conservative
    bounds against manifest stats — including THROUGH partition
    transforms, so ``k = lit`` on a bucket(N, k) table scans one
    bucket.  The write is O(matched rows); the change feed emits the
    same delete+insert pairs a copy-on-write restatement would
    (pytest-pinned); OPTIMIZE folds the tombstone debt.  Same
    optimistic-commit seam as every writer, with the same compatible-
    head MANIFEST-ONLY rebase as :func:`delete_where` on a lost race
    (tombstones and already-staged images both bind to the new head;
    incompatible heads raise and the caller re-runs).
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    if not isinstance(cond, Column):
        raise TypeError("condition must be a Column or SQL string")
    if not set_exprs:
        raise ValueError("update_where needs at least one SET expression")
    parent, m = _head(path)
    version = parent + 1
    schema = _logical_schema(m)
    if schema is None:
        raise ValueError("table has no manifest schema; cannot update")
    names = [f.name for f in schema.fields]
    missing = [c for c in set_exprs if c not in names]
    if missing:
        raise ValueError(f"SET targets {missing} not in schema (have {names})")
    sets = {
        c: (F.expr(e) if isinstance(e, str) else e).cast(schema[c].dataType)
        for c, e in set_exprs.items()
    }
    bounds = _predicate_bounds(spark, schema, cond)
    scan_files = _prune_files_by_bounds(m, m["files"], bounds)
    scan_files = _bloom_prune_equalities(m, scan_files, bounds)
    if not scan_files:
        return parent
    # one persist serves the tombstone write AND the updated images —
    # the snapshot is pinned so recompute would be consistent, but not
    # re-scanning the matched files twice is the point
    matches = _live(spark, m, scan_files, pos=True).filter(cond).persist()
    try:
        mapping = _mapping(m)
        upd = matches.select(*[sets.get(c, F.col(c)).alias(c) for c in names])
        # updated images must satisfy the table's CHECK constraints —
        # validated BEFORE any tombstone or image byte is staged
        checked = _enforce_constraints(path, upd, schema)
        tomb_files, affected, n = _write_tombstones(
            spark, path, version,
            matches.select(F.col("__file").alias("file"), F.col("__pos").alias("pos")),
        )
        if n == 0:
            return parent
        images = upd.select(*[F.col(c).alias(mapping.get(c, c)) for c in names])
        spec_id, spec = _current_spec(m)
        images = _cluster_by_spec(images, spec, mapping, schema=schema)
        # the images are stamped with the PARENT's spec they were
        # clustered under, even when a racing set_partition_spec moved
        # the head's current_spec (spec ids are append-only, so the id
        # exists in every head).  Probes prune each file under its OWN
        # stamped spec, and OPTIMIZE re-clusters under the current spec
        # — a stamp that never overstates means neither ever trusts
        # tightness the bytes don't have (race pytest:
        # test_update_race_vs_set_spec_stamps_parent_spec)
        staged = _stage_data_files(images, path, version, spec_id)
    finally:
        matches.unpersist()
    meta = {
        "update": {
            "rows": n,
            "set": sorted(set_exprs),
            "files_affected": len(affected),
            "files_scanned": len(scan_files),
            "files_pruned": len(m["files"]) - len(scan_files),
        }
    }

    def _build(hv: int, hm: dict) -> dict:
        # appended images are newer than every eq entry (sequence rule)
        return _successor(
            hm, hv + 1, "update-mor", meta,
            **_appended(hm, staged), delete_files=_tombstoned(hm, affected),
        )

    return _publish_row_level(
        path, parent, m, affected, _build, spark=spark, checked=checked, staged=staged["files"]
    )


def _file_row_count(file_path: str) -> int:
    """Exact row count from the parquet footer (no data pages read)."""
    import pyarrow.parquet as pq

    return pq.read_metadata(file_path).num_rows


def _write_parquet_micros(df: DataFrame, stage: str, rows_per_file: int | None = None) -> None:
    """Every engine data/tombstone/key write goes through here so
    timestamps land as TIMESTAMP_MICROS (int64, isAdjustedToUTC) —
    Spark's legacy INT96 default records NO footer statistics (so
    timestamp manifest stats would silently never exist) and pyarrow
    reads INT96 back as NAIVE datetimes (so staged-key bloom probes
    would lose the instant).  Set-and-restore keeps a caller-provided
    session's conf untouched outside the write."""
    spark = df.sparkSession
    w = df.write
    if rows_per_file is not None:
        w = w.option("maxRecordsPerFile", str(rows_per_file))
    key = "spark.sql.parquet.outputTimestampType"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    if old == "TIMESTAMP_MICROS":
        w.parquet(stage)
        return
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        w.parquet(stage)
    finally:
        if old is not None:
            spark.conf.set(key, old)


def _stage_parquet(
    df: DataFrame, path: str, sub: str, name: str,
    rows_per_file: int | None = None, keep_empty: bool = False,
) -> dict[str, int]:
    """Write ``df`` into a fresh stage ``path/<sub>/<name>-<uuid8>`` and
    return ``{file: rows}`` over its parquet files (footer counts) — the
    non-empty ones unless ``keep_empty``, with the stage removed when none
    is left."""
    import shutil

    stage = os.path.join(path, sub, f"{name}-{uuid.uuid4().hex[:8]}")
    _write_parquet_micros(df, stage, rows_per_file)
    rows = {
        f: _file_row_count(f)
        for f in sorted(os.path.join(stage, x) for x in os.listdir(stage) if x.endswith(".parquet"))
    }
    if not keep_empty:
        rows = {f: n for f, n in rows.items() if n}
        if not rows:
            shutil.rmtree(stage, ignore_errors=True)
    return rows


def _stage_data_files(
    df: DataFrame, path: str, version: int, spec: int, prefix: str = "c",
    rows_per_file: int | None = None, keep_empty: bool = False,
) -> dict:
    """Stage ``df`` as data files under ``path/data/<prefix><version>-…``
    and return their manifest entries: ``files``, footer ``stats``,
    ``file_rows``, and ``file_specs`` stamping each file with ``spec``,
    the partition spec ``df`` was clustered under.  Every data writer
    stages here: commit and WAP staging (which keep Spark's
    schema-carrying empty file), UPDATE and MERGE-ON-READ images, and
    OPTIMIZE."""
    rows = _stage_parquet(df, path, "data", f"{prefix}{version:08d}", rows_per_file, keep_empty)
    return {
        "files": list(rows),
        "stats": {f: _file_stats(f) for f in rows},
        "file_rows": rows,
        "file_specs": dict.fromkeys(rows, spec),
    }


def _ts_to_micros(v) -> int:
    """An aware datetime (or a naive one KNOWN to be UTC wall — what a
    parquet isAdjustedToUTC footer stat denotes) → epoch micros."""
    if v.tzinfo is None:
        v = v.replace(tzinfo=_datetime.timezone.utc)
    return (
        v - _datetime.datetime(1970, 1, 1, tzinfo=_datetime.timezone.utc)
    ) // _datetime.timedelta(microseconds=1)


def _file_stats(file_path: str) -> dict:
    """Per-column [min, max] from the parquet FOOTER (no data read).

    Aggregated across row groups; only JSON-representable scalar types
    (int/float/str/bool) are kept — anything else is omitted, which
    pruning treats conservatively (file always read). Cost is O(files)
    footer reads at commit time, the Iceberg/Delta metadata trade.
    """
    import json as _json

    import pyarrow.parquet as pq

    md = pq.read_metadata(file_path)
    stats: dict[str, list] = {}
    bad: set[str] = set()  # any row group without min/max poisons the column

    def _utc_adjusted(name: str) -> bool:
        # the parquet LOGICAL type says whether a timestamp column's
        # stats denote UTC instants (isAdjustedToUTC — what the engine
        # writes via _write_parquet_micros) or local wall clock
        # (TIMESTAMP_NTZ); only instants are recorded — wall stats
        # compared against instant probes could FALSE-prune (row loss)
        for ci2 in range(len(md.schema.names)):
            c2 = md.schema.column(ci2)
            if c2.name == name:
                try:
                    j = _json.loads(c2.logical_type.to_json())
                    return j.get("Type") == "Timestamp" and bool(j.get("isAdjustedToUTC"))
                except Exception:
                    return False
        return False

    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:  # nested / poisoned — skip
                continue
            s = col.statistics
            if s is None or not s.has_min_max:
                bad.add(name)
                stats.pop(name, None)
                continue
            try:
                lo, hi = s.min, s.max
            except Exception:
                # pyarrow raises ArrowNotImplementedError for some
                # physical types (e.g. decimals) even with has_min_max
                # set — no stats is always safe (file never pruned)
                bad.add(name)
                stats.pop(name, None)
                continue
            if isinstance(lo, _datetime.datetime):
                # epoch-micros ints: recorded ONLY for columns the
                # logical type marks isAdjustedToUTC — exact instants,
                # so range/equality probes prune through the same
                # [min, max] machinery (probe datetimes canonicalize via
                # _canon_stat_probe: aware exactly, naive only when the
                # session and OS zones agree — never a false prune).
                # TIMESTAMP_NTZ (wall-clock) stays unrecorded.
                if not _utc_adjusted(name):
                    bad.add(name)
                    stats.pop(name, None)
                    continue
                lo = _ts_to_micros(lo)
                hi = _ts_to_micros(hi)
            if isinstance(lo, _datetime.date):
                # epoch-day ints: order-preserving, so date range
                # probes prune through the same [min, max] machinery
                # (_files_passing canonicalizes probe dates the same way)
                lo = lo.toordinal() - _EPOCH_DAY0
                hi = hi.toordinal() - _EPOCH_DAY0
            if not isinstance(lo, (int, float, str, bool)):
                bad.add(name)
                stats.pop(name, None)
                continue
            if name in stats:
                stats[name] = [min(stats[name][0], lo), max(stats[name][1], hi)]
            else:
                stats[name] = [lo, hi]
    return stats


_EPOCH_DAY0 = 719163  # date(1970, 1, 1).toordinal()


def _canon_stat_probe(v):
    """Probe values → the domain ``_file_stats`` records: dates to
    epoch-day ints, timestamps to epoch-micros ints; ``None`` for
    anything non-canonicalizable (incl. a naive datetime under a
    session-timezone override), which callers treat as "skip this
    check" (superset guarantee)."""
    if isinstance(v, _datetime.datetime):
        # epoch-micros ints: aware datetimes are exact instants;
        # naive ones canonicalize only when the session and OS zones
        # agree on the offset (the provenance rule of
        # ``bloomskip._resolve_naive_ts``) — ambiguous values make the
        # check unevaluable, never a false prune
        if v.tzinfo is None:
            from fdf_spark.sources.bloomskip import _resolve_naive_ts

            v = _resolve_naive_ts(v)
            if v is None:
                return None
        return _ts_to_micros(v)
    if isinstance(v, _datetime.date):
        return v.toordinal() - _EPOCH_DAY0
    if isinstance(v, (int, float, str, bool)):
        return v
    return None


# --- partition-spec evolution (clustering of FUTURE writes) ----------------
#
# Iceberg's spec evolution, realized for this manifest model: a
# partition spec names the columns FUTURE data files are clustered by
# (range-repartition + in-file sort at commit time), so each new file
# carries TIGHT manifest [min, max] stats on the spec columns and
# read_version's metadata pruning skips whole files on those keys.
# Changing the spec is a MANIFEST-ONLY commit: old files are never
# rewritten, each file remembers the spec it was written under
# ("file_specs"), readers naturally union old+new layouts (the
# manifest is a file list), and pruning works per spec — a file
# clustered under spec A prunes tightly on A's columns and
# conservatively (via its own loose stats) on B's.  Value pruning and
# stats pruning coincide here because a range-clustered file covers a
# narrow contiguous value range — the same guarantee hive-style
# directory layouts encode in paths, without freezing the layout into
# the path.


def _spec_carry(pm: dict | None) -> dict:
    """The three spec keys of ``pm`` (defaults when absent or ``None``)."""
    pm = pm or {}
    return {
        k: pm[k] if k in pm else _TABLE_STATE[k]()
        for k in ("partition_specs", "current_spec", "file_specs")
    }


def _current_spec(m: dict | None) -> tuple[int, dict]:
    """``(spec id, spec)`` of the partition spec ``m``'s writes cluster by."""
    carry = _spec_carry(m)
    return carry["current_spec"], carry["partition_specs"][str(carry["current_spec"])]


def _cluster_by_spec(
    out: DataFrame, spec: dict, mapping: dict, n_files: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Cluster a frame about to be WRITTEN by the partition spec — the
    one block every data writer (commit staging, merge-on-read appends)
    shares, so layout and transform semantics can never diverge.

    Identity columns range-cluster exactly as before.  TRANSFORM
    columns (``bucket(N, col)``, ``truncate(W, col)``, ``days``/
    ``hours`` — ``sources/transforms.py``) derive a HIDDEN physical
    column (``__part__…``) that is written into the parquet bytes:
    the commit's footer-stat collection then records tight per-file
    [min, max] for the transform value with zero extra jobs, and the
    logical schema never contains it, so readers (which select logical
    fields against an explicit physical schema) never see it —
    Iceberg's hidden partitioning.  Within each transform group rows
    are additionally sorted by the raw source, keeping raw-column
    row-group stats tight too.  A pure-bucket spec with no explicit
    file count defaults to one output partition per bucket
    combination (capped), so each file is ideally one bucket.
    """
    from pyspark.sql import functions as F

    from fdf_spark.sources.transforms import spec_transforms

    if not spec.get("cols"):
        return out
    tfs = spec_transforms(spec)
    phys_src = [mapping.get(t.source, t.source) for t in tfs]
    missing = [p for p in phys_src if p not in out.columns]
    if missing:
        raise ValueError(
            f"current partition spec needs columns {missing}; commit has {out.columns}"
        )
    pcols, sort_cols = [], []
    for t, p in zip(tfs, phys_src):
        if t.is_identity:
            pcols.append(F.col(p))
            sort_cols.append(F.col(p))
        else:
            dname = t.derived_name(p)
            # hash/truncate under the table's DECLARED type, not the
            # batch's runtime type: Transform.column documents that all
            # probe paths (_batch_bucket_memberships, _stat_checks)
            # evaluate under the declared type, so a castable-but-
            # narrower append batch (int key vs long column) must write
            # bucket stats in the same hash domain
            if schema is not None and t.source in {f.name for f in schema.fields}:
                stype = schema[t.source].dataType.simpleString()
            else:
                stype = out.schema[p].dataType.simpleString()
            out = out.withColumn(dname, t.column(F.col(p), stype))
            pcols.append(F.col(dname))
            sort_cols.extend([F.col(dname), F.col(p)])
    if n_files is not None:
        # caller-chosen file count (OPTIMIZE bin-pack): contiguous
        # ranges of the clustering key per file — stats stay tight at
        # whatever granularity the packing leaves
        out = out.repartitionByRange(n_files, *pcols)
    elif spec.get("buckets"):
        out = out.repartitionByRange(int(spec["buckets"]), *pcols)
    elif tfs and all(t.kind == "bucket" for t in tfs):
        n = 1
        for t in tfs:
            n *= t.param
        out = out.repartitionByRange(min(n, 4096), *pcols)
    else:
        out = out.repartitionByRange(*pcols)
    return out.sortWithinPartitions(*sort_cols)


def partition_spec(path: str) -> dict:
    """The spec in force at the head:
    ``{"spec_id": int, "cols": [...], "buckets": int | None}``."""
    spec_id, spec = _current_spec(_head(path)[1])
    return {"spec_id": spec_id, "cols": list(spec["cols"]), "buckets": spec.get("buckets")}


def set_partition_spec(path: str, cols, buckets: int | None = None) -> int:
    """Change the partition layout of FUTURE writes — a MANIFEST-ONLY
    commit, zero bytes rewritten (the Iceberg spec-evolution
    axis after rename/drop/widen).

    Subsequent :func:`commit_version` calls range-cluster their new
    files on ``cols`` (into ``buckets`` files when given, else the
    session's shuffle parallelism), so the manifest's per-file stats
    become tight on those columns and ``read_version(prune=...)``
    skips whole files.  Files already on disk are untouched and keep
    pruning under THEIR spec's stats; time travel is unaffected.  Same
    optimistic-commit seam as every metadata commit.
    """
    from fdf_spark.sources.transforms import parse_spec_col

    # normalize each entry through the parser: raw names stay raw,
    # transforms (bucket/truncate/days/hours) are validated and
    # canonicalized; only the SOURCE column must exist in the schema
    tfs = [parse_spec_col(c) for c in cols]
    cols = [t.spec_str() for t in tfs]
    parent, m = _head(path)
    schema = _logical_schema(m)
    if schema is not None:
        names = [f.name for f in schema.fields]
        missing = [t.source for t in tfs if t.source not in names]
        if missing:
            raise ValueError(f"spec columns {missing} not in schema (have {names})")
    carry = _spec_carry(m)
    spec_id = max(int(k) for k in carry["partition_specs"]) + 1
    specs = dict(carry["partition_specs"])
    specs[str(spec_id)] = {"cols": cols, "buckets": buckets}
    return _publish_successor(
        path, parent, m, "set-spec",
        {"set_spec": {"spec_id": spec_id, "cols": cols, "buckets": buckets}},
        partition_specs=specs, current_spec=spec_id,
    )


class ConstraintViolationError(ValueError):
    """A write's rows violate a table CHECK constraint — nothing was
    published (the staged bytes, if any, are vacuum-able orphans)."""


_CONSTRAINTS_DIR = "_constraints"


def add_check_constraint(spark: SparkSession, path: str, name: str, expr: str) -> None:
    """Attach a Delta-style CHECK constraint: every FUTURE write
    (commit/stage, copy-on-write and merge-on-read CDC merges, UPDATE images)
    validates its new rows against ``expr`` (a SQL boolean over logical
    columns) BEFORE anything publishes — a violating batch raises
    :class:`ConstraintViolationError` with per-constraint violation
    counts and leaves the table untouched.  NULL results count as
    violations (Delta's rule: the constraint must be TRUE).

    Adding the constraint validates the CURRENT snapshot first (one
    scan — the same price Delta pays), so a constraint can never be
    attached to data that already breaks it.  The validated head
    version is recorded, and after the constraint file publishes, any
    commit that landed in the validate-to-publish window is
    RE-VALIDATED (rolling the constraint back on violation) until the
    head is stable across the check (closing the TOCTOU where a
    racing write was never gated).  Residual window: a write that read
    the constraint list before our publish and commits after the
    stability check; Delta closes it by carrying constraints in the
    transactional log itself — here the add-side loop is the
    approximation.  Constraints are table
    metadata like named refs (``_constraints/<name>.json``), not
    snapshot state: they govern writes from now on and are not
    time-travel-versioned (documented difference from Delta).
    """
    from pyspark.sql import functions as F

    if not _NAME_RE.match(name):
        raise ValueError(f"invalid constraint name {name!r}")
    dst = os.path.join(path, _CONSTRAINTS_DIR, f"{name}.json")
    if os.path.exists(dst):
        raise ValueError(f"constraint {name!r} already exists at {path}")

    def _validate(version: int | None) -> None:
        if version is None:
            return
        df = read_version(spark, path, version=version)
        bad = df.filter(~F.coalesce(F.expr(expr), F.lit(False))).limit(1).count()
        if bad:
            raise ConstraintViolationError(
                f"existing rows at {path} violate CHECK ({expr}) — "
                "clean the data before attaching the constraint"
            )

    versions = list_versions(path)
    validated = versions[-1] if versions else None
    _validate(validated)
    try:
        _publish_json({"name": name, "expr": expr, "ts": time.time()}, dst)
    except FileExistsError:
        raise ValueError(f"constraint {name!r} already exists at {path}") from None
    # the constraint now gates every NEW write; close the window behind
    # us — re-validate any head that landed since the first scan, and
    # roll the constraint back if a racer slipped violating data in.
    # Bounded: on a table too hot to reach a stable head (each full
    # validation outlasted by the next commit), roll back and raise
    # rather than spinning O(table)-per-commit forever; ANY validation
    # failure (not just a violation — e.g. a racing drop_column making
    # the expr unresolvable) also rolls back, so the constraint can
    # never survive over commits it did not validate.
    for _ in range(5):
        versions = list_versions(path)
        head_now = versions[-1] if versions else None
        if head_now == validated:
            return
        validated = head_now
        try:
            _validate(validated)
        except BaseException:
            os.remove(dst)  # roll back — never leave it over unvalidated data
            raise
    os.remove(dst)
    raise ConcurrentCommitError(
        f"could not reach a stable head validating CHECK {name!r} under "
        "sustained write traffic; retry in a quieter window"
    )


def drop_check_constraint(path: str, name: str) -> None:
    p = os.path.join(path, _CONSTRAINTS_DIR, f"{name}.json")
    if not os.path.exists(p):
        raise FileNotFoundError(f"no constraint {name!r} at {path}")
    os.remove(p)


def list_check_constraints(path: str) -> dict[str, str]:
    """name -> SQL expression of every attached CHECK constraint."""
    d = os.path.join(path, _CONSTRAINTS_DIR)
    if not os.path.isdir(d):
        return {}
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                c = json.load(fh)
            out[c["name"]] = c["expr"]
    return out


def _enforce_constraints(path: str, df: DataFrame, parent_schema=None) -> dict[str, str]:
    """Validate a write's NEW rows (logical names) against every CHECK
    constraint in ONE combined agg job; raise with per-constraint
    violation counts.  Columns a constraint references that the batch
    doesn't carry (schema-evolution append) are evaluated as the NULLs
    readers will see for those rows.  Returns the constraint set it
    checked (:func:`list_check_constraints`)."""
    from pyspark.sql import functions as F

    cons = list_check_constraints(path)
    if not cons:
        return cons
    probe = df
    if parent_schema is not None:
        for f in parent_schema.fields:
            if f.name not in probe.columns:
                probe = probe.withColumn(f.name, F.lit(None).cast(f.dataType))
    row = probe.agg(
        *[
            F.sum(
                F.when(~F.coalesce(F.expr(expr), F.lit(False)), 1).otherwise(0)
            ).alias(f"__c{i}")
            for i, expr in enumerate(cons.values())
        ]
    ).collect()[0]
    bad = {
        name: int(row[f"__c{i}"] or 0)
        for i, name in enumerate(cons)
        if (row[f"__c{i}"] or 0) > 0
    }
    if bad:
        detail = "; ".join(
            f"CHECK {n} ({cons[n]}): {c} violating row(s)" for n, c in bad.items()
        )
        raise ConstraintViolationError(f"write to {path} rejected — {detail}")
    return cons


def _recheck_staged(
    spark: SparkSession, path: str, checked: dict, manifest: dict, files
) -> dict[str, str]:
    """Gate a lost-race rebase: the rows staged as ``files`` were
    validated against the CHECK set ``checked``; when the table's set is
    no longer that (a constraint was attached during the race), the
    staged files — read under ``manifest``, the one about to publish —
    are validated again before they can publish.  Returns the set they
    now satisfy."""
    if not files or list_check_constraints(path) == checked:
        return checked
    return _enforce_constraints(path, _live(spark, manifest, list(files)))


def commit_version(
    df: DataFrame, path: str, mode: str = "append", meta: dict | None = None,
    on_conflict: str = "error", expected_parent: int | None = None,
) -> int:
    """Write ``df`` as a new table version; returns the version number.

    ``append`` adds the new files to the parent snapshot's list;
    ``overwrite`` replaces the list (files of older versions are kept
    on disk for time travel until :func:`vacuum`). Each manifest also
    records per-file column [min, max] stats (footer-only scan of the
    NEW files; carried-over files inherit the parent's entries) for
    :func:`read_version`'s metadata pruning. ``meta`` rides along in
    the manifest (JSON) — e.g. the ingesting stream's batch id, which
    makes replay detection atomic with the commit itself.

    ``on_conflict`` controls what a lost commit race costs.
    ``"error"`` (default) raises
    :class:`ConcurrentCommitError` — the caller re-runs the whole
    write, which is what a read-modify-write caller (an ingest that
    anti-joined against the head it read) NEEDS for serializability.
    ``"rebase"`` is the Iceberg non-conflicting-append fast path for
    blind appends: the already-staged data files are re-based onto the
    new head MANIFEST-ONLY (zero bytes rewritten, each racer's data
    written exactly once), retrying until the publish wins.  Only
    ``append`` commits rebase — an overwrite that lost a race is a
    real conflict — and a head whose concurrent commits re-mapped a
    column this append also writes re-raises (the staged files' bytes
    would be inconsistent with the table's one physical naming).

    ``expected_parent`` is the SERIALIZABILITY pin for read-modify-write
    callers: pass the version your read was computed against (0 for "I
    read an empty table") and the commit targets exactly
    ``expected_parent + 1`` — if ANY commit landed after your read, the
    publish (or the up-front head check) raises
    ``ConcurrentCommitError`` even though the version number itself was
    free.  Without it, a racer landing between your read and this
    call's own head read commits cleanly one version later and the
    conflict your anti-join logic depends on never fires.  Mutually
    exclusive with ``on_conflict="rebase"``.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    if on_conflict not in ("error", "rebase"):
        raise ValueError(f"unknown on_conflict {on_conflict!r}")
    versions = list_versions(path)
    if expected_parent is not None:
        if on_conflict == "rebase":
            raise ValueError(
                "expected_parent pins the read snapshot for serializability; "
                "rebasing onto a different head would defeat it"
            )
        head_now = versions[-1] if versions else 0
        if head_now != expected_parent:
            raise ConcurrentCommitError(
                f"head moved: read at version {expected_parent}, now {head_now} "
                "— re-read and retry"
            )
        parent = expected_parent if expected_parent > 0 else None
    else:
        parent = versions[-1] if versions else None
    version = (parent + 1) if parent is not None else 1
    head = _read_manifest(path, parent) if parent is not None else None
    bind, staged, checked = _stage_files_and_builder(df, path, mode, meta, head, version)

    rebased = False
    while True:
        # compute OUTSIDE the try: an incompatible head raises straight
        # to the caller (a full re-run), never loops
        manifest = bind(head, version)
        if rebased:
            checked = _recheck_staged(df.sparkSession, path, checked, manifest, staged["files"])
        try:
            _stage_and_publish_manifest(path, version, manifest)
            return version
        except ConcurrentCommitError:
            if not (on_conflict == "rebase" and mode == "append"):
                raise
            parent, head = _head(path)
            version = parent + 1
            rebased = True


def _stage_files_and_builder(
    df: DataFrame, path: str, mode: str, meta: dict | None,
    head: dict | None, version: int, stage_prefix: str = "c",
):
    """Write ``df``'s bytes as staged parquet under ``path/data`` and
    return ``(bind, staged, checked)``: ``staged`` holds the files'
    manifest entries (:func:`_stage_data_files`), ``checked`` the CHECK
    set they were validated against, and ``bind(head2, version2)``
    is :func:`_manifest_for` over them — it binds the already-staged
    files to ANY head as parent.  :func:`commit_version` binds through
    it on the first attempt and on every rebase, :func:`stage_commit`
    once at staging; :func:`publish_staged` calls ``_manifest_for``
    itself with what the staged entry recorded.  All three therefore
    agree on schema evolution, physical naming and spec clustering.
    """
    from pyspark.sql import functions as F

    pm = head if mode == "append" else None
    # CHECK constraints gate every commit path (commit_version, WAP
    # staging, merge_versioned's rewrite) BEFORE any byte is staged —
    # one combined agg over the new rows, violations raise with nothing
    # to clean up.  The HEAD's schema rides along even for overwrite:
    # a constraint referencing a column the batch doesn't
    # carry is evaluated over the NULLs readers would see — a
    # ConstraintViolationError, not a raw AnalysisException (an
    # overwrite that drops a constrained column must drop the
    # constraint first)
    checked = _enforce_constraints(path, df, _logical_schema(head) if head else None)
    # the partition spec is TABLE metadata: it survives overwrite (the
    # data is replaced, the layout contract is not), like Iceberg's
    spec_id, spec = _current_spec(head)
    mapping = dict(_mapping(pm)) if pm else {}
    out = df
    if pm is not None and "schema" in pm:
        # schema evolution happens at manifest-build time (_manifest_for:
        # snapshot schema = parent ∪ new; files missing a column yield
        # NULLs); HERE only the physical naming of the bytes about to be
        # written is decided.  A NEW logical column whose name collides
        # with any physical name ever used (a dropped or renamed-away
        # column's bytes still live in old files) gets a FRESH physical
        # name — the field-id rule that stops old bytes resurrecting
        parent_schema = _logical_schema(pm)
        have = {f.name for f in parent_schema.fields}
        used_phys = {mapping.get(f.name, f.name) for f in parent_schema.fields} | set(
            pm.get("retired_physical", [])
        )
        for f in df.schema.fields:
            if f.name not in have and f.name not in mapping and f.name in used_phys:
                mapping[f.name] = f"{f.name}__v{version}"
        if mapping:
            out = df.select(
                *[F.col(f.name).alias(mapping.get(f.name, f.name)) for f in df.schema.fields]
            )
    # cluster the NEW files by the current spec: range-repartition +
    # in-file sort make each file's [min, max] tight on the spec
    # columns (identity AND derived transform values), which is what
    # turns read_version's stats pruning into layout pruning.  Spec
    # columns are logical names; files carry physical ones.
    out = _cluster_by_spec(out, spec, mapping, schema=_logical_schema(pm) if pm else None)
    # the staged files keep the spec they were CLUSTERED under at write
    # time (spec ids are append-only, so it exists in every head)
    staged = _stage_data_files(out, path, version, spec_id, stage_prefix, keep_empty=True)
    # what the staged parquet bytes ACTUALLY carry — fixed once written;
    # every manifest (first attempt or rebase) must stay consistent with it
    phys = {f.name: mapping.get(f.name, f.name) for f in df.schema.fields}

    def bind(head2: dict | None, version2: int) -> dict:
        return _manifest_for(head2, version2, mode, meta, df.schema, phys, staged)

    return bind, staged, checked


def _manifest_for(
    head: dict | None, version: int, mode: str, meta: dict | None,
    batch: StructType, phys: dict[str, str], staged: dict,
) -> dict:
    """Bind already-staged data files to ``head`` as parent — the one
    rebase every append path shares (commit_version's first attempt and
    its lost-race rebases, WAP staging and :func:`publish_staged`'s
    fast-forward).  ``batch`` is the staged frame's logical schema,
    ``phys`` the physical name each of its columns was written under,
    ``staged`` the files' manifest entries.  An ``append`` inherits the
    head's files and masks; an ``overwrite`` keeps only its partition
    specs.  Raises ``ConcurrentCommitError`` when the head's naming has
    become incompatible with the staged bytes."""
    pm = head if mode == "append" and head is not None else {}
    mapping = dict(_mapping(pm))
    schema = batch
    if "schema" in pm:
        parent_schema = _logical_schema(pm)
        have = {f.name for f in parent_schema.fields}
        schema = StructType(
            list(parent_schema.fields) + [f for f in batch.fields if f.name not in have]
        )
        used_phys = {mapping.get(f.name, f.name) for f in parent_schema.fields} | set(
            pm.get("retired_physical", [])
        )
        for f in batch.fields:
            wp = phys[f.name]
            if f.name in have:
                if mapping.get(f.name, f.name) != wp:
                    raise ConcurrentCommitError(
                        f"concurrent commits re-mapped column {f.name!r} "
                        f"(staged files carry {wp!r}); re-run the write"
                    )
            elif wp in used_phys:
                raise ConcurrentCommitError(
                    f"staged physical name {wp!r} collides with a "
                    "concurrent commit's naming; re-run the write"
                )
            elif wp != f.name:
                mapping[f.name] = wp
    elif any(phys[f.name] != f.name for f in batch.fields):
        raise ConcurrentCommitError(
            "staged files carry a column mapping the new head lost; re-run the write"
        )
    # equality deletes scope by PRESENCE AT DELETE TIME: the appended
    # files are newer than every existing entry, so they inherit nothing
    # (Iceberg's sequence-number rule)
    return _successor(
        head, version, mode, meta or {},
        **_appended(pm, staged),
        delete_files=_delete_map(pm),
        eq_deletes=_eq_entries(pm),
        eq_applies=_eq_map(pm),
        schema=json.dumps(schema.jsonValue()),
        column_mapping=mapping,
        retired_physical=pm.get("retired_physical", []),
    )


def _stage_and_publish_manifest(path: str, version: int, manifest: dict) -> None:
    """Stage a manifest next to its destination and publish it through
    the optimistic-concurrency seam — the ONE commit-discipline block
    every snapshot writer (commit_version, optimize) shares.

    Publishes via the create-if-absent seam (_publish_manifest_atomic —
    POSIX os.link here, a conditional PUT on an object store), NOT
    os.rename (which silently overwrites — two racing committers
    reading the same parent would both claim this version number and
    the loser's snapshot would vanish). On conflict the caller's staged
    data files are orphans (vacuum-able) and the caller retries against
    the new head — the Iceberg/Delta optimistic-commit loop. The
    staging file never survives, success or failure.
    """
    # every snapshot carries a wall-clock publish stamp (set HERE so no
    # manifest writer can forget it) — the resolution key for
    # read_version(as_of_ts=...); clock skew between committers is
    # tolerated by the reader's monotonic-by-version rule, never
    # "fixed" at write time (version order is the truth)
    manifest.setdefault("ts", time.time())
    # delete-debt stats ride the manifest: per
    # referenced tombstone file, the {data file -> masked rows} counts
    # — inherited from the parent where known (tombstones are
    # immutable), footer-read once for new ones (the writer just wrote
    # them; the process cache makes it one read total).  Centralized
    # HERE so no manifest writer can forget the carry; metadata tables
    # then answer delete debt with zero tombstone reads.
    refd = {t for ts in manifest.get("delete_files", {}).values() for t in ts}
    # counts the writer already carried (clone/restore re-reference an
    # older snapshot's manifest wholesale) are trusted as-is
    known: dict = dict(manifest.get("tomb_rows") or {})
    if (refd - set(known)) and manifest.get("parent") is not None:
        # cheap in practice: the caller just decoded this manifest, so
        # the keyed decode cache serves it without re-resolving deltas
        try:
            known = {**_read_manifest(path, manifest["parent"]).get("tomb_rows", {}), **known}
        except FileNotFoundError:
            pass
    manifest["tomb_rows"] = {
        t: (known[t] if t in known else _tomb_counts_footer(t)) for t in sorted(refd)
    }
    # per-file on-disk byte sizes (Iceberg's file_size_in_bytes),
    # centralized HERE like tomb_rows so no writer can forget them:
    # inherited from the parent for carried files (data files are
    # immutable), one os.stat for new ones — the metadata tables and
    # plan_maintenance then answer size questions with zero filesystem
    # walks even after files are gone
    known_b: dict = dict(manifest.get("file_bytes") or {})
    if (set(manifest["files"]) - set(known_b)) and manifest.get("parent") is not None:
        try:
            known_b = {
                **_read_manifest(path, manifest["parent"]).get("file_bytes", {}),
                **known_b,
            }
        except FileNotFoundError:
            pass
    manifest["file_bytes"] = {
        f: known_b[f] if f in known_b else os.path.getsize(f)
        for f in manifest["files"]
        if f in known_b or os.path.exists(f)
    }
    # table-level column statistics (ANALYZE) and table properties
    # persist until changed — inherited centrally like file_bytes so
    # full-manifest checkpoints cannot drop them and no writer can
    # forget them
    pm = None
    if manifest.get("parent") is not None:
        try:
            pm = _read_manifest(path, manifest["parent"])
        except FileNotFoundError:
            pm = None
    if pm is not None:
        if "column_stats" not in manifest and pm.get("column_stats") is not None:
            manifest["column_stats"] = pm["column_stats"]
        if "properties" not in manifest and pm.get("properties") is not None:
            manifest["properties"] = pm["properties"]
        # fdf.appendOnly (Delta's delta.appendOnly): the parent's
        # properties GATE this commit at the one seam every write
        # passes through — any transaction that removes live files or
        # touches delete state is rejected; OPTIMIZE is exempt
        # (content-preserving rewrite: folds shrink, never grow).
        # Enforced against the PARENT so the flag cannot be bypassed
        # in the same commit that flips it off.
        props = pm.get("properties") or {}
        if (
            str(props.get("fdf.appendOnly", "")).lower() == "true"
            and manifest.get("mode") not in ("optimize", "set-properties")
        ):
            removed = set(pm.get("files", [])) - set(manifest.get("files", []))
            touched = (
                _delete_map(manifest) != _delete_map(pm)
                or _eq_map(manifest) != _eq_map(pm)
            )
            if removed or touched:
                raise ValueError(
                    "table is append-only (fdf.appendOnly=true): commit "
                    f"mode {manifest.get('mode')!r} removes "
                    f"{len(removed)} file(s) or modifies delete state — "
                    "unset the property first"
                )
    # store a DELTA against the parent except at checkpoint versions
    # (bounds reconstruction depth) — metadata written per commit is
    # O(changed files), not O(table files)
    stored = manifest
    parent = manifest.get("parent")
    if parent is not None and version % _CHECKPOINT_EVERY != 0:
        try:
            stored = _encode_manifest_delta(manifest, _read_manifest(path, parent))
        except FileNotFoundError:
            stored = manifest
    try:
        _publish_json(stored, _manifest_path(path, version))
    except FileExistsError:
        raise ConcurrentCommitError(
            f"version {version} was committed concurrently; retry on the new head"
        )
    # follower views (register_versioned_view(follow=…)) see the new
    # head immediately in this session; best-effort by contract — the
    # commit IS published, a refresh hiccup must not fail it
    _refresh_follow_views(path)


def _effective_stamps(path: str, versions):
    """Yield ``(version, effective stamp)`` over ``versions`` (ascending)
    — the running max of manifest ``ts`` in version order (the
    monotonic-by-version rule of :func:`resolve_as_of`), ``None`` until
    the first stamped commit.  Reads one manifest per version, lazily:
    a caller that stops early reads no further."""
    eff = None
    for v in versions:
        ts = _read_manifest(path, v).get("ts")
        if ts is not None:
            eff = ts if eff is None else max(eff, ts)
        yield v, eff


def _snapshot_version(
    path: str, version: int | None, as_of_ts: float | None, ref: str | None
) -> int | None:
    """The version a snapshot selector names — ``version`` itself, the
    :func:`resolve_as_of` of ``as_of_ts`` or the :func:`resolve_ref` of
    ``ref``; ``None`` (the head) when none is given.  At most one may be
    given."""
    if sum(x is not None for x in (version, as_of_ts, ref)) > 1:
        raise ValueError("pass at most one of version / as_of_ts / ref")
    if as_of_ts is not None:
        return resolve_as_of(path, as_of_ts)
    if ref is not None:
        return resolve_ref(path, ref)
    return version


def resolve_as_of(path: str, as_of_ts: float) -> int:
    """The version a ``TIMESTAMP AS OF`` read resolves to: the NEWEST
    version whose EFFECTIVE publish stamp is at-or-before ``as_of_ts``.

    Effective stamp = running max of manifest ``ts`` in version order —
    the monotonic-by-version rule: a committer with a lagging clock can
    stamp v3 earlier than v2, but version order is the truth, so v3's
    effective time is clamped up to v2's (Delta applies the same
    monotonicity adjustment to its commit timestamps).  UNSTAMPED
    manifests (pre-upgrade tables) after the first stamp inherit the
    running max — conservative: they never resolve LATER than a
    stamped successor.  Unstamped versions BEFORE the first stamp have
    no effective time at all and are never selectable — a stamp below
    the first stamped commit raises rather than silently resolving to
    a version of unknown age.  O(commits) metadata reads.
    """
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no versions at {path}")
    best = None
    oldest = None  # first effective stamp — what "before the table existed" means
    for v, eff in _effective_stamps(path, versions):
        if oldest is None:
            oldest = eff
        if eff is not None and eff <= as_of_ts:
            best = v
    if oldest is None:
        raise ValueError(
            f"no commit at {path} carries a timestamp (pre-upgrade table) — "
            "time travel by version instead"
        )
    if best is None:
        raise ValueError(
            f"no version at-or-before ts {as_of_ts} (oldest stamped commit is {oldest})"
        )
    return best


def metadata_aggregate(
    spark: SparkSession,
    path: str,
    cols=(),
    version: int | None = None,
    ref: str | None = None,
) -> dict:
    """``count(*)`` and per-column ``min``/``max`` answered from the
    MANIFEST — zero data-file reads (the Iceberg/Delta
    metadata-aggregate path).

    Returns ``{"count": int, "min": {col: v}, "max": {col: v},
    "source": "metadata" | "scan"}``.  ``count`` comes from the
    per-file row counts recorded at commit time (``file_rows``; a
    pre-upgrade manifest falls back to footer reads — still zero data
    pages); ``min``/``max`` fold the manifest's per-file [min, max]
    stats.  The answer falls back to ONE real scan (``source:
    "scan"``) whenever metadata cannot be EXACT:

    - ``min``/``max`` under deletion vectors (``delete_files``): a
      masked row may hold the extreme value.  ``count(*)`` stays
      metadata-exact: live rows = Σ per-file rows − Σ tombstone-file
      rows (tombstone positions are unique by construction — only live
      rows are ever tombstoned — and the tombstone row counts are
      footer-only reads);
    - ANY request under equality deletes (``eq_applies``): how many
      rows a key mask kills is unknowable without matching;
    - a requested column is neither numeric nor date/timestamp
      (parquet string stats may be truncated by writers — safe for
      pruning's superset guarantee, not for an exact answer) or lacks
      footer stats in some non-empty file (nested types, all-NULL
      chunks, NaN-poisoned doubles, TIMESTAMP_NTZ).  Date/timestamp
      extremes answer from the exact epoch-day/epoch-micros
      manifest stats, converted back through pyspark's own
      ``fromInternal`` so the value is bit-identical to a scan's
      collect — the "event-time watermark of a 100 TB table" question
      becomes a metadata read.

    Pruning tolerates loose stats; THIS function never returns a value
    a full scan would not — the fallback is the guard.
    """
    from pyspark.sql import functions as F

    v, m = _head(path, _snapshot_version(path, version, None, ref))
    files = m["files"]
    cols = list(cols)
    schema = _logical_schema(m)
    if schema is not None:
        names = [f.name for f in schema.fields]
        missing = [c for c in cols if c not in names]
        if missing:
            raise ValueError(f"no columns {missing} (have {names})")

    def _fallback() -> dict:
        df = read_version(spark, path, v)
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            g for c in cols for g in (F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}"))
        ]
        row = df.agg(*aggs).collect()[0]
        return {
            "count": row["__n"],
            "min": {c: row[f"__lo_{c}"] for c in cols},
            "max": {c: row[f"__hi_{c}"] for c in cols},
            "source": "scan",
        }

    if any(_eq_map(m).get(f) for f in files):
        return _fallback()
    dvm = _delete_map(m)
    has_dv = any(dvm.get(f) for f in files)
    if has_dv:
        if cols:
            return _fallback()
        rows_map0 = m.get("file_rows", {})
        live = sum(
            (rows_map0[f] if f in rows_map0 else _file_row_count(f)) for f in files
        ) - sum(_file_row_count(t) for t in {t for f in files for t in dvm.get(f, [])})
        return {"count": live, "min": {}, "max": {}, "source": "metadata"}
    # temporal columns answer from metadata too: their manifest
    # stats are exact epoch-day / epoch-micros ints recorded from
    # lossless footer values, converted back below through pyspark's
    # own internal converters so the answer is bit-identical to what a
    # scan's collect returns
    _NUMERIC = {"byte", "short", "integer", "long", "float", "double", "boolean"}
    _TEMPORAL = {"date", "timestamp"}
    # type checks FIRST — before paying any per-file footer reads a
    # fallback would discard; a legacy manifest without a recorded
    # schema cannot prove a column numeric, so it scans too
    if cols and schema is None:
        return _fallback()
    if any(schema[c].dataType.typeName() not in _NUMERIC | _TEMPORAL for c in cols):
        return _fallback()
    rows_map = m.get("file_rows", {})
    per_file_rows = {f: (rows_map[f] if f in rows_map else _file_row_count(f)) for f in files}
    count = sum(per_file_rows.values())
    stats = m.get("stats", {})
    lo: dict = {}
    hi: dict = {}
    for c in cols:
        pc = _physical(m, c)
        bounds = []
        for f in files:
            st = stats.get(f, {}).get(pc)
            if st is None:
                if per_file_rows[f] == 0:
                    continue  # an empty file contributes no extremes
                return _fallback()
            bounds.append(st)
        clo = min((b[0] for b in bounds), default=None)
        chi = max((b[1] for b in bounds), default=None)
        tname = schema[c].dataType.typeName()
        if clo is not None and tname in _TEMPORAL:
            if not all(
                isinstance(b[0], int) and isinstance(b[1], int) for b in bounds
            ):
                return _fallback()  # older manifests' stats in a foreign domain
            # pyspark's own fromInternal — the exact value a scan's
            # collect() hands back for the same extreme row
            clo, chi = (
                schema[c].dataType.fromInternal(clo),
                schema[c].dataType.fromInternal(chi),
            )
        lo[c] = clo
        hi[c] = chi
    return {"count": count, "min": lo, "max": hi, "source": "metadata"}


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
    as_of_ts: float | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Snapshot read: the explicit file list of ``version`` (latest if
    None) — pinned, immune to later commits/vacuums.

    ``as_of_ts`` is timestamp time travel ("the table as of last
    night's run"): the snapshot is the newest version published
    at-or-before the stamp (:func:`resolve_as_of` — monotonic by
    version under clock skew).  ``ref`` reads through a NAMED ref —
    a tag ("the exact snapshot training run X consumed") or a branch
    head (:func:`create_tag` / :func:`create_branch`); ref'd versions
    are protected from :func:`vacuum`.  ``version`` / ``as_of_ts`` /
    ``ref`` are mutually exclusive.

    ``prune=(col, lo, hi)`` enables MANIFEST-LEVEL file pruning: only
    files whose recorded [min, max] for ``col`` overlaps [lo, hi] are
    handed to Spark at all (files with no stats for the col are kept —
    conservative). ``prune=(col, values)`` — a 2-tuple with a
    list/set/tuple of values — prunes by MEMBERSHIP instead: a file
    survives iff some value falls inside its [min, max] (the IN-list
    analog; what a partition-pruned index probe wants — see
    ``llm/similarity.ivf_pq_probe_index``). This is metadata-only
    pruning the way Iceberg/Delta do it: the planner never even lists
    the skipped files, which matters when the predicate would
    otherwise need footer reads over millions of files. The caller
    still applies the row-level filter — pruning is a superset
    guarantee, not an exact selection.
    """
    v, m = _head(path, _snapshot_version(path, version, as_of_ts, ref))
    files = m["files"]
    if prune is not None:
        if len(prune) == 2:
            col, values = prune
            # a str/bytes "values" is almost certainly ONE intended value,
            # but list() would silently explode it into characters and
            # prune away the files that contain it — a row-loss violation
            # of the superset guarantee. Reject loudly; wrap
            # a non-iterable scalar into a one-element list instead.
            if isinstance(values, (str, bytes)):
                raise TypeError(
                    "membership prune values must be a collection of values, "
                    f"not a single {type(values).__name__} (wrap it in a list)"
                )
            try:
                values = list(values)
            except TypeError:
                values = [values]
            if not values:
                raise ValueError("membership prune needs at least one value")
            if any(v is None for v in values):
                raise ValueError(
                    "membership prune values must not contain None — NULL "
                    "never matches a [min, max] range; filter rows instead"
                )
            lo, hi = None, None
        else:
            col, lo, hi = prune
            values = None
        # every check is CONJUNCTIVE — the raw-column stats plus the
        # image of the probe under each partition TRANSFORM of the
        # column (_stat_checks): a bucket(N, col) layout prunes an
        # equality/IN probe to ~1/N of the files even though the raw
        # [min, max] of a hash-routed file spans everything.
        files = _files_passing(m, files, _stat_checks(m, col, values, lo, hi))
        # …then per-file BLOOM sidecars, where built (sources/bloomskip
        # — the compute-stats action): an equality/IN probe on a
        # column the layout does NOT cluster drops every file whose
        # bloom rejects all probed values; files without a sidecar are
        # kept (superset guarantee intact)
        probe_vals = (
            values if values is not None
            else [lo] if (lo is not None and lo == hi)
            else None
        )
        if probe_vals is not None and files:
            # declared-type coercion + BLOOM_PROBE_CAP both enforced by
            # _bloom_scope/bloom_prune: a 100k-value IN-list degrades to
            # "no bloom pruning" (stats/transform pruning already ran),
            # never to a driver stall
            files = _bloom_scope(m, files, col, probe_vals)
        if not files:
            # empty relation with the snapshot schema
            return spark.createDataFrame([], _logical_schema(m))
    if not files:
        raise FileNotFoundError(f"version {v} is empty")
    # merge-on-read: files with deletion vectors anti-join their
    # tombstones; a DV-free snapshot takes the identical plan as before
    return _live(spark, m, files)


def register_versioned_view(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
    ref: str | None = None,
    follow: str | bool | None = None,
    metadata_tables: bool = False,
) -> int:
    """SQL surface for versioned tables: pin a
    snapshot as a catalog TEMP VIEW so ``spark.sql("SELECT … FROM
    name")`` — and every downstream tool that only speaks SQL — reads
    the versioned substrate.  Returns the pinned version number.

    The view wraps :func:`read_version`'s plan, which names the
    snapshot's COMPLETE file list explicitly — so the view is a true
    SNAPSHOT: commits landing after registration never leak into it
    (pinned by pytest), and the pinned files survive vacuum while any
    surviving manifest references them (pin a :func:`create_tag` ref
    for retention beyond that).  ``version`` / ``ref`` select the
    snapshot exactly as in :func:`read_version` (at most one; default =
    current head).

    ``metadata_tables=True`` additionally registers the full
    operability surface as views — ``<name>_files`` / ``_refs`` /
    ``_partitions`` / ``_eq_deletes`` / ``_blooms``; follower
    registrations re-materialize them on every refresh.

    ``<name>_snapshots`` is registered too —
    the commit-history metadata relation (:func:`metatables.
    table_history`: one row per version with modes, stamps, row/file
    deltas, delete debt), the Iceberg ``snapshots`` table analog.  It
    is materialized at registration time (metadata-only, O(versions))
    and is likewise a snapshot of the history as of now.

    ``follow`` makes the view TRACK a moving pointer instead of
    pinning: ``follow=True`` (or ``"head"``) tracks
    the table head; ``follow="<branch>"`` tracks a movable branch ref.
    Every ENGINE commit in this session (any writer — they all publish
    through ``_stage_and_publish_manifest`` — and every
    :func:`set_branch` move) re-registers follower views
    automatically, so an analyst's ``spark.sql`` sees the new snapshot
    with no action on their part; commits from OTHER processes are
    picked up by :func:`refresh_versioned_views` (the view is a
    re-registration hook, not a live plan — Spark temp views pin their
    file lists at analysis time, which is exactly what makes the
    pinned variant a true snapshot).

    Reference parity: the logbook is the reference's SQL surface
    (factory.py:537-542) — this is the engine's own tables reaching
    the same interface.
    """
    if not _NAME_RE.match(name):
        raise ValueError(f"invalid view name {name!r}")
    if follow is not None and (version is not None or ref is not None):
        raise ValueError("follow is exclusive with version / ref")
    version = _snapshot_version(path, version, None, ref)
    if follow is not None:
        if follow in (True, "head"):
            follow = "head"
        else:
            if list_refs(path).get(follow, {}).get("type") != "branch":
                raise ValueError(
                    f"follow={follow!r} is not a branch (tags are immutable "
                    "— pin them with ref= instead)"
                )
            version = resolve_ref(path, follow)
    v = _head(path, version)[0]
    read_version(spark, path, version=v).createOrReplaceTempView(name)
    from fdf_spark.sources.metatables import table_history

    table_history(spark, path).createOrReplaceTempView(f"{name}_snapshots")
    if metadata_tables:
        _register_metadata_views(spark, path, name, v)
    import weakref

    with _FOLLOW_LOCK:
        if follow is not None:
            _FOLLOW_VIEWS[name] = {
                "path": os.path.abspath(path), "follow": follow,
                "spark": weakref.ref(spark), "version": v,
                "metadata": metadata_tables,
            }
        else:
            # a pinned registration under the same name replaces (and
            # therefore stops) any earlier follower
            _FOLLOW_VIEWS.pop(name, None)
    return v


def _register_metadata_views(spark: SparkSession, path: str, name: str, v: int) -> None:
    """The full operability surface as SQL views next to the data view
    (``metadata_tables=True``): ``<name>_files`` / ``_refs`` /
    ``_partitions`` / ``_eq_deletes`` / ``_blooms`` — so a SQL-only
    session can answer "how much delete debt", "which buckets are
    skewed", "what still needs build_blooms" without touching the
    Python API.  All metadata-only; materialized at registration (and
    re-materialized by the follower refresh)."""
    from fdf_spark.sources import metatables as MT

    MT.table_files(spark, path, version=v).createOrReplaceTempView(f"{name}_files")
    MT.table_refs(spark, path).createOrReplaceTempView(f"{name}_refs")
    MT.table_partitions(spark, path, version=v).createOrReplaceTempView(
        f"{name}_partitions"
    )
    MT.table_eq_deletes(spark, path, version=v).createOrReplaceTempView(
        f"{name}_eq_deletes"
    )
    MT.table_blooms(spark, path, version=v).createOrReplaceTempView(f"{name}_blooms")


#: follower-view registry (register_versioned_view(follow=…)): name →
#: {path, follow, spark weakref, version, snapshots}
_FOLLOW_VIEWS: dict[str, dict] = {}
_FOLLOW_LOCK = threading.Lock()


def _refresh_follow_views(path: str) -> None:
    """Re-register every follower view of ``path`` whose pointer moved
    — called AFTER a successful manifest publish / branch move, so it
    must never fail the commit it follows: refresh errors leave the
    view at its previous (still perfectly consistent) snapshot and the
    next refresh_versioned_views call reports them loudly."""
    ap = os.path.abspath(path)
    with _FOLLOW_LOCK:
        entries = [(n, dict(e)) for n, e in _FOLLOW_VIEWS.items() if e["path"] == ap]
    for name, e in entries:
        spark = e["spark"]()
        if spark is None:
            with _FOLLOW_LOCK:
                _FOLLOW_VIEWS.pop(name, None)
            continue
        try:
            _refresh_one_follow_view(spark, name, e)
        except Exception:
            pass  # commit already succeeded; refresh_versioned_views recovers


def _refresh_one_follow_view(spark: SparkSession, name: str, e: dict) -> int:
    v = (
        list_versions(e["path"])[-1]
        if e["follow"] == "head"
        else resolve_ref(e["path"], e["follow"])
    )
    if v != e["version"]:
        read_version(spark, e["path"], version=v).createOrReplaceTempView(name)
        from fdf_spark.sources.metatables import table_history

        table_history(spark, e["path"]).createOrReplaceTempView(f"{name}_snapshots")
        if e.get("metadata"):
            _register_metadata_views(spark, e["path"], name, v)
        with _FOLLOW_LOCK:
            if name in _FOLLOW_VIEWS:
                _FOLLOW_VIEWS[name]["version"] = v
    return v


def refresh_versioned_views(spark: SparkSession) -> dict[str, int]:
    """Re-resolve every follower view registered in THIS session
    against its pointer (head or branch) and re-register the ones that
    moved — the recovery path for commits made by OTHER processes
    (same-session engine commits refresh automatically).  Returns
    ``{view_name: current_version}``; errors raise (unlike the
    in-commit best-effort hook, a deliberate refresh must be loud)."""
    out: dict[str, int] = {}
    with _FOLLOW_LOCK:
        entries = [(n, dict(e)) for n, e in _FOLLOW_VIEWS.items()]
    for name, e in entries:
        s = e["spark"]()
        if s is None or s is not spark:
            continue
        out[name] = _refresh_one_follow_view(spark, name, e)
    return out


def unregister_versioned_view(spark: SparkSession, name: str) -> None:
    """Drop a registered view (pinned or follower) and forget any
    follower entry for it."""
    with _FOLLOW_LOCK:
        _FOLLOW_VIEWS.pop(name, None)
    spark.catalog.dropTempView(name)
    for sub in ("snapshots", "files", "refs", "partitions", "eq_deletes", "blooms"):
        spark.catalog.dropTempView(f"{name}_{sub}")


def _diff_scan_cap(df: DataFrame, files) -> DataFrame:
    """Cap a CHANGED-FILES scan at its byte-derived split count.

    The local session floors every scan at ``minPartitionNum`` (cores)
    so full-table fixture reads parallelize, but a diff reads only the
    files a commit touched — often a few KB — and the floor turns each
    tiny side into 32 near-empty tasks (guide §2.1/§6: task scheduling
    overhead, many small stages). ``coalesce`` to the 128 MB-split
    count merges the narrow scan chain without an exchange; it never
    INCREASES partitions, so on a cluster whose planner already sized
    splits by bytes this is a no-op, and the cap itself scales with
    the commit's actual bytes (never a local constant).
    """
    try:
        total = sum(os.path.getsize(f) for f in files)
    except OSError:
        return df
    cap = max(1, -(-total // (128 << 20)))
    return df.coalesce(cap)


def diff_versions(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> DataFrame:
    """Incremental CDC read: the row-level diff between two snapshots.

    Returns the ``v_to`` schema plus a ``change`` column
    (``'insert'`` / ``'delete'``; an update appears as the
    delete+insert pair — feed straight into
    ``operators/ivm.incremental_refresh`` with ``sign = ±1``).

    The scale property is FILE-LEVEL pruning before any row work:
    manifests name complete file lists, so only files present in
    exactly one of the two snapshots are read — under copy-on-write
    merges that is the touched partitions, not the table. Row-level
    refinement (a rewritten file carries both changed and carried-over
    rows) is a multiset ``exceptAll`` each way over just those files.
    Cost is O(changed files), with no dependence on table size.

    Both sides read with the ``v_to`` manifest schema (append-mode
    evolution only adds columns; removed-file rows surface NULLs for
    columns born after ``v_from``).

    Either endpoint may be a NAMED REF (a str): "what changed since
    the snapshot training run X read" is
    ``diff_versions(spark, path, "train-tag", head)``.
    """
    if isinstance(v_from, str):
        v_from = resolve_ref(path, v_from)
    if isinstance(v_to, str):
        v_to = resolve_ref(path, v_to)
    if v_from == v_to:
        raise ValueError("diff_versions needs two distinct versions")
    m_from = _read_manifest(path, v_from)
    m_to = _read_manifest(path, v_to)
    f_from, f_to = set(m_from["files"]), set(m_to["files"])
    added, removed = sorted(f_to - f_from), sorted(f_from - f_to)
    dv_from, dv_to = _delete_map(m_from), _delete_map(m_to)
    eqa_from, eqa_to = _eq_map(m_from), _eq_map(m_to)
    # shared files whose EQUALITY-DELETE scope changed take the generic
    # both-sides path: each side reads its own effective rows and the
    # exceptAll below surfaces exactly the key-masked rows as deletes —
    # O(affected files), same cost class as a rewritten file's diff
    eq_changed = sorted(
        f for f in f_from & f_to
        if sorted(eqa_to.get(f, [])) != sorted(eqa_from.get(f, []))
    )
    # shared files whose deletion-vector list CHANGED between the
    # snapshots: a tombstone only v_to carries masks rows that were live
    # at v_from (deletes); one only v_from carries — a restore to an
    # older snapshot, or a diff run backwards — masked rows that are
    # live again at v_to (inserts).  Either delta is exactly the rows at
    # those positions, read back at O(those tombstones + affected
    # files).  eq-changed files are excluded — the generic path covers
    # their positional changes too.
    gained: dict[str, set[str]] = {}
    lost: dict[str, set[str]] = {}
    for f in sorted((f_from & f_to) - set(eq_changed)):
        a, b = set(dv_from.get(f, [])), set(dv_to.get(f, []))
        if b - a:
            gained[f] = b - a
        if a - b:
            lost[f] = a - b

    def _rows(files: list[str], masks: dict, pos: bool = False) -> DataFrame | None:
        if not files:
            return None
        # both sides through the v_to manifest: its schema AND mapping
        # (a renamed column diffs under its new name; dropped columns
        # are invisible on both sides) — but each side's OWN delete
        # masks, positional and equality (a removed file's masked rows
        # were never live at v_from and must not surface as deletes)
        own = {k: masks.get(k, {}) for k in ("delete_files", "eq_applies", "eq_deletes")}
        return _diff_scan_cap(_live(spark, {**m_to, **own}, files, pos), files)

    def _at(marks: dict[str, set[str]], masks: dict) -> DataFrame:
        # the rows AT the marked positions — kept by a semi-join with
        # just those tombstones' rows for these files — under ``masks``
        nm = sorted(marks)
        tombs = {t for ts in marks.values() for t in ts}
        tomb = _mask(spark, tombs, scope={t: [f for f in nm if t in marks[f]] for t in tombs})
        rows = _rows(nm, masks, pos=True)
        return rows.join(
            tomb, (rows["__file"] == tomb["file"]) & (rows["__pos"] == tomb["pos"]), "left_semi"
        ).drop("__file", "__pos")

    def _plus(df: DataFrame | None, more: DataFrame) -> DataFrame:
        return more if df is None else df.unionByName(more)

    new_rows = _rows(added + eq_changed, m_to)
    old_rows = _rows(removed + eq_changed, m_from)
    from pyspark.sql import functions as F

    if gained:  # live at v_from by construction: read unmasked
        old_rows = _plus(old_rows, _at(gained, {}))
    if lost:  # through v_to's other masks, which may still hide them
        new_rows = _plus(new_rows, _at(lost, m_to))
    if new_rows is None and old_rows is None:
        raise ValueError(f"versions {v_from} and {v_to} share all files — empty diff")

    parts = []
    if new_rows is not None:
        ins = new_rows.exceptAll(old_rows) if old_rows is not None else new_rows
        parts.append(ins.withColumn("change", F.lit("insert")))
    if old_rows is not None:
        del_ = old_rows.exceptAll(new_rows) if new_rows is not None else old_rows
        parts.append(del_.withColumn("change", F.lit("delete")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _commit_delta(spark: SparkSession, path: str, v: int) -> DataFrame | None:
    """Commit ``v``'s row-level delta against its parent — the
    :func:`diff_versions` relation, ``change`` column and all; a table's
    first commit contributes its rows as inserts.  ``None`` for a commit
    that changes no rows, decided from the two manifests alone (no data
    page read): one that leaves the file set, the deletion vectors and
    the equality-delete scope as its parent had them (renames, spec,
    constraint and property edits, ``analyze_table``), or an
    ``optimize``, whose rewrite preserves content (``diff_versions``
    over it is empty — pinned by test_optimize_folds_deletion_vectors)
    and would otherwise be re-read in full to prove it."""
    from pyspark.sql import functions as F

    m = _read_manifest(path, v)
    pm = _read_manifest(path, v - 1) if v > 1 else {"files": []}
    if m.get("mode") == "optimize" or (
        sorted(pm["files"]) == sorted(m["files"])
        and _delete_map(pm) == _delete_map(m)
        and _eq_map(pm) == _eq_map(m)
    ):
        return None
    if v == 1:
        # capped like any other diff side: the manifest names the
        # commit's files
        return _diff_scan_cap(_live(spark, m, m["files"]), m["files"]).withColumn(
            "change", F.lit("insert")
        )
    return diff_versions(spark, path, v - 1, v)


def table_changes(
    spark: SparkSession,
    path: str,
    v_from: int | str,
    v_to: int | str | None = None,
    keys=None,
) -> DataFrame:
    """PER-COMMIT row-level change feed (Delta's ``table_changes`` /
    CDF read, parity surface): every commit in ``[v_from, v_to]``
    contributes its own row-level delta, stamped with the commit it
    came from.

    Returns the ``v_to`` logical schema plus three feed columns:

    - ``_change_type`` — ``'insert'`` / ``'delete'``, and with ``keys``
      given, a delete+insert pair on the same key WITHIN one commit is
      reclassified as ``'update_preimage'`` / ``'update_postimage'``
      (the engine stores no write-time CDC files, so updates are
      INFERRED from the key discipline the caller declares — exactly
      what a keyed downstream MERGE consumer needs).
    - ``_commit_version`` — the commit that produced the row.
    - ``_commit_timestamp`` — the commit's EFFECTIVE stamp under the
      same monotonic-by-version rule ``TIMESTAMP AS OF`` resolution
      applies (:func:`resolve_as_of`); NULL for unstamped pre-upgrade
      commits.

    Semantics follow Delta: ``v_from`` is the FIRST COMMIT INCLUDED
    (``table_changes(t, 1)`` replays the table from its creation —
    commit 1's changes are the initial rows as inserts), ``v_to``
    defaults to the head, and either endpoint may be a named ref.
    One skip rule, shared with :func:`change_feed_fold`
    (:func:`_commit_delta`): a commit that leaves the file set,
    deletion vectors and equality-delete scope unchanged (renames, spec
    changes, constraint and property edits, ``add_column``) or an
    ``optimize`` (a content-preserving rewrite) contributes nothing —
    decided from manifests, no data pages are read to discover that.

    Scale: each step is a :func:`diff_versions` call — O(that commit's
    changed files), never O(table) — and steps union lazily into one
    plan, so a consumer catching up on N commits pays exactly the bytes
    those N commits touched.  Additive schema evolution inside the
    range NULL-fills older steps (``unionByName`` with missing-column
    fill), matching append-mode evolution's read semantics.
    """
    from pyspark.sql import functions as F

    if isinstance(v_from, str):
        v_from = resolve_ref(path, v_from)
    if v_to is None:
        v_to = list_versions(path)[-1]
    elif isinstance(v_to, str):
        v_to = resolve_ref(path, v_to)
    if v_from < 1:
        raise ValueError("v_from must be >= 1 (commit 1 is the first commit)")
    if v_to < v_from:
        raise ValueError(f"empty change range [{v_from}, {v_to}]")
    if isinstance(keys, str):
        keys = [keys]

    # effective (monotonic) commit stamps — stamps BEFORE the range
    # still feed the running max, one metadata read per commit
    eff_ts: dict[int, float | None] = {}
    for v, eff in _effective_stamps(path, [x for x in list_versions(path) if x <= v_to]):
        if v >= v_from:
            eff_ts[v] = eff

    steps = []
    for v in range(v_from, v_to + 1):
        d = _commit_delta(spark, path, v)
        if d is None:
            continue
        if keys:
            missing = [k for k in keys if k not in d.columns]
            if missing:
                raise ValueError(
                    f"key columns {missing} not in commit {v}'s schema"
                )
        ts = eff_ts.get(v)
        d = d.withColumnRenamed("change", "_change_type").withColumn(
            "_commit_version", F.lit(v).cast("long")
        ).withColumn(
            "_commit_timestamp",
            F.timestamp_seconds(F.lit(ts)) if ts is not None
            else F.lit(None).cast("timestamp"),
        )
        steps.append(d)
    if not steps:
        # a range of pure metadata commits is a legal, empty feed
        base = read_version(spark, path, version=v_to).limit(0)
        return (
            base.withColumn("_change_type", F.lit("").cast("string"))
            .withColumn("_commit_version", F.lit(0).cast("long"))
            .withColumn("_commit_timestamp", F.lit(None).cast("timestamp"))
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    if keys:
        # keys present on BOTH sides of one commit are updates,
        # classified in ONE window pass over the unioned feed; one
        # partitionBy(commit, keys) exchange
        # still runs on O(the range's delta), never O(table), and
        # duplicate keys simply classify every row of that key.  A row
        # with ANY NULL key column never reclassifies — the join-based
        # classifier's null-unsafe equality pinned that semantics
        # (tests/test_versioned.py) and the guard reproduces it.
        from pyspark.sql import Window

        w = Window.partitionBy("_commit_version", *keys)
        raw = F.col("_change_type")
        upd = (
            (F.max(F.when(raw == "insert", 1).otherwise(0)).over(w) == 1)
            & (F.max(F.when(raw == "delete", 1).otherwise(0)).over(w) == 1)
        )
        for k in keys:
            upd = upd & F.col(k).isNotNull()
        out = out.withColumn(
            "_change_type",
            F.when(
                upd,
                F.when(raw == "delete", F.lit("update_preimage")).otherwise(
                    F.lit("update_postimage")
                ),
            ).otherwise(raw),
        )
    return out


def _consumer_dir(path: str, consumer_id: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9._-]+", consumer_id or ""):
        raise ValueError(
            f"consumer id must be [A-Za-z0-9._-]+, got {consumer_id!r}"
        )
    return os.path.join(path, "_consumers", consumer_id)


def _acked_version(path: str, consumer_id: str) -> int:
    d = _consumer_dir(path, consumer_id)
    if not os.path.isdir(d):
        return 0
    vs = [int(f[1:]) for f in os.listdir(d) if re.fullmatch(r"v\d+", f)]
    return max(vs, default=0)


def consumer_offsets(path: str) -> dict:
    """Every registered change-feed consumer at ``path``:
    ``id -> last acknowledged version``."""
    d = os.path.join(path, "_consumers")
    if not os.path.isdir(d):
        return {}
    return {
        c: _acked_version(path, c)
        for c in sorted(os.listdir(d))
        if os.path.isdir(os.path.join(d, c))
    }


def poll_changes(
    spark: SparkSession, path: str, consumer_id: str, keys=None
):
    """Incremental AT-LEAST-ONCE consumption of the change feed
    (Kafka's poll/commit discipline on the versioned table): returns
    ``(feed, through_version)`` where ``feed`` is
    :func:`table_changes` from the consumer's last ACKNOWLEDGED
    version (exclusive) through the current head — or ``(None, head)``
    when the consumer is caught up.

    The offset advances ONLY via :func:`ack_changes`, which the caller
    invokes AFTER durably processing the batch — a crash between poll
    and ack re-delivers the same commits on the next poll (at-least-
    once; pair with an idempotent sink or the engine's
    ``meta.ingest_id`` replay guard for effectively-exactly-once).
    Offsets live as per-version CREATE-IF-ABSENT marker files under
    ``_consumers/<id>/`` (the effective offset is the max) — no
    coordination between consumers, and a consumer re-created after
    deletion replays from the table's first commit.

    Scale: a consumer catching up on N commits of a 100 TB table reads
    exactly the files those commits touched (the :func:`table_changes`
    property); the poll itself is one metadata read.
    """
    head = list_versions(path)[-1]
    acked = _acked_version(path, consumer_id)
    if acked >= head:
        return None, head
    return table_changes(spark, path, acked + 1, head, keys=keys), head


def ack_changes(path: str, consumer_id: str, through_version: int) -> None:
    """Acknowledge the feed THROUGH ``through_version`` (the value
    :func:`poll_changes` returned) — the next poll starts after it.
    Monotonic BY CONSTRUCTION: each ack is a create-if-absent marker
    file ``_consumers/<id>/v<version>`` (the same publish seam every
    manifest uses — a conditional put on object stores) and the
    effective offset is the MAX marker, so two workers racing their
    acks can only ever move the offset FORWARD — no check-then-act
    window, no lost ack, no silent rewind (re-acking an existing
    version is an idempotent no-op).  Acking below the current offset
    raises (a stale worker cannot believe it rewound the consumer);
    markers below the new offset are garbage-collected best-effort.
    """
    head = list_versions(path)[-1]
    if not 1 <= through_version <= head:
        raise ValueError(f"through_version {through_version} outside [1, {head}]")
    cur = _acked_version(path, consumer_id)
    if through_version < cur:
        raise ValueError(
            f"consumer {consumer_id!r} already acked v{cur}; "
            f"cannot rewind to v{through_version}"
        )
    d = _consumer_dir(path, consumer_id)
    try:
        _publish_json({"id": consumer_id, "ts": time.time()}, os.path.join(d, f"v{through_version}"))
    except FileExistsError:
        pass  # already acked — idempotent
    # best-effort compaction: superseded markers carry no information
    for f in os.listdir(d):
        m = re.fullmatch(r"v(\d+)", f)
        if m and int(m.group(1)) < through_version:
            try:
                os.unlink(os.path.join(d, f))
            except OSError:
                pass


def analyze_table(
    spark: SparkSession,
    path: str,
    cols=None,
    mode: str = "approx",
    rsd: float = 0.05,
) -> dict:
    """``ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`` — table-level
    column statistics (NDV, null count, string/binary byte lengths) in
    ONE aggregate pass over the head snapshot, recorded as a
    METADATA-ONLY commit that every later commit inherits until the
    next ANALYZE (Delta keeps ANALYZE output the same way).

    ``mode='approx'`` (default) computes NDV with HyperLogLog++
    (``approx_count_distinct``, ``rsd`` relative error) — one scan,
    bounded mergeable map-side state per column: the right call at
    100 TB.  ``mode='exact'`` uses ``count(DISTINCT …)``; Catalyst
    EXPANDs one projection per distinct aggregate, so cost multiplies
    with column count — opt-in for small/medium tables and for oracle
    checks.  Either way NULL handling matches SQL: NDV counts distinct
    non-NULL values, ``nulls`` counts the rest.

    Stats live in the manifest under ``column_stats`` keyed by LOGICAL
    column name, stamped ``of_version``; they describe THAT snapshot
    and go stale as commits land — :func:`fdf_spark.sources.metatables.
    plan_maintenance` surfaces both missing and stale stats as
    ``('analyze', …)`` recommendations and uses the NDV/row ratio to
    nominate key-like columns for bloom sidecars.  Read them back via
    ``DESCRIBE STATS t`` (sqldml) or :func:`table_column_stats`.

    Returns the recorded stats dict ``{"of_version", "mode", "rows",
    "columns": {col: {"ndv", "nulls", "avg_len", "max_len"}}}``.
    """
    from pyspark.sql import functions as F

    if mode not in ("approx", "exact"):
        raise ValueError(f"mode must be 'approx' or 'exact', got {mode!r}")
    parent, m = _head(path)
    schema = _logical_schema(m)
    if schema is None:
        raise ValueError("table has no manifest schema; cannot analyze")
    atomic = {
        f.name: f.dataType.typeName()
        for f in schema.fields
        if f.dataType.typeName() not in ("array", "map", "struct")
    }
    if cols is None:
        cols = list(atomic)
    else:
        bad = [c for c in cols if c not in atomic]
        if bad:
            known = [f.name for f in schema.fields]
            raise ValueError(
                f"cannot analyze {bad} — not atomic columns of the table "
                f"(schema: {known})"
            )
    df = read_version(spark, path, version=parent)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(
            (
                F.count_distinct(F.col(c))
                if mode == "exact"
                else F.approx_count_distinct(c, rsd)
            ).alias(f"__ndv__{c}")
        )
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}")
        )
        if atomic[c] in ("string", "binary"):
            aggs.append(F.avg(F.length(c)).alias(f"__avglen__{c}"))
            aggs.append(F.max(F.length(c)).cast("long").alias(f"__maxlen__{c}"))
    row = df.agg(*aggs).first().asDict()
    stats = {
        "of_version": parent,
        "mode": mode,
        "rows": row["__rows"],
        "columns": {
            c: {
                "ndv": int(row[f"__ndv__{c}"]),
                "nulls": int(row[f"__nulls__{c}"] or 0),
                "avg_len": row.get(f"__avglen__{c}"),
                "max_len": row.get(f"__maxlen__{c}"),
            }
            for c in cols
        },
    }
    _publish_successor(
        path, parent, m, "analyze", {"analyze": {"mode": mode, "columns": cols}},
        column_stats=stats,
    )
    return stats


def table_column_stats(path: str, version: int | None = None) -> dict | None:
    """The ``column_stats`` dict the given (default: head) snapshot
    carries, or ``None`` if the table was never analyzed."""
    return _head(path, version)[1].get("column_stats")


#: properties whose VALUES the engine validates on set — behavior-
#: bearing flags must be parseable where they are enforced
_VALIDATED_PROPS = {"fdf.appendOnly": ("true", "false")}


def set_properties(path: str, props: dict) -> int:
    """``ALTER TABLE … SET TBLPROPERTIES`` — merge string key/value
    properties into the table as a METADATA-ONLY commit; later commits
    inherit them until :func:`unset_properties` (Delta semantics —
    properties version with the table, so time travel shows the
    properties a snapshot HAD).

    Properties are free-form strings except the engine-enforced ones:
    ``fdf.appendOnly='true'`` (Delta's ``delta.appendOnly``) makes
    every subsequent commit that removes live files or touches delete
    state fail at the publish seam — DELETE/UPDATE/MERGE/RESTORE/
    overwrite are rejected until the flag is unset, OPTIMIZE (content-
    preserving) still runs.  The gate reads the PARENT snapshot's
    properties, so the same commit cannot both flip the flag and
    violate it.
    """
    if not props:
        raise ValueError("set_properties needs at least one property")
    clean = {}
    for k, v in props.items():
        if not isinstance(k, str) or not k:
            raise ValueError(f"property keys must be non-empty strings: {k!r}")
        v = str(v)
        allowed = _VALIDATED_PROPS.get(k)
        if allowed and v.lower() not in allowed:
            raise ValueError(f"property {k!r} must be one of {allowed}, got {v!r}")
        clean[k] = v
    parent, m = _head(path)
    merged = {**(m.get("properties") or {}), **clean}
    return _publish_successor(
        path, parent, m, "set-properties", {"set_properties": clean}, properties=merged
    )


def unset_properties(path: str, keys) -> int:
    """``ALTER TABLE … UNSET TBLPROPERTIES`` — remove properties as a
    metadata-only commit.  Unknown keys are ignored (Delta's IF EXISTS
    behavior — unsetting is idempotent)."""
    if isinstance(keys, str):
        keys = [keys]
    if not keys:
        raise ValueError("unset_properties needs at least one key")
    parent, m = _head(path)
    remaining = {
        k: v for k, v in (m.get("properties") or {}).items() if k not in set(keys)
    }
    return _publish_successor(
        path, parent, m, "set-properties", {"unset_properties": sorted(set(keys))},
        properties=remaining,
    )


def table_properties(path: str, version: int | None = None) -> dict:
    """The properties dict the given (default: head) snapshot carries."""
    return dict(_head(path, version)[1].get("properties") or {})


def rename_column(path: str, old: str, new: str) -> int:
    """Rename a column as a MANIFEST-ONLY commit — zero bytes rewritten.

    The new manifest carries the renamed logical schema and maps the
    new name to the column's unchanged PHYSICAL name, so every
    existing data file reads through the rename; time travel to
    pre-rename versions still shows the old name (each snapshot owns
    its schema).  Publishes through the same optimistic-concurrency
    seam as data commits — a racing writer surfaces as
    ``ConcurrentCommitError``, never a lost rename.  This is the
    operation that costs a FULL TABLE REWRITE without mapping
    indirection; here it is O(one manifest) at any table size.
    """
    from pyspark.sql.types import StructField

    parent, m = _head(path)
    schema = _logical_schema(m)
    if schema is None:
        raise ValueError("table has no manifest schema; cannot rename")
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    mapping = dict(_mapping(m))
    mapping[new] = mapping.pop(old, old)
    fields = [
        StructField(new, f.dataType, f.nullable) if f.name == old else f
        for f in schema.fields
    ]
    # specs hold LOGICAL names — a renamed column renames through every
    # spec, INCLUDING as the source inside a transform entry like
    # bucket(16, col) (the physical bytes, stats keys and the hidden
    # derived column's name — keyed by the physical source — are all
    # untouched, so old files' transform stats keep pruning)
    from dataclasses import replace as _dc_replace

    from fdf_spark.sources.transforms import parse_spec_col

    def _rename_spec_col(c: str) -> str:
        t = parse_spec_col(c)
        return _dc_replace(t, source=new).spec_str() if t.source == old else c

    specs = {
        sid: {**s, "cols": [_rename_spec_col(c) for c in s["cols"]]}
        for sid, s in _spec_carry(m)["partition_specs"].items()
    }
    return _publish_successor(
        path, parent, m, "rename", {"rename": {"from": old, "to": new}},
        schema=json.dumps(StructType(fields).jsonValue()),
        column_mapping=mapping,
        partition_specs=specs,
    )


def drop_column(path: str, col: str) -> int:
    """Drop a column as a MANIFEST-ONLY commit — zero bytes rewritten.

    The field leaves the logical schema and its physical name is
    RETIRED: old files keep the bytes (time travel to pre-drop
    snapshots still reads them) but no current-snapshot scan ever
    requests the column (parquet column pruning — dropping also makes
    every future read cheaper), and a later re-add of the same name
    gets a fresh physical name so the dead bytes can never resurrect
    (:func:`commit_version`).  Same optimistic-commit seam as data.
    """
    parent, m = _head(path)
    schema = _logical_schema(m)
    if schema is None:
        raise ValueError("table has no manifest schema; cannot drop")
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"no column {col!r} (have {names})")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    # a CHECK constraint referencing the column would turn every future
    # write into an analysis error — refuse, like Delta does (word-level
    # match is conservative: a false positive costs an explicit
    # drop_check_constraint, a miss would brick the write path)
    for cname, expr in list_check_constraints(path).items():
        if re.search(rf"(?<![A-Za-z0-9_`]){re.escape(col)}(?![A-Za-z0-9_])", expr) or f"`{col}`" in expr:
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint {cname!r} "
                f"({expr}); drop the constraint first"
            )
    from fdf_spark.sources.transforms import spec_transforms

    if col in {t.source for t in spec_transforms(_current_spec(m)[1])}:
        raise ValueError(
            f"column {col!r} is referenced by the current partition spec; "
            "set a new spec first (Iceberg's rule — future writes could "
            "not be clustered by a dropped column)"
        )
    phys_col = _mapping(m).get(col, col)
    if any(phys_col in e["cols"] for e in _eq_entries(m).values()):
        raise ValueError(
            f"column {col!r} is a key of a live equality delete; run "
            "optimize() to fold the mask first (dropping it would detach "
            "the delete from the rows it masks)"
        )
    mapping = dict(_mapping(m))
    retired = list(m.get("retired_physical", []))
    retired.append(mapping.pop(col, col))
    return _publish_successor(
        path, parent, m, "drop", {"drop": {"column": col}},
        schema=json.dumps(StructType([f for f in schema.fields if f.name != col]).jsonValue()),
        column_mapping=mapping,
        retired_physical=retired,
    )


def add_column(path: str, col: str, type_str: str) -> int:
    """Add a column as a MANIFEST-ONLY commit — zero bytes rewritten
    (Delta/Iceberg users add columns as metadata-only DDL BEFORE any
    data carrying them lands).

    The field appends to the logical schema; every existing file reads
    NULL for it (the explicit-physical-schema read path already serves
    pre-evolution files that way).  If the name collides with ANY
    physical name ever used (a dropped or renamed-away column's bytes
    still live in old files) the new column gets a FRESH physical name
    — the same field-id rule :func:`commit_version` applies on
    evolution appends, so dead bytes can never resurrect.  Time travel
    to pre-add snapshots shows the old schema.  Same optimistic-commit
    seam as every other metadata commit."""
    from pyspark.sql.types import StructField, _parse_datatype_string

    parent, m = _head(path)
    schema = _logical_schema(m)
    if schema is None:
        raise ValueError("table has no manifest schema; cannot add a column")
    names = [f.name for f in schema.fields]
    if col in names:
        raise ValueError(f"column {col!r} already exists")
    new_dt = _parse_datatype_string(type_str)
    mapping = dict(_mapping(m))
    used_phys = {mapping.get(n, n) for n in names} | set(m.get("retired_physical", []))
    if col in used_phys:
        mapping[col] = f"{col}__v{parent + 1}"
    return _publish_successor(
        path, parent, m, "add_column",
        {"add_column": {"column": col, "type": new_dt.simpleString()}},
        schema=json.dumps(
            StructType(list(schema.fields) + [StructField(col, new_dt, True)]).jsonValue()
        ),
        column_mapping=mapping,
    )


#: safe widening promotions — exactly the upcasts Spark's parquet
#: reader performs on narrow file columns under a wider read schema
#: (verified on this Spark: int32 files read as long, float as double)
_WIDENINGS = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def widen_column(path: str, col: str, new_type: str) -> int:
    """Widen a column's type as a MANIFEST-ONLY commit — zero bytes
    rewritten (type evolution, the third leg after rename/drop).

    Only lossless promotions the parquet reader upcasts natively are
    allowed (byte→short→int→long, float→double), so existing narrow
    files read through the wide logical schema unchanged while new
    appends write the wide type — files of mixed widths coexist under
    one logical type, exactly Iceberg's type-evolution rule.  Time
    travel to pre-widening snapshots shows the old type.  Same
    optimistic-commit seam as every other metadata commit.
    """
    from pyspark.sql.types import StructField, _parse_datatype_string

    parent, m = _head(path)
    schema = _logical_schema(m)
    if schema is None:
        raise ValueError("table has no manifest schema; cannot widen")
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"no column {col!r} (have {names})")
    old_field = schema[col]
    new_dt = _parse_datatype_string(new_type)
    old_name = old_field.dataType.typeName()
    if new_dt.typeName() not in _WIDENINGS.get(old_name, set()):
        raise ValueError(
            f"cannot widen {old_name} -> {new_dt.typeName()}; allowed: "
            f"{sorted(_WIDENINGS.get(old_name, set())) or 'nothing (not a widenable type)'}"
        )
    fields = [
        StructField(f.name, new_dt, f.nullable) if f.name == col else f
        for f in schema.fields
    ]
    return _publish_successor(
        path, parent, m, "widen",
        {"widen": {"column": col, "from": old_name, "to": new_dt.typeName()}},
        schema=json.dumps(StructType(fields).jsonValue()),
    )


def _retained_versions(
    path: str, keep: int, retain_last_s: float | None
) -> tuple[list[int], list[int]]:
    """The ``(live, dead)`` version split under vacuum's retention rule
    — count-based ``keep``, named-ref pins, the time window, and the
    window-boundary snapshot.  Extracted so
    :func:`metatables.plan_maintenance` can ESTIMATE a vacuum with the
    exact rule the destructive op applies (one source of truth)."""
    if keep < 1:
        raise ValueError("keep must retain at least one version")
    versions = list_versions(path)
    # named refs PIN their versions (Iceberg's retention rule): a tag
    # someone's training run reads through must survive any vacuum
    refd = {r["version"] for r in list_refs(path).values()}
    live_set = set(versions[-keep:]) | (refd & set(versions))
    if retain_last_s is not None:
        cutoff = time.time() - retain_last_s
        boundary = None  # newest version whose effective stamp predates the window
        for v, eff in _effective_stamps(path, versions):
            if eff is None or eff >= cutoff:
                live_set.add(v)
            else:
                boundary = v
        # the snapshot CURRENT at the window's start must survive too:
        # resolve_as_of(ts) for any ts inside the window picks the newest
        # version stamped <= ts, which for the window's oldest span is the
        # last pre-cutoff version — dropping it would break "keep a week
        # of time travel" for timestamps older than the earliest retained
        # commit
        if boundary is not None:
            live_set.add(boundary)
    dead = [v for v in versions if v not in live_set]
    live = sorted(live_set)
    if not live:
        raise ValueError("keep must retain at least one version")
    return live, dead


def _manifest_all_files(m: dict):
    """A manifest references its data files AND its tombstone files
    (positional and equality) — deleting a live snapshot's delete mask
    would RESURRECT rows."""
    yield from m["files"]
    for ts in _delete_map(m).values():
        yield from ts
    for e in _eq_entries(m).values():
        yield from e["files"]


def _referenced_files(path: str, live: list[int]) -> set[str]:
    """Every file the retained versions reference, plus staged
    write-audit-publish manifests' files (publish may still
    fast-forward them into a live version) — all protected until
    drop/publish."""
    referenced = {f for v in live for f in _manifest_all_files(_read_manifest(path, v))}
    for wid in list_staged(path):
        referenced.update(_manifest_all_files(_read_staged(path, wid)))
    return referenced


def vacuum(
    path: str,
    keep: int = 1,
    orphan_grace_s: float = 3600.0,
    retain_last_s: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Drop all but the newest ``keep`` versions and delete data files
    no surviving manifest references; returns the deleted files.

    ``retain_last_s`` adds Delta's TIME-BASED retention on top of the
    count: every version whose effective publish stamp (the same
    monotonic-by-version rule ``resolve_as_of`` reads by) is within the
    last ``retain_last_s`` seconds ALSO survives — so ``vacuum(p,
    keep=1, retain_last_s=7*86400)`` is "keep a week of time travel",
    regardless of how many commits the week saw.  Unstamped
    (pre-upgrade) versions are retained conservatively.

    Also sweeps ORPHANED stage directories — fully-written data from a
    lost commit race or a crash between stage and publish. A stage dir
    is swept only when its embedded version number is STRICTLY below
    the current head (an in-flight commit targets head+1; a loser's
    head+1 dir only becomes sweepable after the table moves past it)
    AND it has been idle for ``orphan_grace_s`` — the mtime grace
    guards the residual race where head advances twice while a slow
    writer is still staging (same retention idea as Delta's vacuum
    grace period).

    ``dry_run=True`` (Delta's ``VACUUM … DRY RUN``) returns the
    files the SAME retention/ownership/orphan rules would delete —
    touching nothing: no file removed, no dead manifest dropped, no
    delta materialized.  One rule, two modes — the estimate can never
    drift from the destructive op."""
    live, dead = _retained_versions(path, keep, retain_last_s)
    referenced = _referenced_files(path, live)
    if dry_run:
        root = os.path.abspath(path) + os.sep
        would = []
        seen: set[str] = set()
        for v in dead:
            for f in _manifest_all_files(_read_manifest(path, v)):
                if (
                    f not in referenced
                    and f not in seen
                    and os.path.abspath(f).startswith(root)
                    and os.path.exists(f)
                ):
                    seen.add(f)
                    would.append(f)
        head = max(live)
        referenced_dirs = {os.path.dirname(f) for f in referenced}
        for sub, prefix in (("data", "c"), ("data", "w"), ("deletes", "d"), ("deletes", "e")):
            stage_root = os.path.join(path, sub)
            if not os.path.isdir(stage_root):
                continue
            for d in sorted(os.listdir(stage_root)):
                full = os.path.join(stage_root, d)
                if not (d.startswith(prefix) and os.path.isdir(full)):
                    continue
                try:
                    stage_v = int(d[1:9])
                except ValueError:
                    continue
                idle = time.time() - os.path.getmtime(full)
                if stage_v < head and full not in referenced_dirs and idle >= orphan_grace_s:
                    for f in sorted(os.listdir(full)):
                        if f.endswith(".parquet"):
                            would.append(os.path.join(full, f))
        return would
    # a surviving DELTA manifest whose base is about to die must be
    # materialized full first (while the chain is still intact) —
    # ascending order, so a chain of survivors re-roots on its first
    # materialized member
    dead_set = set(dead)
    for v in live:
        with open(_manifest_path(path, v)) as fh:
            raw = json.load(fh)
        if raw.get("delta_base") in dead_set:
            full = _resolve_manifest(path, raw)
            fd, tmp = tempfile.mkstemp(
                dir=os.path.join(path, _MANIFEST_DIR), suffix=".tmp"
            )
            with os.fdopen(fd, "w") as fh:
                json.dump(full, fh)
            os.replace(tmp, _manifest_path(path, v))
    # resolve every dead manifest BEFORE removing any: a dead delta may
    # chain through an earlier dead version's manifest file
    dead_manifests = {v: _read_manifest(path, v) for v in dead}
    # OWNERSHIP guard: vacuum only ever deletes files under THIS
    # table's root.  A SHALLOW CLONE's manifests reference the source
    # table's files by absolute path; when clone history ages out, the
    # shared bytes belong to the source and must survive (clone_table)
    root = os.path.abspath(path) + os.sep
    removed = []
    for v in dead:
        for f in _manifest_all_files(dead_manifests[v]):
            if f not in referenced and os.path.abspath(f).startswith(root) and os.path.exists(f):
                os.remove(f)
                removed.append(f)
                # a bloom sidecar dies with its data file (bloomskip)
                if os.path.exists(f + ".bloom.json"):
                    os.remove(f + ".bloom.json")
        os.remove(_manifest_path(path, v))
    # orphaned stages: c<version>-<uuid> data dirs / d<version>-<uuid>
    # tombstone dirs strictly below head whose files no surviving
    # manifest names, idle past the grace period
    import shutil

    head = max(live)
    referenced_dirs = {os.path.dirname(f) for f in referenced}
    for sub, prefix in (("data", "c"), ("data", "w"), ("deletes", "d"), ("deletes", "e")):
        stage_root = os.path.join(path, sub)
        if not os.path.isdir(stage_root):
            continue
        for d in sorted(os.listdir(stage_root)):
            full = os.path.join(stage_root, d)
            if not (d.startswith(prefix) and os.path.isdir(full)):
                continue
            try:
                stage_v = int(d[1:9])
            except ValueError:
                continue
            idle = time.time() - os.path.getmtime(full)
            if stage_v < head and full not in referenced_dirs and idle >= orphan_grace_s:
                for f in sorted(os.listdir(full)):
                    if f.endswith(".parquet"):
                        removed.append(os.path.join(full, f))
                shutil.rmtree(full, ignore_errors=True)
    return removed


# --- named refs (tags / branches) and write-audit-publish -------------------
#
# Iceberg's refs + WAP pattern, re-expressed on the manifest chain: a
# REF is a named pointer at a version (`_refs/<name>.json`) — a TAG is
# immutable (pin the exact snapshot a training run consumed; vacuum
# never deletes a ref'd version), a BRANCH is movable.  WRITE-AUDIT-
# PUBLISH stages a fully-built snapshot manifest under `_staged/`
# where no reader sees it, lets an audit job read and validate exactly
# the bytes that would land, then fast-forwards it into the version
# chain manifest-only — or drops it, files and all.  Reference parity:
# the reference's logbook "voided" flag (factory.py:537) gates bad
# shots out of analysis after the fact; WAP is the engine-native
# preventive form (bad data never becomes a readable version).

_REFS_DIR = "_refs"
_STAGED_DIR = "_staged"
_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


def _ref_path(path: str, name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(f"invalid ref name {name!r}")
    return os.path.join(path, _REFS_DIR, f"{name}.json")


def list_refs(path: str) -> dict[str, dict]:
    """All named refs at ``path``: name -> {"version", "type", "ts"}."""
    d = os.path.join(path, _REFS_DIR)
    if not os.path.isdir(d):
        return {}
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                out[f[:-5]] = json.load(fh)
    return out


def resolve_ref(path: str, name: str) -> int:
    """The version a named ref points at; raises if absent."""
    p = _ref_path(path, name)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no ref {name!r} at {path}")
    with open(p) as fh:
        return json.load(fh)["version"]


def _write_ref(path: str, name: str, version: int, kind: str, move: bool) -> None:
    versions = list_versions(path)
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions}")
    # a branch move replaces (last writer wins, documented); a new ref
    # is create-if-absent
    try:
        _publish_json(
            {"name": name, "version": version, "type": kind, "ts": time.time()},
            _ref_path(path, name), replace=move,
        )
    except FileExistsError:
        raise ValueError(f"ref {name!r} already exists at {path}") from None


def create_tag(path: str, name: str, version: int | None = None) -> int:
    """Create an IMMUTABLE named tag at ``version`` (head if None).

    Tags are the reproducibility primitive: ``read_version(...,
    ref=name)`` pins the exact snapshot forever (vacuum keeps ref'd
    versions), and re-creating an existing name raises — a tag never
    silently moves.  Returns the tagged version.
    """
    v = version if version is not None else (list_versions(path) or [None])[-1]
    if v is None:
        raise FileNotFoundError(f"no versions at {path}")
    _write_ref(path, name, v, "tag", move=False)
    return v


def create_branch(path: str, name: str, version: int | None = None) -> int:
    """Create a MOVABLE named branch pointer at ``version`` (head if
    None); advance it with :func:`set_branch`.  Returns the version."""
    v = version if version is not None else (list_versions(path) or [None])[-1]
    if v is None:
        raise FileNotFoundError(f"no versions at {path}")
    _write_ref(path, name, v, "branch", move=False)
    return v


def set_branch(path: str, name: str, version: int) -> None:
    """Move an existing branch pointer (tags refuse).  Plain replace —
    concurrent moves are last-writer-wins, like a git forced update."""
    refs = list_refs(path)
    if name not in refs:
        raise FileNotFoundError(f"no ref {name!r} at {path}")
    if refs[name]["type"] != "branch":
        raise ValueError(f"ref {name!r} is a tag — tags are immutable")
    _write_ref(path, name, version, "branch", move=True)
    _refresh_follow_views(path)  # follower views of this branch move too


def drop_ref(path: str, name: str) -> None:
    p = _ref_path(path, name)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no ref {name!r} at {path}")
    os.remove(p)


def _staged_path(path: str, wap_id: str) -> str:
    if not _NAME_RE.match(wap_id):
        raise ValueError(f"invalid wap_id {wap_id!r}")
    return os.path.join(path, _STAGED_DIR, f"{wap_id}.json")


def list_staged(path: str) -> list[str]:
    d = os.path.join(path, _STAGED_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))


def _read_staged(path: str, wap_id: str) -> dict:
    p = _staged_path(path, wap_id)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no staged commit {wap_id!r} at {path}")
    with open(p) as fh:
        return json.load(fh)


def stage_commit(
    df: DataFrame, path: str, wap_id: str, mode: str = "append"
) -> str:
    """WRITE-AUDIT-PUBLISH, step 1: build a full snapshot (data files +
    manifest) that NO reader sees — it lives under ``_staged/<wap_id>``,
    outside the version chain.  Audit it with :func:`read_staged` (the
    exact bytes that would land), then :func:`publish_staged` or
    :func:`drop_staged`.  ``wap_id`` doubles as the idempotency key: a
    retried pipeline staging the same id raises instead of landing a
    second copy.  Works on an empty table (the staged commit becomes
    v1 at publish).  Returns ``wap_id``.
    """
    dst = _staged_path(path, wap_id)
    if os.path.exists(dst):
        raise ValueError(f"wap_id {wap_id!r} already staged at {path}")
    versions = list_versions(path)
    parent = versions[-1] if versions else None
    head = _read_manifest(path, parent) if parent is not None else None
    version = (parent or 0) + 1
    bind, staged, _ = _stage_files_and_builder(
        df, path, mode, None, head, version, stage_prefix="w"
    )
    m = bind(head, version)
    m["ts"] = time.time()  # audit-time stamp; publish re-stamps (as_of sees publish time)
    # the batch's own schema is what publish_staged re-binds with: the
    # staged manifest's schema also holds the parent's columns, which a
    # later drop or rename may legitimately retire
    m["wap"] = {
        "wap_id": wap_id, "staged_new_files": staged["files"], "mode": mode,
        "batch_schema": df.schema.json(),
    }
    try:
        _publish_json(m, dst)
    except FileExistsError:
        # a concurrent stage of the same id won the create — this
        # attempt's bytes are garbage; remove them before raising
        import shutil

        for d in {os.path.dirname(f) for f in staged["files"]}:
            shutil.rmtree(d, ignore_errors=True)
        raise ValueError(f"wap_id {wap_id!r} already staged at {path}") from None
    return wap_id


def read_staged(spark: SparkSession, path: str, wap_id: str) -> DataFrame:
    """The AUDIT read: the staged snapshot exactly as it would publish
    (parent files + staged batch, through any delete masks)."""
    m = _read_staged(path, wap_id)
    if not m["files"]:
        schema = _logical_schema(m)
        return spark.createDataFrame([], schema)
    return _live(spark, m, m["files"])


def publish_staged(spark: SparkSession, path: str, wap_id: str) -> int:
    """WRITE-AUDIT-PUBLISH, step 3: fast-forward the audited staged
    snapshot into the version chain — MANIFEST-ONLY, zero data bytes
    move.  The staged files bind to the head through
    :func:`_manifest_for`, the rebase :func:`commit_version` uses, with
    the batch schema the staged entry recorded: if the head is still
    the staged parent, that reproduces the audited manifest; if commits
    landed since staging, an ``append`` re-bases exactly like
    ``commit_version(on_conflict="rebase")`` (raising
    ``ConcurrentCommitError`` if concurrent commits re-mapped a column
    the staged bytes carry, or introduced a colliding physical name);
    a staged ``overwrite`` whose parent moved is a REAL conflict and
    raises.  Returns the published version.
    """
    m = _read_staged(path, wap_id)
    wap = m["wap"]
    new_files = wap["staged_new_files"]
    # constraints are re-checked at PUBLISH time: staging validated too,
    # but a CHECK attached between stage and publish must still gate
    # the fast-forward (the staged bytes predate it)
    if new_files and list_check_constraints(path):
        _enforce_constraints(path, _live(spark, m, new_files), _logical_schema(m))
    # an entry staged without batch_schema re-binds its whole staged schema
    batch = StructType.fromJson(json.loads(wap.get("batch_schema", m["schema"])))
    phys = {f.name: _physical(m, f.name) for f in batch.fields}
    staged = {
        "files": new_files,
        **{k: {f: m[k][f] for f in new_files} for k in ("stats", "file_rows", "file_specs")},
    }
    meta = {**m.get("meta", {}), "wap_id": wap["wap_id"]}
    while True:
        versions = list_versions(path)
        head_v = versions[-1] if versions else None
        if head_v != m.get("parent") and wap["mode"] != "append":
            raise ConcurrentCommitError(
                f"staged overwrite {wap_id!r} was built against version "
                f"{m.get('parent')}, head is now {head_v} — a real conflict; "
                "drop_staged and re-stage against the new head"
            )
        head = _read_manifest(path, head_v) if head_v is not None else None
        version = (head_v or 0) + 1
        out = _manifest_for(head, version, wap["mode"], meta, batch, phys, staged)
        try:
            _stage_and_publish_manifest(path, version, out)
        except ConcurrentCommitError:
            continue
        os.remove(_staged_path(path, wap_id))
        return version


def drop_staged(path: str, wap_id: str) -> list[str]:
    """Abandon a staged commit: its batch files are deleted NOW (they
    were never visible), the staged manifest removed.  Returns the
    deleted files."""
    import shutil

    m = _read_staged(path, wap_id)
    removed = [f for f in m["wap"]["staged_new_files"] if os.path.exists(f)]
    for d in {os.path.dirname(f) for f in m["wap"]["staged_new_files"]}:
        shutil.rmtree(d, ignore_errors=True)
    os.remove(_staged_path(path, wap_id))
    return removed


def restore_table(
    path: str,
    version: int | None = None,
    as_of_ts: float | None = None,
    ref: str | None = None,
) -> int:
    """Delta RESTORE / Iceberg rollback: reset the table HEAD to an
    older snapshot's state as a NEW commit — history preserved (the
    bad commits stay time-travelable until vacuum), restore of a
    restore fine, and the operation is MANIFEST-ONLY: the new manifest
    re-references the target snapshot's files, stats, delete masks,
    schema, column mapping and partition specs verbatim, so rolling
    back a 100 TB table moves zero data bytes.  The wrong-write
    recovery path WAP cannot cover (the bad commit already published).

    Target by ``version``, ``as_of_ts`` or ``ref`` (same resolution
    rules as :func:`read_version`).  Returns the new head version (or
    the current head, unchanged, when it IS the target).  Publishes
    through the optimistic-commit seam; a lost race retries against
    the new head.
    """
    if sum(x is not None for x in (version, as_of_ts, ref)) != 1:
        raise ValueError("pass exactly one of version / as_of_ts / ref")
    version = _snapshot_version(path, version, as_of_ts, ref)
    target = _head(path, version)[1]
    while True:
        head_v = list_versions(path)[-1]
        if head_v == version:
            return head_v  # restoring the head is a no-op
        out = {k: v for k, v in target.items() if k not in ("ts", "properties")}
        out["version"] = head_v + 1
        out["parent"] = head_v
        out["mode"] = "overwrite"
        out["meta"] = {"restore": {"of": version}}
        # PROPERTIES are operator POLICY, not data state —
        # they follow the HEAD across a restore (an appendOnly flag
        # cannot be silently dropped by restoring a pre-flag snapshot);
        # COLUMN STATS describe DATA — the target's ride along (they
        # describe exactly the restored content), and a stat-less
        # target explicitly clears head stats that would otherwise be
        # inherited while describing rows that no longer exist
        head_props = _read_manifest(path, head_v).get("properties")
        if head_props is not None:
            out["properties"] = head_props
        out["column_stats"] = target.get("column_stats")
        try:
            _stage_and_publish_manifest(path, head_v + 1, out)
            return head_v + 1
        except ConcurrentCommitError:
            continue


def clone_table(
    path: str,
    dst: str,
    version: int | None = None,
    deep: bool = False,
) -> int:
    """Delta ``CLONE``: materialize a snapshot of this table as a NEW
    versioned table at ``dst``.  Returns the clone's v1.

    SHALLOW (default) is MANIFEST-ONLY: the clone's v1 manifest
    re-references the source snapshot's data/tombstone/equality files
    by path — zero bytes copied, a 100 TB dev/test fork in one
    metadata write.  Safety is two-sided: (a) the clone is
    automatically pinned at the SOURCE with an immutable tag
    (``clone-<basename(dst)>-v<N>``), so source-side :func:`vacuum`
    keeps the shared files alive as long as the tag exists (drop the
    tag to disown the clone); (b) clone-side vacuum only ever deletes
    files under the CLONE's own root (the ownership guard), so aging
    out shared snapshots never touches source bytes.  Writes to the
    clone (appends, deletes, OPTIMIZE) stage under ``dst`` and never
    mutate the source — files are immutable everywhere.

    DEEP copies every referenced file under ``dst`` first — O(bytes),
    fully self-contained (no tag, no shared fate).

    ``version`` selects the snapshot (default: current head).
    """
    import shutil

    v, m = _head(path, version)
    if list_versions(dst):
        raise ValueError(f"clone destination {dst} already has versions")
    out = {k: val for k, val in m.items() if k != "ts"}
    if deep:
        stage = os.path.join(dst, "data", f"c{1:08d}-{uuid.uuid4().hex[:8]}")
        os.makedirs(stage, exist_ok=True)
        moved: dict[str, str] = {}

        def _copy(f: str) -> str:
            if f not in moved:
                moved[f] = os.path.join(stage, f"{len(moved):06d}-{os.path.basename(f)}")
                shutil.copyfile(f, moved[f])
            return moved[f]

        def _copy_tomb(t: str) -> str:
            # a tombstone's ROWS name (file, pos) pairs — the file
            # column must be REMAPPED to the copied data paths, or the
            # clone's delete mask would anti-join against nothing
            if t not in moved:
                import pyarrow as pa
                import pyarrow.parquet as pq

                dst_t = os.path.join(stage, f"{len(moved):06d}-{os.path.basename(t)}")
                tbl = pq.read_table(t)
                remapped = pa.array(
                    [moved.get(f, f) for f in tbl.column("file").to_pylist()],
                    type=pa.string(),
                )
                tbl = tbl.set_column(tbl.schema.get_field_index("file"), "file", remapped)
                pq.write_table(tbl, dst_t)
                moved[t] = dst_t
            return moved[t]

        out["files"] = [_copy(f) for f in m["files"]]
        out["stats"] = {_copy(f): s for f, s in m.get("stats", {}).items() if f in set(m["files"])}
        out["file_rows"] = {_copy(f): r for f, r in m.get("file_rows", {}).items() if f in set(m["files"])}
        out["file_specs"] = {
            _copy(f): sp for f, sp in m.get("file_specs", {}).items() if f in set(m["files"])
        }
        out["delete_files"] = {
            _copy(f): [_copy_tomb(t) for t in ts] for f, ts in _delete_map(m).items()
        }
        out["tomb_rows"] = {
            _copy_tomb(t): {_copy(f) if f in set(m["files"]) else f: c for f, c in counts.items()}
            for t, counts in m.get("tomb_rows", {}).items()
        }
        out["eq_deletes"] = {
            e: {**entry, "files": [_copy(f) for f in entry["files"]]}
            for e, entry in _eq_entries(m).items()
        }
        out["eq_applies"] = {_copy(f): list(es) for f, es in _eq_map(m).items()}
    tag = None
    if not deep:
        # pin the shared files at the source: an immutable tag survives
        # any source-side vacuum (Iceberg's ref-retention rule).  The
        # uuid suffix keeps same-basename destinations from colliding;
        # the tag name rides in the clone's meta so operators can find
        # and drop it when disowning the clone.
        tag = f"clone-{os.path.basename(os.path.abspath(dst))}-v{v}-{uuid.uuid4().hex[:6]}"
        create_tag(path, tag, v)
    out["version"] = 1
    out["parent"] = None
    out["mode"] = "clone"
    out["meta"] = {
        "clone": {"src": os.path.abspath(path), "version": v, "deep": deep,
                  **({"src_tag": tag} if tag else {})}
    }
    try:
        _stage_and_publish_manifest(dst, 1, out)
    except BaseException:
        if tag is not None:
            try:
                drop_ref(path, tag)  # a failed clone must not pin the source
            except FileNotFoundError:
                pass
        raise
    return 1


def _follow_bloom_coverage(spark, path: str, replaced_files, pm: dict) -> list[str]:
    """Rebuild bloom sidecars after a REWRITE replaced covered files —
    the one hook every rewriter (OPTIMIZE, copy-on-write merge) shares,
    so no rewrite path can silently erode point-lookup pruning
    (the fix belongs on the rewrite seam, not on one caller).  Columns = union of the replaced files' indexed columns
    (params-only sidecar reads, no bitset decode), mapped back to
    logical names still in the schema; the incremental
    :func:`bloomskip.build_blooms` then covers exactly the uncovered
    files of the NEW head.  Runs post-publish and best-effort: the
    snapshot is already correct without blooms (absence only costs
    probe conservatism), so a build failure never fails the commit.
    Returns the logical columns rebuilt ([] when nothing was covered).
    """
    from fdf_spark.sources.bloomskip import sidecar_meta

    phys_bloomed: set[str] = set()
    for f in replaced_files:
        sc = sidecar_meta(f)
        if sc:
            phys_bloomed.update(sc.keys())
    if not phys_bloomed:
        return []
    from fdf_spark.sources.bloomskip import build_blooms

    rev = {v: k for k, v in _mapping(pm).items()}
    lschema = _logical_schema(pm)
    names = set(lschema.fieldNames()) if lschema is not None else None
    cols = [
        c for c in sorted(rev.get(p, p) for p in phys_bloomed)
        if names is None or c in names
    ]
    if not cols:
        return []
    try:
        build_blooms(spark, path, cols)
        return cols
    except Exception:
        return []  # coverage gap, never a correctness issue


def optimize(
    spark: SparkSession,
    path: str,
    zorder: list[str] | tuple[str, ...] | None = None,
    target_bytes: int = 128 * 1024 * 1024,
    small_bytes: int | None = None,
    where: str | None = None,
) -> dict:
    """OPTIMIZE: bin-pack small files — optionally Z-ORDER reclustered —
    into a NEW snapshot (the Delta OPTIMIZE analog on this manifest
    model).

    Without ``zorder``: files below ``small_bytes`` (default
    ``target_bytes // 2``) are read once and rewritten as
    ~``target_bytes`` files; files already at target are carried over
    untouched (their manifest stats entries are inherited, no footer
    re-read). With ``zorder=[a]`` up to ``zorder=[a, b, c, d]``: ALL live files
    are rewritten range-partitioned + sorted on the (Morton-interleaved
    for two columns) clustering key, so parquet AND manifest [min, max]
    stats become tight in every clustered dimension — metadata pruning
    (``read_version(prune=...)``) then skips whole files instead of
    reading everything (measured in tests/test_versioned.py). Column
    bounds for the Morton scaling come from the manifest's per-file
    stats (metadata only) when present, one tiny agg otherwise; the
    row count for file sizing comes from parquet footers — the data
    itself is read exactly once, by the rewrite.

    The rewrite is a logical no-op published as a new version through
    the same optimistic-commit seam as any write: rows identical
    (``diff_versions(parent, optimized)`` is empty — tested), pinned
    readers of the parent snapshot untouched (copy-on-write), replaced
    files reclaimed later by :func:`vacuum` once the parent version
    ages out. A concurrent commit race surfaces as
    ``ConcurrentCommitError`` exactly like :func:`commit_version`.

    Scale shape: one scan of the rewritten bytes, one range (zorder) or
    round-robin (bin-pack) exchange of those same bytes, footer-only
    stats on the new files — cost is O(rewritten bytes), never
    O(table); the small-file cutoff keeps steady-state OPTIMIZE runs
    incremental the way Delta's are.  ``where`` (Databricks'
    ``OPTIMIZE t WHERE …``) scopes BOTH modes to files whose manifest
    stats overlap the predicate's conservative bounds — the hot recent
    range of a 100 TB table re-clusters in O(that range); stat-less
    files conservatively stay candidates, and a predicate no bound can
    be derived from raises instead of silently rewriting everything.
    """
    import math

    from pyspark.sql import functions as F

    parent, m = _head(path)
    if zorder is not None and not 1 <= len(zorder) <= 4:
        raise ValueError("zorder supports one to four clustering columns")
    files = m["files"]
    sizes = {f: os.path.getsize(f) for f in files}
    dvmap = _delete_map(m)
    eqmap = _eq_map(m)
    # SCOPED OPTIMIZE (Databricks' `OPTIMIZE t WHERE …`): the
    # predicate's conservative bounds select only OVERLAPPING files as
    # rewrite candidates — a 100 TB table re-clusters its hot recent
    # range in O(that range), never O(table).  Files without stats for
    # a bounded column stay candidates (the same superset rule every
    # prune path applies); a predicate that yields no bounds raises
    # rather than silently rewriting everything.
    scoped: set[str] | None = None
    if where is not None:
        schema_l = _logical_schema(m)
        if schema_l is None:
            raise ValueError("scoped OPTIMIZE needs a manifest schema")
        bounds = _predicate_bounds(spark, schema_l, where)
        if not bounds:
            raise ValueError(
                f"cannot derive file bounds from WHERE {where!r} — a scoped "
                "OPTIMIZE needs a stats-prunable predicate (drop WHERE to "
                "rewrite the whole table)"
            )
        scoped = set(_prune_files_by_bounds(m, files, bounds))
    if zorder:
        rewrite = [f for f in files if scoped is None or f in scoped]
        if not rewrite:
            return {
                "version": parent, "rewritten": 0,
                "files_before": len(files), "files_after": len(files),
            }
    else:
        cutoff = small_bytes if small_bytes is not None else target_bytes // 2
        # files carrying deletion vectors OR equality-delete scope are
        # rewrite candidates at ANY size: OPTIMIZE is where tombstones
        # FOLD into data (the merge-on-read debt is repaid here,
        # Delta's PURGE semantics)
        rewrite = [
            f for f in files
            if (scoped is None or f in scoped)
            and (sizes[f] < cutoff or dvmap.get(f) or eqmap.get(f))
        ]
        if len(rewrite) < 2 and not any(dvmap.get(f) or eqmap.get(f) for f in rewrite):
            # nothing to pack and no tombstones to fold — no new version
            return {
                "version": parent, "rewritten": 0,
                "files_before": len(files), "files_after": len(files),
            }
    rw = set(rewrite)
    kept = [f for f in files if f not in rw]
    spec_id, spec_now = _current_spec(m)
    # fold: the rewrite reads the LIVE rows (tombstoned positions AND
    # equality-deleted keys masked), so the new files carry no delete
    # debt of either kind — and writes them back under PHYSICAL names:
    # rewritten files must stay consistent with the table's one mapping,
    # so only the zorder key names translate logical->physical
    df = _live(spark, m, rewrite)
    mp = _mapping(m)
    if mp:
        df = df.select(*[F.col(c).alias(mp.get(c, c)) for c in df.columns])
    zorder_logical = list(zorder) if zorder else []
    if zorder:
        zorder = [_physical(m, c) for c in zorder]
    total = sum(sizes[f] for f in rewrite)
    # row count from the parquet FOOTERS (zero Spark jobs), keeping the
    # docstring's one-scan claim honest — the data itself is read once,
    # by the rewrite
    import pyarrow.parquet as pq

    n_rows = sum(pq.read_metadata(f).num_rows for f in rewrite)
    rows_per_file = max(1, int(target_bytes / max(total / max(n_rows, 1), 1e-9)))
    n_out = max(1, math.ceil(total / target_bytes))
    zkey = "__optimize_zkey__"
    if zorder:
        if len(zorder) == 1:
            key = F.col(zorder[0])
        else:
            from fdf_spark.functions.scalar import morton_key

            # scale each column into [0, 2^bits) from its observed
            # bounds — taken from the MANIFEST's per-file [min, max]
            # stats when every rewritten file carries them (metadata
            # only, zero Spark jobs), falling back to one tiny agg
            stats = m.get("stats", {})

            def _znum(c: str):
                # temporal columns enter the Morton key as epoch-day /
                # epoch-micros numbers (a raw date→double cast is
                # an AnalysisException, so zorder=["event_date", …]
                # failed outright); order-preserving, so clustering and
                # the tightened manifest stats are unaffected
                t = df.schema[c].dataType.simpleString()
                if t == "date":
                    return F.unix_date(F.col(c)).cast("double")
                if t.startswith("timestamp"):
                    return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
                return F.col(c).cast("double")

            def _manifest_bounds(c: str):
                los, his = [], []
                for f in rewrite:
                    st = stats.get(f, {}).get(c)
                    if st is None or not isinstance(st[0], (int, float)):
                        return None  # temporal/string stats → agg path
                    los.append(st[0])
                    his.append(st[1])
                return (float(min(los)), float(max(his))) if los else None

            per_col = [_manifest_bounds(c) for c in zorder]
            if any(b is None for b in per_col):
                row = df.agg(
                    *[F.min(_znum(c)).alias(f"lo_{i}") for i, c in enumerate(zorder)],
                    *[F.max(_znum(c)).alias(f"hi_{i}") for i, c in enumerate(zorder)],
                ).collect()[0]
                per_col = [(row[f"lo_{i}"], row[f"hi_{i}"]) for i in range(len(zorder))]
            top = (1 << 12) - 1

            def scaled(i: int, c: str):
                lo, hi = per_col[i]
                span = (hi - lo) if (hi is not None and lo is not None and hi > lo) else 1.0
                x = (_znum(c) - F.lit(lo)) * F.lit(top) / F.lit(span)
                return F.least(F.lit(top), F.greatest(F.lit(0), x.cast("bigint")))

            if len(zorder) == 2:
                key = morton_key(scaled(0, zorder[0]), scaled(1, zorder[1]), bits=12)
            else:
                from fdf_spark.functions.scalar import morton_key_n

                # 3-4 dims: same bit layout generalized (col j → bit
                # i*N+j); 12 bits × 4 cols = 48-bit key, still one long
                key = morton_key_n(
                    [scaled(i, c) for i, c in enumerate(zorder)], bits=12
                )
        out = (
            df.withColumn(zkey, key)
            .repartitionByRange(n_out, zkey)
            .sortWithinPartitions(zkey)
            .drop(zkey)
        )
    elif spec_now["cols"]:
        # bin-pack UNDER the current spec: same one exchange of the
        # rewritten bytes a round-robin would pay, but the output stays
        # clustered (transforms re-derived), so an OPTIMIZE fold on a
        # bucketed table never degrades point-lookup pruning on the
        # rewritten files
        out = _cluster_by_spec(df, spec_now, _mapping(m), n_files=n_out, schema=_logical_schema(m))
    else:
        out = df.repartition(n_out)
    # rewritten files keep the CURRENT spec stamp whenever the rewrite
    # actually clustered by it: every bin-pack (which now re-clusters
    # under the spec, transforms re-derived) and a zorder whose key IS
    # the spec (the index-maintenance compaction case).  Only an
    # UNRELATED zorder is its own layout and drops to spec 0 so nothing
    # claims tightness it no longer has.  Kept files keep their entries.
    cur_cols = spec_now["cols"]
    new_spec = spec_id if (cur_cols and (zorder is None or zorder_logical == cur_cols)) else 0
    version = parent + 1
    staged = _stage_data_files(
        out, path, version, new_spec, rows_per_file=rows_per_file, keep_empty=True
    )
    kept_state = {
        "files": kept,
        **{k: {f: m[k][f] for f in kept if f in m.get(k, {})} for k in ("stats", "file_rows")},
        "file_specs": {f: m.get("file_specs", {}).get(f, 0) for f in kept},
    }
    manifest = _successor(
        m, version, "optimize",
        {"optimize": {"rewritten": len(rewrite), "zorder": list(zorder or [])}},
        **_appended(kept_state, staged),
        # rewritten files' tombstones are FOLDED (their masked rows
        # never reached the new files); kept files keep their masks —
        # positional AND equality; eq entries no kept file scopes are
        # dropped so vacuum can reclaim their key files
        delete_files={f: ts for f, ts in dvmap.items() if f in set(kept) and ts},
        eq_applies={f: es for f, es in eqmap.items() if f in set(kept) and es},
        eq_deletes={
            eid: e
            for eid, e in _eq_entries(m).items()
            if any(eid in eqmap.get(f, []) for f in kept)
        },
        schema=m["schema"] if "schema" in m else json.dumps(df.schema.jsonValue()),
    )
    _stage_and_publish_manifest(path, version, manifest)
    # bloom coverage FOLLOWS the rewrite: see _follow_bloom_coverage
    blooms_rebuilt = _follow_bloom_coverage(spark, path, rewrite, m)
    return {
        "version": version,
        "rewritten": len(rewrite),
        "files_before": len(files),
        "files_after": len(manifest["files"]),
        "blooms_rebuilt": blooms_rebuilt,
    }


def merge_versioned(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys,
    update_cols=None,
    delete_flag: str | None = None,
    on_duplicate_keys: str = "error",
    order_col: str | None = None,
) -> int:
    """CDC merge (operators/merge.py semantics) committed as a new
    snapshot: read latest → merge_upsert → overwrite-commit. Readers of
    older versions are untouched (copy-on-write + time travel).

    A path with no versions yet bootstraps: the first change batch
    merges against an empty base of the change schema (minus the
    delete flag), so a stream can land on a fresh table without a
    manual base commit."""
    from fdf_spark.operators.merge import merge_upsert

    replaced: list[str] = []
    pm: dict | None = None
    if list_versions(path):
        pm = _head(path)[1]
        replaced = pm["files"]
        base = read_version(spark, path)
    else:
        cols = [c for c in changes.columns if c != delete_flag]
        base = spark.createDataFrame([], changes.select(*cols).schema)
    merged = merge_upsert(
        base, changes, keys, update_cols, delete_flag,
        on_duplicate_keys=on_duplicate_keys, order_col=order_col,
    )
    v = commit_version(merged, path, mode="overwrite")
    if replaced and pm is not None:
        # the overwrite replaced every covered file — bloom coverage
        # follows the rewrite, same hook as OPTIMIZE
        _follow_bloom_coverage(spark, path, replaced, pm)
    return v


def merge_on_read(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys,
    update_cols=None,
    delete_flag: str | None = None,
    on_duplicate_keys: str = "error",
    order_col: str | None = None,
) -> int:
    """CDC merge as a MERGE-ON-READ commit: identical result to
    :func:`merge_versioned` (the same merge core in
    ``operators.merge``, the same change-feed deltas — both pinned by
    tests), but the write is O(changed rows), not O(touched file
    bytes):

    - matched keys (updates AND deletes) tombstone their old row's
      (file, position) — data files untouched;
    - updated/inserted rows land as ordinary appended files, clustered
      by the table's partition spec;
    - ONE manifest publishes both atomically (mode ``merge-mor``).

    The read-side cost is the tombstone anti-join on the affected
    files until :func:`optimize` folds it.  This is the landing path
    for a high-frequency CDC stream against large files, where
    copy-on-write's write amplification (rewrite a 1 GB file to update
    one row) dominates; batch restatements that touch most rows should
    keep using ``merge_versioned``.  Change-set contract and
    ``on_duplicate_keys`` exactly as :func:`merge_upsert`.

    Scale guards: the base's match scan is PRUNED by intersecting the
    change set's per-key [min, max] (one tiny agg over the cached
    changes) with the manifest's per-file stats — on a spec-clustered
    table a narrow CDC batch touches only the files that can hold its
    keys.  The same agg counts the change set for the merge core's
    broadcast gate (``operators.merge._BROADCAST_MAX_ROWS``): a change
    set above it joins via the shuffle path (AQE picks the strategy)
    instead of force-broadcasting an arbitrarily large batch into
    driver memory.

    LOST-RACE RECOVERY: a race lost to a compatible head (touched files
    kept identical masks, schema/mapping/spec unmoved —
    :func:`_masks_rebasable`) does NOT re-run the merge.  The staged
    tombstones and image files bind to the head as-is; the rebase
    re-probes ONLY the files the head added (pruned by the same key
    bounds / bucket memberships — a blind append with disjoint keys
    probes zero files and lands manifest-only), tombstones racer rows
    whose keys the change set touches, and restages a corrected image
    over the racer's row for keys that carry a live change row — so the
    one-live-row-per-key contract holds under merge-serializes-after-
    the-append semantics.  Incompatible heads raise
    ``ConcurrentCommitError`` and the caller re-runs.
    """
    import math

    from pyspark.sql import functions as F

    from fdf_spark.operators.merge import _change_set, _merge_images

    keys = list(keys)
    if not list_versions(path):
        raise FileNotFoundError(
            f"no versions at {path} — bootstrap with commit_version or merge_versioned"
        )
    parent, m = _head(path)
    version = parent + 1
    schema = _logical_schema(m)
    if schema is None:  # legacy manifest without a recorded schema
        schema = _scan(spark, m, m["files"][:1]).schema
    # one cache serves the uniqueness check, the bounds/count agg, and
    # every join below — without it the change plan re-evaluates per use
    src = changes.persist()
    hits = None  # the pinned hit set (created below), unpinned with src
    # one finally owns the cache: every exit — early return, a lost
    # commit race, a failed uniqueness check — unpins the change set
    try:
        cs = _change_set(
            schema.names, src, keys, update_cols, delete_flag, on_duplicate_keys, order_col
        )
        # ONE tiny job: change count (broadcast gate) + per-key bounds
        # (file pruning); both metadata-sized regardless of batch size
        row = cs.changes.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                g for k in keys
                for g in (F.min(k).alias(f"__lo_{k}"), F.max(k).alias(f"__hi_{k}"))
            ],
        ).collect()[0]
        cs.n_rows = row["__n"]
        if cs.n_rows == 0:
            return parent
        bounds = {}
        for k in keys:
            lo, hi = row[f"__lo_{k}"], row[f"__hi_{k}"]
            if (
                isinstance(lo, (int, float, str, _datetime.date))
                and isinstance(hi, (int, float, str, _datetime.date))
                and not (isinstance(lo, float) and math.isnan(lo))
                and not (isinstance(hi, float) and math.isnan(hi))
            ):
                # temporal bounds canonicalize in _canon_stat_probe
                # (naive collected datetimes resolve only when session
                # and OS zones agree — else the check self-skips)
                bounds[k] = (lo, hi)
        # a bucket(N, key) layout prunes by MEMBERSHIP, not range: map the
        # batch's distinct keys through the transform (one tiny distinct
        # agg over the cached batch — ≤N values) so a narrow CDC batch
        # touches only the buckets its keys route to, even though the raw
        # key [min, max] of a hash-routed file spans everything
        memberships = _batch_bucket_memberships(m, cs.changes, keys)
        scan_files = _prune_files_by_bounds(m, m["files"], bounds, memberships)
        # a SMALL change batch additionally scopes the match scan
        # through per-file BLOOM sidecars where built (bloomskip) —
        # the narrow-CDC-batch-on-unclustered-layout case range stats
        # cannot prune; NULL keys / unsupported types skip the column.
        # _bloom_scope hashes under the DECLARED key type (a
        # string-typed change key against an int column must not hash
        # cross-type and falsely reject matching files)
        if scan_files and cs.n_rows <= _BLOOM_PROBE_CAP:
            for kc in keys:
                vals = [r[0] for r in cs.changes.select(kc).distinct().collect()]
                if vals and all(v is not None for v in vals):
                    scan_files = _bloom_scope(m, scan_files, kc, vals)
        # an all-pruned scan still needs a base relation for the hit
        # set — read (at most) one file's plan, it matches zero keys
        base = _live(spark, m, scan_files or m["files"][:1], pos=True)

        # positions to tombstone: every live base row whose key the change
        # set touches (an update's old image and a delete both die here);
        # the base is NEVER shuffled unless the change set is too large to
        # broadcast.  The HIT SET (touched keys' live base rows, O(changed
        # rows) by the merge contract) is pinned so the masked base scan
        # runs ONCE and serves tombstones, update images and matched keys
        # alike
        hits = base.join(cs.hint(cs.touched), keys, "left_semi")
        if cs.broadcast:
            # pin only batch-sized hit sets: a table-scale restatement
            # (which the docstring routes to merge_versioned anyway)
            # would cache O(table) — there the re-scans amortize into
            # the rewrite-sized output instead
            hits = hits.persist()
        tomb_src = hits.select(
            F.col("__file").alias("file"), F.col("__pos").alias("pos")
        )
        # rows to append (updated images + inserts), under the table's
        # DECLARED types: a decimal-literal CDC value into a double
        # column must not write decimal bytes a declared-schema reader
        # chokes on.  They must satisfy the table's CHECK constraints —
        # validated before anything stages
        appended = _merge_images(hits, cs, schema, inserts=True)
        checked = _enforce_constraints(path, appended, schema)
        # stage both sides, publish ONE manifest (atomic: a crash leaves
        # only invisible orphans, exactly like any other commit)
        tomb_files, affected, n_del = _write_tombstones(spark, path, version, tomb_src)
        mapping = _mapping(m)
        out = appended.select(*[F.col(c).alias(mapping.get(c, c)) for c in schema.names])
        # images are stamped with the PARENT's spec they were clustered
        # under, even when a racing head moved it (as in update_where)
        written_spec, spec = _current_spec(m)
        staged = _stage_data_files(
            _cluster_by_spec(out, spec, mapping, schema=schema), path, version, written_spec
        )
        new_files = staged["files"]
        if not new_files and n_del == 0:
            return parent  # nothing matched, nothing inserted — no new version

        def _build(hv: int, hm: dict) -> dict:
            # On a compatible head the staged tombstones and image files
            # bind as-is; the only thing the race can have invalidated
            # is rows the head APPENDED with keys in the change set.  So
            # the rebase re-probes ONLY head-added files, tombstones any
            # racer row with a touched key, and — for keys carrying a
            # live change row — replaces OUR stale staged image
            # (tombstoned in place) with a corrected image built over
            # the racer's row.
            extra_aff: dict = {}
            n_extra = 0
            corr: dict = {"files": [], "stats": {}, "file_rows": {}, "file_specs": {}}
            rebase: dict = {}
            if hv != parent:
                staged_set = set(new_files)
                hfr = hm.get("file_rows", {})
                head_new = [
                    f for f in hm["files"]
                    if f not in set(m["files"]) and f not in staged_set
                    and hfr.get(f, 1) != 0  # zero-row files can't hold a racer row
                ]
                memberships_h = _batch_bucket_memberships(hm, cs.changes, keys)
                probed = _prune_files_by_bounds(hm, head_new, bounds, memberships_h)
                if probed:
                    racer = _live(spark, hm, probed, pos=True)
                    racer_touched = racer.join(cs.hint(cs.touched), keys, "left_semi").persist()
                    try:
                        tomb2 = racer_touched.select(
                            F.col("__file").alias("file"), F.col("__pos").alias("pos")
                        )
                        # keys with BOTH a racer row and a live change row:
                        # our staged image (parent-based or NULL-filled
                        # insert) is stale — tombstone it and restage a
                        # corrected image over the racer's values
                        corrected = _merge_images(racer_touched, cs, schema, inserts=False)
                        staged_rows = _live(spark, m, new_files, pos=True)
                        stale = staged_rows.join(
                            cs.hint(corrected.select(*keys).distinct()), keys, "left_semi"
                        ).select(F.col("__file").alias("file"), F.col("__pos").alias("pos"))
                        _enforce_constraints(path, corrected, schema)
                        _, extra_aff, n_extra = _write_tombstones(
                            spark, path, hv + 1, tomb2.unionByName(stale)
                        )
                        out2 = corrected.select(
                            *[F.col(c).alias(mapping.get(c, c)) for c in schema.names]
                        )
                        corr = _stage_data_files(
                            _cluster_by_spec(out2, spec, mapping, schema=schema),
                            path, hv + 1, written_spec,
                        )
                    finally:
                        racer_touched.unpersist()
                rebase = {
                    "rebase": {
                        "probed_files": len(probed),
                        "extra_deleted_positions": n_extra,
                        "corrected_files": len(corr["files"]),
                    }
                }
            meta = {
                "merge_on_read": {
                    "deleted_positions": n_del + n_extra,
                    "appended_files": len(new_files) + len(corr["files"]),
                    "files_scanned": len(scan_files),
                    "files_pruned": len(m["files"]) - len(scan_files),
                    "broadcast": cs.broadcast,
                    **rebase,
                }
            }
            # appended files carry no equality scope (newer than every entry)
            return _successor(
                hm, hv + 1, "merge-mor", meta,
                **_appended(hm, staged, corr),
                delete_files=_tombstoned(hm, affected, extra_aff),
            )

        return _publish_row_level(
            path, parent, m, affected, _build, spark=spark, checked=checked, staged=new_files
        )
    finally:
        src.unpersist()
        if hits is not None:
            hits.unpersist()


def stream_version_events(spark: SparkSession, path: str) -> DataFrame:
    """Streaming CHANGE-DATA-FEED source over a versioned table — the
    commit stream: a ``readStream`` that tails the
    manifest chain and emits one row ``(version, parent, mode)`` per
    NEW commit.  Downstream incremental consumers (the N23 view
    maintainer) subscribe to this instead of re-diffing the table.

    Why this is safe as a file stream: manifests are published through
    the create-if-absent seam (:func:`_publish_manifest_atomic`) — a
    manifest either exists whole or not at all, so the file source can
    never observe a torn commit; the manifest IS the read barrier
    (same discipline as the WebDataset ledger).  The ``v*.json`` glob
    excludes in-flight ``.tmp`` staging files.  Within one checkpoint
    lineage Spark's file source assigns each manifest to exactly one
    micro-batch, but foreachBatch delivery is AT-LEAST-ONCE on
    crash/restart (the standard Structured Streaming contract) — a
    consumer that is not idempotent must guard on the version number
    it receives, exactly as the versioned-table consumers here do
    (commit meta carries the applied version; see
    ``stream_changes_sink``).  Scale: the source lists a metadata directory
    (O(commits), not O(rows)) — the data files are only touched by the
    consumer, and only the CHANGED ones (:func:`diff_versions`).
    """
    return (
        spark.readStream.format("json")
        .schema("version long, parent long, mode string")
        .option("pathGlobFilter", "v*.json")
        .load(os.path.join(path, _MANIFEST_DIR))
    )


def change_feed_fold(path: str, apply_delta):
    """foreachBatch fold behind :func:`stream_changes_sink` (factored
    out so delta ordering/skip rules are directly testable).

    For each new manifest (in version order — a micro-batch may carry
    several commits), hands that commit's row-level delta
    (:func:`_commit_delta`) to ``apply_delta(delta_df, version)``: the
    first version as the full snapshot of ``change='insert'`` rows,
    every later commit as :func:`diff_versions` (parent, v) — inserts
    and deletes, an update arriving as the delete+insert pair.  One
    skip rule, shared with :func:`table_changes`: a commit that leaves
    the file set, deletion vectors and equality-delete scope unchanged
    (whatever its mode), or an ``optimize`` (a content-preserving
    rewrite), changes no rows and is skipped without reading data.
    """

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        for v in sorted(r["version"] for r in batch_df.select("version").collect()):
            delta = _commit_delta(spark, path, v)
            if delta is not None:
                apply_delta(delta, v)

    return _fold


def stream_changes_sink(
    events: DataFrame,
    path: str,
    apply_delta,
    checkpoint: str | None = None,
):
    """Consume a versioned table's change feed: each commit's row-level
    delta (the :func:`diff_versions` relation, ``change`` column and
    all) is handed to ``apply_delta(delta_df, version)``, in version
    order, at-least-once (a crashed micro-batch replays on restart —
    the foreachBatch contract).  The ``version`` argument is the
    replay key: a consumer folding into a versioned table records it
    in the commit meta and skips versions already applied (the
    ``make_view_fold`` guard pattern), which upgrades the feed to
    exactly-once end-to-end.  ``events`` is
    :func:`stream_version_events`'s stream.  Returns the
    StreamingQuery.

    Commits that change no rows are skipped by the one rule
    :func:`change_feed_fold` shares with :func:`table_changes`: the
    file set, deletion vectors and equality-delete scope are the
    parent's, or the commit is an ``optimize``.

    The 100 TB shape: per commit the consumer reads only the files
    present in exactly one of the two snapshots — under copy-on-write
    merges that is the touched partitions, never the table — and the
    streaming layer itself moves manifest rows only.
    """
    writer = events.writeStream.foreachBatch(change_feed_fold(path, apply_delta))
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def stream_merge_sink(
    stream: DataFrame,
    path: str,
    keys,
    update_cols=None,
    delete_flag: str | None = None,
    checkpoint: str | None = None,
    bloom_cols=None,
):
    """Streaming CDC upsert sink: every micro-batch is merged into the
    versioned table as one commit (``foreachBatch`` → merge_upsert →
    overwrite-commit).

    A micro-batch that carries SEVERAL live change rows for one key
    (rapid updates within the trigger interval) makes the merge error
    loudly rather than silently duplicate base rows.

    This is the production landing pattern for a change stream at
    100 TB: per batch, the base is never shuffled (broadcast merge),
    the commit is atomic (manifest rename), and each micro-batch leaves
    a replayable snapshot — a training job pins the version it read
    while ingest keeps moving. Exactly-once sits on the checkpoint +
    idempotent-commit pair; a re-run batch re-merges the same keys to
    the same result (upserts are idempotent by key).

    ``bloom_cols`` keeps per-file BLOOM sidecars (``bloomskip``)
    CONTINUOUSLY maintained: after each batch's commit, the
    incremental ``build_blooms`` covers the snapshot's uncovered files
    — which for this COPY-ON-WRITE sink is the files the overwrite
    just wrote, i.e. the per-batch bloom cost tracks the merge's own
    rewrite cost (a merge-on-read sink would pay only O(appended
    files)).  Point lookups on the named columns stay file-pruned
    while the table ingests — the steady-state answer to "find one
    doc by id in the live 100 TB corpus".  A deterministic
    misconfiguration (unknown column / unsupported type) fails the
    stream loudly; transient build failures are swallowed (missing
    sidecars only cost probe conservatism, never correctness).

    Returns the StreamingQuery (caller awaits/stops it).
    """

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_versioned(
                batch_df.sparkSession, path, batch_df, keys, update_cols, delete_flag,
                on_duplicate_keys="error",
            )
            if bloom_cols:
                from fdf_spark.sources.bloomskip import build_blooms

                try:
                    build_blooms(batch_df.sparkSession, path, list(bloom_cols))
                except (ValueError, TypeError):
                    # deterministic misconfiguration (unknown column,
                    # unsupported type) would otherwise be swallowed on
                    # EVERY batch and the feature silently dead — fail
                    # the stream loudly
                    raise
                except Exception:
                    pass  # transient build failure — coverage gap only

    writer = stream.writeStream.foreachBatch(_merge_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
