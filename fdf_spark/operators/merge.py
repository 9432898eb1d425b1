"""CDC merge / upsert — ``MERGE INTO`` emulation on plain parquet.

Reference parity: none — fdf is a read-only access layer (the logbook
and MDSplus trees are mutated by the experiment, never by fdf; see
`/root/reference/fdf/factory.py` which exposes no write surface).  This
operator belongs to the declared north-star extension surface
(SURVEY §2.11): a 100 TB training corpus is maintained by periodic CDC
merges (late-arriving crawls, re-scored documents, takedown deletes),
not by full rewrites.

Semantics (Delta/Iceberg ``MERGE INTO`` subset):

- matched (key present in both)   → update ``update_cols`` from changes,
  keep every other column from base;
- not-matched-by-target (key only in changes) → insert the change row
  (base-only columns become NULL);
- matched + ``delete_flag`` true  → drop the row;
- not-matched-by-source (key only in base)    → keep unchanged.

One merge core serves every physical commit: :func:`_change_set`
(duplicate-key policy, update columns, live/delete split) and
:func:`_merge_images` (updated images + NULL-filled inserts under the
base's declared types).  :func:`merge_upsert` returns
``untouched ∪ images`` as a new relation (``merge_versioned`` commits it
copy-on-write); ``sources.versioned.merge_on_read`` tombstones the
touched rows and appends the same images.

Scale design: with a CDC batch ≪ base (the 100 TB case) the base
relation is NEVER shuffled.  Broadcast joins do all the work — base ⟕̸
keys (anti: untouched rows), base ⨝ changes (matched rows, updated
column-wise), changes ⟕̸ matched-keys (inserts) — and the result is
their union.  Base is scanned twice (anti + inner), which at scale is
far cheaper than one full-outer shuffle of 100 TB.  The broadcast hint
is dropped only when the change set is KNOWN to exceed
``_BROADCAST_MAX_ROWS`` (its size falls out of a job the merge already
runs); such a batch joins through the shuffle path AQE picks instead of
being forced into driver memory.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_RN = "__merge_rn__"

#: a merge broadcast-hints its change side unless the change set is
#: known to hold more than this many rows
_BROADCAST_MAX_ROWS = 1_000_000


def _reduce_changes_last_wins(
    changes: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """Deterministically reduce ``changes`` to the LATEST row per key.

    CDC last-state semantics: the surviving row per key is the one with
    the greatest ``order_col`` (sequence number / event time), so a
    delete followed by a later re-insert resurrects the key and an
    update followed by a later delete drops it.  Ties on ``order_col``
    break on the remaining ORDERABLE change columns (descending, nulls
    last) so the reduction is a pure function of the row multiset — no
    first-row-wins nondeterminism.  Map-typed columns are excluded
    from the tiebreak (Spark cannot sort them); two change rows that
    are identical except for a map column therefore tie arbitrarily —
    callers needing full determinism there should make ``order_col``
    unique per key (the normal CDC sequence-number contract).
    """
    from pyspark.sql.types import ArrayType, MapType

    def _has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        return False

    if order_col not in changes.columns:
        raise ValueError(f"order_col {order_col!r} not in changes columns")
    unorderable = {f.name for f in changes.schema.fields if _has_map(f.dataType)}
    tiebreak = [
        F.col(c).desc_nulls_last()
        for c in changes.columns
        if c != order_col and c not in unorderable
    ]
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc_nulls_last(), *tiebreak)
    return (
        changes.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def _is_live(delete_flag: str | None):
    """A change row is live (an update or insert) unless its
    ``delete_flag`` is true; a NULL flag is live."""
    return F.lit(True) if delete_flag is None else ~F.coalesce(F.col(delete_flag), F.lit(False))


def _check_unique_live_keys(
    changes: DataFrame, keys: Sequence[str], delete_flag: str | None
) -> int:
    """Raise if any key carries more than one live (non-delete) change
    row; return the change set's row count.

    With duplicate keys the image join duplicates matched base rows —
    silent snapshot corruption.  Delta's MERGE raises the same way
    ("multiple source rows matched").  A delete row plus one update row
    for the same key stays legal (delete wins).  This is an eager check:
    one Spark action over the change relation, whose per-key counts fold
    in the shuffle's reduce side (``coalesce(1)``: no second exchange),
    so the row count comes with it.  Pass
    ``on_duplicate_keys="assume_unique"`` to skip it or
    ``"last_wins"`` with an ``order_col`` to reduce instead.
    """
    per_key = changes.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__rows"),
        F.count(F.when(_is_live(delete_flag), 1)).alias("__live"),
    )
    row = per_key.coalesce(1).agg(
        F.sum("__rows").alias("n"),
        F.max("__live").alias("most"),
        F.max_by(F.struct(*keys), "__live").alias("key"),
    ).collect()[0]
    if (row["most"] or 0) > 1:
        kv = row["key"].asDict()
        raise ValueError(
            f"merge_upsert: multiple live change rows for key {kv} — a merge "
            f"would duplicate matched base rows. Deduplicate the change set, "
            f"or pass on_duplicate_keys='last_wins' with order_col=<sequence "
            f"column> for CDC last-state reduction."
        )
    return row["n"] or 0


@dataclass
class _ChangeSet:
    """A change relation ready to merge (built by :func:`_change_set`).

    ``changes`` is the relation after the duplicate-key policy; ``live``
    holds the ``payload`` columns (keys, then ``update_cols``) of its
    non-delete rows and ``deletes`` the keys of its delete rows (``None``
    without a delete flag); ``n_rows`` is the row count of ``changes``
    when a job already learned it, else ``None``.
    """

    keys: list[str]
    update_cols: list[str]
    payload: list[str]
    changes: DataFrame
    live: DataFrame
    deletes: DataFrame | None
    n_rows: int | None

    @property
    def touched(self) -> DataFrame:
        """Every change key, update or delete (not deduplicated)."""
        return self.changes.select(*self.keys)

    @property
    def broadcast(self) -> bool:
        return self.n_rows is None or self.n_rows <= _BROADCAST_MAX_ROWS

    def hint(self, df: DataFrame) -> DataFrame:
        """``df`` (change-set sized) with the broadcast hint when the gate allows it."""
        return F.broadcast(df) if self.broadcast else df

    def delete_wins(self, df: DataFrame) -> DataFrame:
        """``df`` without the rows whose key carries a delete row."""
        if self.deletes is None:
            return df
        return df.join(self.hint(self.deletes), self.keys, "left_anti")


def _change_set(
    base_cols: Sequence[str],
    changes: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None,
    delete_flag: str | None,
    on_duplicate_keys: str,
    order_col: str | None,
) -> _ChangeSet:
    """The change-set step of every merge: apply ``on_duplicate_keys``,
    resolve ``update_cols`` against the base's columns ``base_cols``
    (default: every non-key change column the base has), and split the
    live rows from the deletes.

    ``on_duplicate_keys``: ``"error"`` runs :func:`_check_unique_live_keys`
    (and so learns the row count), ``"last_wins"`` reduces with
    :func:`_reduce_changes_last_wins` (requires ``order_col``),
    ``"assume_unique"`` trusts the caller.
    """
    keys = list(keys)
    n_rows = None
    if on_duplicate_keys == "last_wins":
        if order_col is None:
            raise ValueError("on_duplicate_keys='last_wins' requires order_col")
        changes = _reduce_changes_last_wins(changes, keys, order_col)
    elif on_duplicate_keys == "error":
        n_rows = _check_unique_live_keys(changes, keys, delete_flag)
    elif on_duplicate_keys != "assume_unique":
        raise ValueError(f"unknown on_duplicate_keys {on_duplicate_keys!r}")
    if update_cols is None:
        update_cols = [c for c in changes.columns if c in set(base_cols) and c not in set(keys)]
    missing = [c for c in update_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"update_cols not in changes: {missing}")
    update_cols = list(update_cols)
    payload = keys + [c for c in update_cols if c not in keys]
    live = changes.filter(_is_live(delete_flag)).select(*payload)
    deletes = None if delete_flag is None else changes.filter(F.col(delete_flag)).select(*keys)
    return _ChangeSet(keys, update_cols, payload, changes, live, deletes, n_rows)


def _merge_images(
    hits: DataFrame, cs: _ChangeSet, schema: StructType, inserts: bool
) -> DataFrame:
    """The rows a merge writes, under the base's declared ``schema``.

    For every ``hits`` row (base rows; extra columns are ignored) whose
    key carries a live change row: its updated image — ``update_cols``
    from the change, every other column from the hit.  With
    ``inserts``, also one row per live change whose key no hit holds,
    base-only columns NULL.  Delete wins: a key that also carries a
    delete row writes nothing.
    """
    b, c = hits.alias("b"), cs.live.alias("c")
    matched = b.join(
        cs.hint(c), [F.col(f"b.{k}") == F.col(f"c.{k}") for k in cs.keys], "inner"
    )
    images = matched.select(
        *[
            (F.col(f"c.{f.name}") if f.name in cs.update_cols else F.col(f"b.{f.name}"))
            .cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
    images = cs.delete_wins(images)
    if not inserts:
        return images
    matched_keys = matched.select(*[F.col(f"b.{k}").alias(k) for k in cs.keys]).distinct()
    new = cs.delete_wins(cs.live.join(cs.hint(matched_keys), cs.keys, "left_anti")).select(
        *[
            (F.col(f.name) if f.name in cs.payload else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
    return images.unionByName(new)


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None = None,
    delete_flag: str | None = None,
    on_duplicate_keys: str = "error",
    order_col: str | None = None,
) -> DataFrame:
    """Merge ``changes`` into ``base`` on ``keys``; returns the new snapshot.

    Output schema == base schema (column order and types preserved).
    ``changes`` may carry a subset of base's columns plus the key
    columns and the optional boolean ``delete_flag``.

    CONTRACT: at most one live (non-delete) change row per key.
    ``on_duplicate_keys`` picks the enforcement:

    - ``"error"`` (default): eager uniqueness check, raises
      ``ValueError`` on violation (Delta MERGE's multiple-matches
      error).  Costs one action over the change relation.
    - ``"last_wins"``: reduce changes to the row with the greatest
      ``order_col`` per key BEFORE merging (CDC last-state semantics —
      the natural choice for ``stream_merge_sink`` micro-batches that
      carry several changes for one key).  Requires ``order_col``.
    - ``"assume_unique"``: skip the check (caller guarantees it).
    """
    cs = _change_set(
        base.columns, changes, keys, update_cols, delete_flag, on_duplicate_keys, order_col
    )
    untouched = base.join(cs.hint(cs.touched), cs.keys, "left_anti")
    return untouched.unionByName(_merge_images(base, cs, base.schema, inserts=True))
