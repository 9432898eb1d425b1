"""The Arrow kernel seam: every row-wise Python kernel of the engine
runs through :func:`arrow_kernel` on ``DataFrame.mapInArrow``.

A kernel is numpy (or plain Python) over the columns of one Arrow
batch.  The seam owns the plumbing around it: the output schema,
derived once from a DDL string; the pass-through of input columns by
``RecordBatch.take`` (Arrow to Arrow, their types from ``df.schema``);
the conversion of the kernel's numpy arrays and lists to Arrow; and the
empty-batch and empty-output cases.  :func:`vectors` is the one
conversion of an embedding column to a float64 matrix.
"""

from __future__ import annotations

import inspect


def arrow_kernel(df, fn, out_ddl: str):
    """Run ``fn`` over the Arrow batches of ``df`` → a DataFrame whose
    schema is ``out_ddl``.

    ``out_ddl`` lists the output columns in order.  A bare name
    (``"doc_id, seed int, minhash long"``) is an input column carried
    through unchanged, typed by ``df.schema``; a typed field is a new
    column that ``fn`` computes.

    ``fn(batch)`` gets each non-empty ``pa.RecordBatch`` of ``df`` and
    returns the new columns as ``{name: array}`` (numpy arrays, lists
    or Arrow arrays; a 2-D or 3-D numpy array fills an ``array<…>`` or
    ``array<array<…>>`` column row by row).  Output rows are the input
    rows, unless ``fn`` returns ``(columns, indices)``: then output row
    ``i`` carries input row ``indices[i]``.

    A generator ``fn`` folds the whole task instead: it gets the
    iterator of the task's non-empty batches and yields ``{name:
    array}`` outputs, which carry no input columns (per-task partial
    sums, one manifest row per written file).  Outputs with no rows
    are dropped.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType

    parts = _ddl_fields(out_ddl)
    typed = ", ".join(f"{n} {t}" for n, t in parts if t)
    typed = iter(StructType.fromDDL(typed).fields if typed else ())
    schema = StructType(
        [StructField(n, df.schema[n].dataType) if t is None else next(typed) for n, t in parts]
    )
    arrow_schema = to_arrow_schema(schema)
    carried = [n for n, t in parts if t is None]
    fold = inspect.isgeneratorfunction(fn)

    def run(batches):
        import pyarrow as pa

        batches = (b for b in batches if b.num_rows)
        if fold:
            outs = ((None, out) for out in fn(batches))
        else:
            outs = ((b, fn(b)) for b in batches)
        for batch, out in outs:
            cols, idx = out if isinstance(out, tuple) else (out, None)
            if carried:
                src = batch.select(carried)
                src = src if idx is None else src.take(pa.array(idx, pa.int64()))
            arrays = [
                src.column(f.name) if f.name in carried else _to_arrow(cols[f.name], f.type)
                for f in arrow_schema
            ]
            arrays = [a if a.type == t else a.cast(t) for a, t in zip(arrays, arrow_schema.types)]
            out = pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
            if out.num_rows:
                yield out

    return df.mapInArrow(run, schema)


def vectors(arr, name: str):
    """``(n, d)`` float64 matrix of a ``list<float|double>`` column
    (one ``ListArray.flatten()``; float32 widens exactly).  A NULL
    vector, or one whose length differs from the first row's, raises
    ``ValueError`` naming the column and the row; a NULL element reads
    as NaN."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(arr)
    if arr.null_count:
        row = int(np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False))[0])
        raise ValueError(f"{name}: row {row} is a NULL vector")
    lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    d = int(lens[0]) if n else 0
    bad = np.flatnonzero(lens != d)
    if len(bad):
        row = int(bad[0])
        raise ValueError(f"{name}: row {row} has {lens[row]} values; row 0 has {d}")
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(n, d)


def _ddl_fields(ddl: str) -> list[tuple[str, str | None]]:
    """``"a, b long, c array<struct<x:int,y:int>>"`` → ``[("a", None),
    ("b", "long"), ("c", "array<…>")]``: split at top-level commas."""
    parts, depth, cur = [], 0, ""
    for ch in ddl + ",":
        if ch == "," and depth == 0:
            name, _, typ = cur.strip().partition(" ")
            parts.append((name, typ.strip() or None))
            cur = ""
            continue
        depth += (ch in "<(") - (ch in ">)")
        cur += ch
    return parts


def _columns(rows, ddl: str) -> dict[str, list]:
    """Tuples of the new (typed) columns of ``ddl``, one per output row
    → the ``{name: values}`` a kernel returns."""
    names = [n for n, t in _ddl_fields(ddl) if t]
    return {n: [r[i] for r in rows] for i, n in enumerate(names)}


def _to_arrow(v, t):
    """One output column as an Arrow array of type ``t``."""
    import numpy as np
    import pyarrow as pa

    if isinstance(v, pa.Array):
        return v
    if isinstance(v, np.ndarray) and v.ndim > 1 and pa.types.is_list(t):
        n, w = v.shape[:2]
        offsets = pa.array(np.arange(n + 1, dtype=np.int32) * w)
        inner = _to_arrow(v.reshape(n * w, *v.shape[2:]), t.value_type)
        return pa.ListArray.from_arrays(offsets, inner, type=t)
    return pa.array(v, type=t)
