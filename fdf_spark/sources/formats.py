"""Interchange source/sink formats beyond parquet: CSV, JSON lines, ORC, XML.

Reference parity: the fdf reference reads MDSplus trees and SQL Server
(`/root/reference/fdf/factory.py:177,537`) — represented here by the
parquet fixture adapters (`sources/tables.py`).  A general engine also
has to ingest the interchange formats a data platform actually ships
around (CSV extracts, JSON event logs, ORC lakes), so this module
gives them one disciplined surface:

- **Schema is explicit, never inferred.**  ``read_table_as`` requires
  a StructType for CSV/JSON: schema inference reads the data twice and
  guesses types differently run-to-run — at 100 TB that is both a cost
  and a correctness hazard.  ORC/parquet carry their own schema.
- **Timestamps are microsecond-exact across the roundtrip.**  CSV and
  JSON serialize timestamps as ISO-8601 with 6 fractional digits
  (``_TS_FMT``); the default second-precision format silently truncates
  micros, which breaks as-of joins and event alignment downstream.
- **The events normalization applies regardless of container.**
  ``read_table_as(..., name="events")`` routes through
  ``normalize_events_ts`` exactly like the parquet loader, so a stream
  of the same table from CSV vs parquet is indistinguishable above the
  source layer.

Scale notes: CSV/JSON scans are splittable (uncompressed or bzip2) and
prune columns at the parser; ORC gets predicate pushdown like parquet.
Prefer columnar for anything hot — these adapters exist for ingest and
interchange, and ``convert_table`` is the one-pass migration into
parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SUPPORTED_FORMATS = ("parquet", "orc", "csv", "json", "xml")

#: ISO-8601 with microseconds — the only CSV/JSON timestamp format that
#: survives a write→read roundtrip bit-exactly
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _check_fmt(fmt: str) -> None:
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {SUPPORTED_FORMATS}")


def write_table_as(
    df: DataFrame,
    path: str,
    fmt: str,
    compression: str | None = None,
) -> None:
    """Write ``df`` at ``path`` in ``fmt`` with roundtrip-safe options
    (CSV: header + escaped quotes + microsecond timestamps; JSON/XML:
    microsecond timestamps; XML: fixed row/root tags so the reader
    needs no guessing; ORC/parquet: native).

    ``compression`` ("gzip"/"bzip2"/... per Spark's codec names) wraps
    CSV/JSON part files — the ``.jsonl.gz`` shape text corpora actually
    ship in.  Note gzip parts are NOT splittable: one part = one task
    on read, so writers should size partitions accordingly (bzip2 is
    splittable at ~10x the CPU).
    """
    _check_fmt(fmt)
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w = w.options(header=True, escape='"', timestampFormat=_TS_FMT)
    elif fmt == "json":
        w = w.option("timestampFormat", _TS_FMT)
    elif fmt == "xml":
        w = w.format("xml").options(
            rootTag="rows", rowTag="row", timestampFormat=_TS_FMT
        )
    if compression is not None and fmt in ("csv", "json", "xml"):
        w = w.option("compression", compression)
    if fmt == "xml":
        w.save(path)
    else:
        getattr(w, fmt)(path)


def read_table_as(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: StructType | None = None,
    name: str | None = None,
) -> DataFrame:
    """Read a table written by :func:`write_table_as` (or any external
    producer following the same conventions).

    ``schema`` is REQUIRED for CSV/JSON/XML (no inference — see module
    docstring); optional for ORC/parquet where the footer is
    authoritative.  ``name="events"`` applies the same ``ts``
    normalization as the parquet fixture loader.
    """
    _check_fmt(fmt)
    if fmt in ("csv", "json", "xml") and schema is None:
        raise ValueError(f"{fmt} reads require an explicit schema (no inference)")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.options(header=True, escape='"', timestampFormat=_TS_FMT)
    elif fmt == "json":
        r = r.option("timestampFormat", _TS_FMT)
    if fmt == "xml":
        df = r.format("xml").options(rowTag="row", timestampFormat=_TS_FMT).load(path)
    else:
        df = getattr(r, fmt)(path)
    if name == "events":
        from fdf_spark.sources.tables import normalize_events_ts, set_events_session_confs

        set_events_session_confs(spark)
        df = normalize_events_ts(df)
    return df


def convert_table(
    spark: SparkSession,
    src_path: str,
    src_fmt: str,
    dst_path: str,
    dst_fmt: str = "parquet",
    schema: StructType | None = None,
) -> int:
    """One-pass container migration (the ingest step of a lake):
    read ``src_fmt`` → write ``dst_fmt``; returns the row count from
    the WRITTEN table (read back, so the count proves the destination,
    not the source)."""
    df = read_table_as(spark, src_path, src_fmt, schema=schema)
    write_table_as(df, dst_path, dst_fmt)
    # schema-less destinations are re-read with the source's schema
    # (read_table_as would rightly refuse to infer)
    back_schema = df.schema if dst_fmt in ("csv", "json", "xml") else None
    return read_table_as(spark, dst_path, dst_fmt, schema=back_schema).count()
