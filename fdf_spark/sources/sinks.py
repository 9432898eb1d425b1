"""Table sinks: the engine's physical-layout writer (SURVEY §4).

The reference never writes data (it is read-only over MDSplus/SQL
Server), but an engine that replaces it must persist derived tables.
This writer encodes the layout contract the scan side assumes:

- **partition by ``shot``** (or any coarse key): partition pruning
  turns per-shot access (the reference's (tree, shot) connection
  pattern, factory.py:149-167) into directory pruning before file
  listing;
- **sort by ``time`` within files**: parquet min/max page stats then
  give time-range pruning — the moral equivalent of server-side
  ``dim_of`` windows;
- parquet + snappy defaults; at 100 TB the same call with
  ``bucket_by=(key, n)`` + ``table=`` co-locates join keys so every
  repeated fact-fact join on that key skips its shuffle entirely
  (``saveAsTable`` through the session catalog; see
  :mod:`fdf_spark.operators.bucketed` and tests/test_bucketing.py
  for the zero-exchange SortMergeJoin this buys).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("shot",),
    sort_by: Sequence[str] = ("time",),
    mode: str = "overwrite",
    options: dict | None = None,
    bucket_by: tuple[str | Sequence[str], int] | None = None,
    table: str | None = None,
) -> None:
    """Write a long-format signal/fact table with the engine layout.

    ``bucket_by=(key_cols, n_buckets)`` switches to a BUCKETED layout:
    rows are hash-clustered into ``n_buckets`` files per partition on
    the key and sorted by it within each file, and the table is
    registered in the session catalog under ``table`` (required —
    bucketing metadata lives in the catalog, the files under ``path``).
    Scans of two tables bucketed on their join key with the same bucket
    count then satisfy the join's distribution requirement AS READ: the
    SortMergeJoin compiles with ZERO Exchange — the repeated fact-fact
    join (the reference's per-(tree, shot) access pattern,
    factory.py:149-167) stops paying its shuffle forever after one
    write. (A LOCAL per-side Sort remains: Spark >= 3.0 scans no
    longer report bucket sortedness — see operators/bucketed.py; the
    network half is what the layout deletes.) At 100 TB that shuffle
    is the single largest recurring cost a layout choice can delete.
    """
    if bucket_by is not None:
        key_cols, n_buckets = bucket_by
        if isinstance(key_cols, str):
            key_cols = (key_cols,)
        if not table:
            raise ValueError(
                "bucketed writes need table= — bucket metadata lives in the "
                "session catalog (files still land under path=)"
            )
        missing = [c for c in key_cols if c not in df.columns]
        if missing:
            raise ValueError(f"bucket_by columns not in dataframe: {missing}")
        writer = df.write.mode(mode).format("parquet")
        if options:
            writer = writer.options(**options)
        part_cols = [c for c in partition_by if c in df.columns]
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        # sort buckets by the join key first (what lets the SMJ skip its
        # Sort too), then any caller extras (e.g. time for range pruning)
        extras = [c for c in sort_by if c in df.columns and c not in key_cols]
        writer = writer.bucketBy(n_buckets, *key_cols).sortBy(*key_cols, *extras)
        writer.option("path", path).saveAsTable(table)
        return
    out = df
    if sort_by:
        cols = [c for c in sort_by if c in df.columns]
        if cols:
            out = out.sortWithinPartitions(*[c for c in partition_by if c in df.columns], *cols)
    writer = out.write.mode(mode).format("parquet")
    if options:
        writer = writer.options(**options)
    part_cols = [c for c in partition_by if c in df.columns]
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.save(path)


def compact_table(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: rewrite a ``shot``-partitioned table so
    each partition holds ~``target_bytes`` files, preserving the layout
    contract (hive partitioning + within-file ``time`` sort).

    Streaming sinks and incremental appends degrade a table into
    thousands of KB-sized files per partition; at 100 TB that is the
    classic listing/scan killer (every file costs an open + a footer
    read + a task). The rewrite reads the table once, coalesces to
    ``ceil(partition_bytes / target_bytes)`` files via a repartition on
    the partition key (cluster-wide, not a driver loop), restores the
    within-file sort, and atomically swaps directories. Returns
    {files_before, files_after, bytes}.

    On real object storage this is the manual form of what table
    formats automate; the layout contract (partition dirs + sorted
    files + page stats) is identical either way, so the scan-side
    pruning tests (test_sinks.py) apply unchanged to compacted output.
    """
    import math
    import os
    import shutil

    def _walk(p):
        out = []
        for root, _dirs, files in os.walk(p):
            out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
        return out

    before = _walk(path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    df = spark.read.parquet(path)
    part_cols = ["shot"] if "shot" in df.columns else []
    # bytes/row from the listing + parquet footer row counts (count() on
    # a raw parquet scan is metadata-only) → maxRecordsPerFile, the
    # writer's deterministic sequential splitter: each partition dir
    # gets ceil(dir_rows / rows_per_file) files, so dirs below the
    # target collapse to ONE file while a skewed giant partition still
    # splits — no salt column, no hash-collision dependence, and the
    # within-file sort survives because splits are sequential
    n_rows = df.count()
    bytes_per_row = total_bytes / max(n_rows, 1)
    rows_per_file = max(1, int(target_bytes / max(bytes_per_row, 1e-9)))
    out = df.repartition(*part_cols) if part_cols else df.repartition(
        max(1, math.ceil(total_bytes / target_bytes))
    )
    tmp = path.rstrip("/") + ".__compact_tmp__"
    write_table(out, tmp, options={"maxRecordsPerFile": str(rows_per_file)})
    old = path.rstrip("/") + ".__compact_old__"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(before),
        "files_after": len(_walk(path)),
        "bytes": total_bytes,
    }
