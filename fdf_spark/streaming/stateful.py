"""Custom stateful streaming operators (SURVEY §2.9 ST1/ST3 extension).

The reference's only stateful consumer is the blocking ``wfevent`` loop
(factory.py:307-320): wait for a named event, decode the shot payload,
hand it to the caller. At scale that pattern becomes *per-key state
machines over an unbounded stream*. Spark's primitive for that is
``applyInPandasWithState`` (Arrow-batched grouped state with event- or
processing-time timeouts) — the one streaming surface that tumbling/
sliding/session windows cannot express.

Two operators:

- ``shot_monitor``: per event-name state machine — counts arrivals and
  carries the last decoded payload, emitting one row per update (the
  distributed generalization of ``wfevent``'s single-consumer loop).
- ``running_dedup``: streaming exact-dedup — remembers content hashes
  per key and emits only first-seen rows; the streaming twin of the
  batch ``exact_dedup`` (N1) for continuous ingest pipelines.

State size is bounded by key cardinality (monitor) / hash retention
(dedup).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fdf_spark.sources.tables import local_df

MONITOR_STATE_SCHEMA = "n_events long, last_shot long"
MONITOR_OUT_SCHEMA = "event_name string, n_events long, last_shot long"


def shot_monitor(events: DataFrame) -> DataFrame:
    """Per-event-name arrival monitor.

    Input schema: (event_name string, shot long). Emits
    (event_name, n_events, last_shot) on every update.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        n, last = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                last = int(pdf["shot"].iloc[-1])
        state.update((n, last))
        yield pd.DataFrame([{"event_name": name, "n_events": n, "last_shot": last}])

    return events.groupBy("event_name").applyInPandasWithState(
        update,
        outputStructType=MONITOR_OUT_SCHEMA,
        stateStructType=MONITOR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_OUT_SCHEMA = "bucket int, doc_id long, content_hash string"


def running_dedup(docs: DataFrame) -> DataFrame:
    """Streaming first-seen filter: emits a row only the first time a
    content hash appears. Input: (bucket int, doc_id long, content_hash
    string) where ``bucket`` (a hash of the content modulo a bucket
    count the caller picks) bounds per-key state and spreads it across
    the state store.

    At 100 TB the retained-hash set is the real design decision: state
    is sharded by bucket (this operator), stored in RocksDB
    (``get_spark(extra_conf=session.ROCKSDB_STATE_CONF)``
    — this operator's state grows with corpus key cardinality, past any
    executor heap; disk-backed state is the production tier, see
    SCALE.md "Streaming"), and expired by retention policy; the emitted
    stream is the deduplicated corpus.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (bucket,) = key
        seen: list[str] = list(state.get[0]) if state.exists else []
        seen_set = set(seen)
        # vectorized first-seen filter: within each Arrow batch,
        # drop_duplicates(keep='first') preserves first-in-batch-order;
        # across batches the state set carries the horizon. No per-row
        # Python loop — throughput is pandas-hash-table speed.
        for pdf in pdfs:
            if not len(pdf):
                continue
            fresh = pdf[~pdf["content_hash"].isin(seen_set)].drop_duplicates(
                "content_hash", keep="first"
            )
            if not len(fresh):
                continue
            new_hashes = fresh["content_hash"].tolist()
            seen_set.update(new_hashes)
            seen.extend(new_hashes)
            out = fresh.loc[:, ["doc_id", "content_hash"]].copy()
            out.insert(0, "bucket", bucket)
            yield out
        state.update((seen,))

    return docs.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType="seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def watermark_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Built-in streaming dedup: first arrival per key within the
    watermark horizon, state expired automatically by the engine
    (``dropDuplicatesWithinWatermark``).

    The zero-custom-code complement to :func:`running_dedup`: use this
    when "seen once, ever" can relax to "seen once within the horizon"
    — the practical contract for continuous ingest, where true
    forever-dedup is the batch N1 pass over the landed corpus anyway.
    State is O(keys within watermark), bounded without any retention
    policy code.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_sketch_sink(
    tokens: DataFrame,
    path: str,
    depth: int = 4,
    width: int = 1024,
    checkpoint: str | None = None,
):
    """Continuous Count–Min sketching of a token stream (N20 × ST).

    Every micro-batch is sketched independently (``countmin_sketch`` —
    shuffle capped at depth·width cells) and folded into a running
    sketch with ``cm_merge``, committed as one atomic snapshot of a
    versioned table per batch. This is the production shape for
    hot-key / boilerplate monitoring over continuous ingest at 100 TB:

    - state is the sketch itself — fixed ``depth·width`` cells no
      matter how many distinct tokens the stream has carried;
    - mergeability makes the fold exact: the running sketch equals the
      batch sketch of everything ingested so far (tested);
    - the versioned commit gives atomic publish + time travel — the
      sketch AS OF any batch stays readable, and a torn write is
      impossible (manifest create-if-absent);
    - the fold is IDEMPOTENT under replay WITHIN a checkpoint lineage:
      the (stream id, batch id) pair rides in the commit's manifest
      meta, atomically with the sketch data, so an at-least-once
      re-delivery (crash between commit and checkpoint) is detected
      and skipped instead of double-counted — the fold is NOT
      idempotent by value (cell counts add), so this marker is what
      upgrades at-least-once delivery to exactly-once folding. The
      stream id is the checkpoint path (stable across restarts of the
      same lineage, where batch ids monotonically continue — the Delta
      (appId, batchId) txn pattern); WITHOUT a checkpoint every start
      is a NEW ingestion with a fresh id, because a fresh query
      restarts batch numbering at 0 and re-reads the source — skipping
      on the bare batch id there would silently drop never-folded data.

    Returns the StreamingQuery; read the current sketch with
    ``sources.versioned.read_version(spark, path)``.
    """
    import uuid

    stream_id = checkpoint if checkpoint else f"run-{uuid.uuid4().hex}"
    writer = tokens.writeStream.foreachBatch(
        make_sketch_fold(path, depth=depth, width=width, stream_id=stream_id)
    ).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def make_sketch_fold(
    path: str,
    depth: int = 4,
    width: int = 1024,
    stream_id: str = "run",
):
    """The foreachBatch fold behind :func:`stream_sketch_sink`,
    factored out so the replay guard is directly testable: calling the
    returned function twice with the same (stream_id, batch_id) folds
    once; a different stream_id is a new ingestion and folds again."""
    from fdf_spark.llm.sketches import cm_merge, countmin_sketch
    from fdf_spark.sources.versioned import commit_version, list_versions, read_version

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _replayed(path, stream_id, batch_id):
            return  # replayed batch of THIS lineage — already folded
        batch_sketch = countmin_sketch(batch_df, depth=depth, width=width)
        if list_versions(path):
            batch_sketch = cm_merge(read_version(spark, path), batch_sketch)
        # materialize before the overwrite-commit reads the prior version
        # (Arrow-backed local frame: coalesce(1) over a pickle-RDD
        # frame ran its partitions sequentially through Python workers)
        merged = local_df(
            spark, batch_sketch.collect(), "row int, bucket bigint, cnt bigint"
        ).coalesce(1)
        commit_version(
            merged, path, mode="overwrite", meta={"stream_id": stream_id, "batch_id": batch_id}
        )

    return _fold


def _replayed(path, stream_id: str, batch_id: int) -> bool:
    """The replay guard shared by every sketch/view fold: True iff the
    head's ``stream_batches`` high-water mark for ``stream_id`` (set by
    each fold commit's manifest meta and carried through every later
    commit, ``versioned._successor``) is at or past ``batch_id``."""
    from fdf_spark.sources.versioned import _read_manifest, list_versions

    versions = list_versions(path)
    if not versions:
        return False
    marks = _read_manifest(path, versions[-1]).get("stream_batches", {})
    return marks.get(stream_id, -1) >= batch_id


def make_hll_fold(path: str, col: str = "k", stream_id: str = "run"):
    """foreachBatch fold behind :func:`stream_hll_sink`: per-batch HLL
    register relation merged (register-wise MAX) into the landed
    sketch, one versioned snapshot per batch. Unlike the Count–Min
    fold, MAX-merge is idempotent BY VALUE — a replayed batch merges to
    the identical relation — so the (stream_id, batch_id) guard here
    only avoids a redundant commit; correctness never depended on it."""
    from fdf_spark.llm.sketches import hll_merge, hll_sketch
    from fdf_spark.sources.versioned import commit_version, list_versions, read_version

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _replayed(path, stream_id, batch_id):
            return
        sk = hll_sketch(batch_df, col)
        if list_versions(path):
            sk = hll_merge(read_version(spark, path), sk)
        merged = local_df(
            spark, sk.collect(), "register int, maxrank int"
        ).coalesce(1)
        commit_version(
            merged, path, mode="overwrite", meta={"stream_id": stream_id, "batch_id": batch_id}
        )

    return _fold


def stream_hll_sink(
    keyed: DataFrame,
    path: str,
    checkpoint: str | None = None,
):
    """Continuous distinct-count sketching (N5 × ST): the streaming
    tier of the HLL family. State is the ≤ 2^p-row register relation no
    matter how many distinct keys the stream has carried; the landed
    sketch AS OF any batch stays readable (versioned snapshots), and
    register-wise-MAX mergeability makes the fold exact: the running
    sketch equals the batch sketch of everything ingested (tested).
    Read with ``read_version`` + ``llm.sketches.hll_estimate``."""
    import uuid

    stream_id = checkpoint if checkpoint else f"run-{uuid.uuid4().hex}"
    writer = keyed.writeStream.foreachBatch(
        make_hll_fold(path, stream_id=stream_id)
    ).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def make_quantile_fold(
    path: str, col: str = "v", id_col: str = "rid", k: int = 1024, stream_id: str = "run"
):
    """foreachBatch fold behind :func:`stream_quantile_sink`: per-batch
    bottom-k hash sample merged (re-take bottom-k) into the landed
    sample. Like the HLL fold, the merge is idempotent BY VALUE (a
    replayed batch's rows hash identically and the k smallest survive
    unchanged) — the replay guard only skips a redundant commit."""
    from fdf_spark.llm.sketches import quantile_merge, quantile_sketch
    from fdf_spark.sources.versioned import commit_version, list_versions, read_version

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _replayed(path, stream_id, batch_id):
            return
        sk = quantile_sketch(batch_df, col, id_col, k=k)
        if list_versions(path):
            sk = quantile_merge(read_version(spark, path), sk, k=k)
        merged = local_df(spark, sk.collect(), "h bigint, v double").coalesce(1)
        commit_version(
            merged, path, mode="overwrite", meta={"stream_id": stream_id, "batch_id": batch_id}
        )

    return _fold


def stream_quantile_sink(
    rows: DataFrame,
    path: str,
    checkpoint: str | None = None,
):
    """Continuous quantile sketching (N5 × ST): the streaming tier of
    the bottom-k sample. State is ≤ k rows regardless of stream volume;
    exact mergeability makes the landed sample equal the batch sample
    of everything ingested (tested), so quantile estimates over a
    continuous stream carry the same rank-error bound as the batch
    sketch. Read with ``read_version`` + ``llm.sketches.quantile_estimate``."""
    import uuid

    stream_id = checkpoint if checkpoint else f"run-{uuid.uuid4().hex}"
    writer = rows.writeStream.foreachBatch(
        make_quantile_fold(path, stream_id=stream_id)
    ).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def make_view_fold(
    path: str,
    keys,
    measure: str,
    stream_id: str = "run",
):
    """foreachBatch fold behind :func:`stream_view_sink` (factored out
    so the replay guard is directly testable, as make_sketch_fold)."""
    from fdf_spark.operators.ivm import agg_view, incremental_refresh
    from fdf_spark.sources.versioned import commit_version, list_versions, read_version

    keys = list(keys)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _replayed(path, stream_id, batch_id):
            return  # replayed batch of THIS lineage — already folded
        if list_versions(path):
            view = read_version(spark, path)
        else:
            # empty view in the maintained shape (keys…, sum_acc, n_rows)
            view = agg_view(batch_df.limit(0), keys, measure)
        refreshed = incremental_refresh(view, batch_df, keys, measure)
        commit_version(
            refreshed, path, mode="overwrite", meta={"stream_id": stream_id, "batch_id": batch_id}
        )

    return _fold


def stream_view_sink(
    changes: DataFrame,
    path: str,
    keys,
    measure: str,
    checkpoint: str | None = None,
):
    """Streaming MATERIALIZED-VIEW maintenance (N23 × ST): a signed CDC
    stream (±1 ``sign``; update = delete+insert pair) keeps a per-key
    SUM/COUNT view current — one snapshot commit per micro-batch,
    never a rescan of any base table.

    The per-batch cost is ``O(|Δ|+|view|)`` (delta aggregates map-side
    to one row per touched key, then the full-outer merge with the
    |groups|-row view), and the DECIMAL accumulators survive parquet
    round-trips between batches, so the maintained view stays
    bit-identical to a from-scratch recompute over everything ingested
    (tested). Replay safety is the manifest-meta (stream_id, batch_id)
    guard of :func:`stream_sketch_sink` — the fold adds counts, so it
    is NOT idempotent by value, and the guard is what upgrades
    at-least-once delivery to exactly-once maintenance within a
    checkpoint lineage. This is the streaming tier of
    ``operators/ivm.py``; the batch tier's q122/q123 cover the same
    arithmetic against the DuckDB oracle.

    Returns the StreamingQuery; read the view with
    ``sources.versioned.read_version(spark, path)`` (+ ``finish_view``
    to render the decimal accumulator as a double).
    """
    import uuid

    stream_id = checkpoint if checkpoint else f"run-{uuid.uuid4().hex}"
    writer = changes.writeStream.foreachBatch(
        make_view_fold(path, keys, measure, stream_id=stream_id)
    ).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
