"""applyInPandasWithState operators: per-key state across micro-batches."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from fdf_spark.streaming.stateful import running_dedup, shot_monitor


def _run_batches(spark, src_dir, make_stream, batches, name, schema, output_mode="update"):
    """Write each batch as a separate file and drive the stream through
    all of them (maxFilesPerTrigger=1 → one micro-batch per file)."""
    os.makedirs(src_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src_dir)
        time.sleep(0.05)  # distinct mtimes keep batch order deterministic
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    )
    q = (
        make_stream(stream)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).collect()


def test_shot_monitor_accumulates_state(spark, tmp_path):
    rows = _run_batches(
        spark,
        str(tmp_path / "mon"),
        shot_monitor,
        [
            [("new_shot", 141000), ("new_shot", 141001), ("analysis_done", 7)],
            [("new_shot", 141002)],
        ],
        "monitor_out",
        "event_name string, shot long",
    )
    by_key = {}
    for r in rows:  # last update per key wins
        by_key[r["event_name"]] = (r["n_events"], r["last_shot"])
    assert by_key["new_shot"] == (3, 141002)  # state carried across batches
    assert by_key["analysis_done"] == (1, 7)


def test_running_dedup_emits_first_seen_only(spark, tmp_path):
    batches = [
        [(0, 1, "aaa"), (0, 2, "bbb"), (1, 3, "ccc")],
        [(0, 4, "aaa"), (1, 5, "ccc"), (1, 6, "ddd")],  # aaa/ccc are dups
    ]
    rows = _run_batches(
        spark,
        str(tmp_path / "dedup"),
        running_dedup,
        batches,
        "dedup_out",
        "bucket int, doc_id long, content_hash string",
        output_mode="append",
    )
    got = sorted((r["content_hash"], r["doc_id"]) for r in rows)
    assert got == [("aaa", 1), ("bbb", 2), ("ccc", 3), ("ddd", 6)]


def test_running_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The UNBOUNDED-state tier's production configuration actually
    runs: the same first-seen dedup through the RocksDB state store
    (session.ROCKSDB_STATE_CONF — disk-backed state, the 100 TB answer
    to running_dedup's ever-growing hash set; HDFSBacked keeps it
    on-heap). Same emitted rows, state survives across micro-batches
    through the provider. Conf is read at stream START, so setting it
    on the shared session scopes it to this stream; restored after."""
    from fdf_spark.session import ROCKSDB_STATE_CONF

    saved = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF}
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        batches = [
            [(0, 1, "aaa"), (0, 2, "bbb"), (1, 3, "ccc")],
            [(0, 4, "aaa"), (1, 5, "ccc"), (1, 6, "ddd")],
        ]
        rows = _run_batches(
            spark,
            str(tmp_path / "dedup_rocks"),
            running_dedup,
            batches,
            "dedup_rocks_out",
            "bucket int, doc_id long, content_hash string",
            output_mode="append",
        )
        got = sorted((r["content_hash"], r["doc_id"]) for r in rows)
        assert got == [("aaa", 1), ("bbb", 2), ("ccc", 3), ("ddd", 6)]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_watermark_dedup_matches_batch_distinct(spark):
    """dropDuplicatesWithinWatermark over the full (single-batch) fixture
    keeps exactly one row per key — key set equals batch DISTINCT."""
    from fdf_spark.sources.tables import load_table
    from fdf_spark.streaming.events import event_stream, run_stream_to_batch
    from fdf_spark.streaming.stateful import watermark_dedup
    from tests.conftest import SMOKE_DIR

    keys = ["user_id", "event_type"]
    stream = event_stream(spark, os.path.join(SMOKE_DIR, "events.parquet"))
    out = run_stream_to_batch(
        spark, watermark_dedup(stream, keys), output_mode="append"
    )
    got = {(r["user_id"], r["event_type"]) for r in out.select(*keys).collect()}
    want = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, SMOKE_DIR, "events").select(*keys).distinct().collect()
    }
    assert got == want
    assert out.count() == len(want)  # exactly one survivor per key


def test_watermark_dedup_state_stays_bounded(spark, tmp_path):
    """The 100 TB streaming risk, asserted mechanically: over a stream
    spanning many watermark horizons (6 batches, 60 s apart, 10 s
    watermark, every key unique), dropDuplicatesWithinWatermark's state
    store must hold only the keys inside the horizon — NOT every key
    ever seen. Fails loudly if eviction regresses to unbounded growth."""
    import datetime

    from fdf_spark.streaming.stateful import watermark_dedup

    src = str(tmp_path / "wm_src")
    os.makedirs(src, exist_ok=True)
    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    n_batches, per_batch = 6, 50
    schema = "user_id long, ts timestamp"
    for i in range(n_batches):
        rows = [
            (i * per_batch + j, base + datetime.timedelta(seconds=60 * i))
            for j in range(per_batch)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        watermark_dedup(stream, ["user_id"], ts_col="ts", watermark="10 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_bounded")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()
    total_keys = n_batches * per_batch
    assert spark.table("wm_bounded").count() == total_keys  # all unique → all emitted
    # horizon holds at most the last ~2 batches of keys (watermark lags
    # one batch); anywhere near total_keys means eviction is broken
    assert state_rows <= 2 * per_batch + 10, (state_rows, total_keys)
    assert state_rows < total_keys / 2


def test_stream_sketch_sink_matches_batch_sketch(spark, tmp_path):
    """Streaming CM sketch: after 3 micro-batches, the running sketch
    equals the one-shot batch sketch of every token ingested — the
    mergeability guarantee under continuous folding — and each batch
    left a readable snapshot (time travel over sketch history)."""
    from fdf_spark.llm.sketches import countmin_sketch
    from fdf_spark.sources.versioned import list_versions, read_version
    from fdf_spark.streaming.stateful import stream_sketch_sink

    src = str(tmp_path / "src")
    sketch_path = str(tmp_path / "sketch")
    os.makedirs(src)
    batches = [
        [("the",), ("cat",), ("the",)],
        [("cat",), ("sat",), ("on",), ("the",)],
        [("mat",), ("the",), ("end",)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "token string").coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("token string").option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = stream_sketch_sink(stream, sketch_path, depth=4, width=16)
    q.processAllAvailable()
    q.stop()
    assert list_versions(sketch_path) == [1, 2, 3]
    got = {
        (r.row, r.bucket): r.cnt for r in read_version(spark, sketch_path).collect()
    }
    all_tokens = spark.createDataFrame([t for b in batches for t in b], "token string")
    want = {
        (r.row, r.bucket): r.cnt
        for r in countmin_sketch(all_tokens, width=16).collect()
    }
    assert got == want
    # intermediate snapshot = sketch of the first batch alone
    v1 = {(r.row, r.bucket): r.cnt for r in read_version(spark, sketch_path, 1).collect()}
    b1 = {
        (r.row, r.bucket): r.cnt
        for r in countmin_sketch(
            spark.createDataFrame(batches[0], "token string"), width=16
        ).collect()
    }
    assert v1 == b1


def test_sketch_fold_replay_is_idempotent_per_lineage(spark, tmp_path):
    """At-least-once replay WITHIN a checkpoint lineage: re-delivering
    an already-folded (stream_id, batch_id) is skipped (the pair rides
    in the manifest meta, atomic with the commit), not double-counted.
    A DIFFERENT stream id is a new ingestion — its batch 0 must fold
    even though a batch 0 was folded before (a fresh query restarts
    batch numbering; skipping on the bare id would drop its data).
    The guard holds however many commits land in between: another
    lineage's fold or a metadata-only commit must not reopen a batch
    that was already folded."""
    from fdf_spark.llm.sketches import countmin_sketch
    from fdf_spark.sources.versioned import list_versions, read_version, set_properties
    from fdf_spark.streaming.stateful import make_sketch_fold

    sketch_path = str(tmp_path / "sketch")
    rows = [("the",), ("cat",), ("the",)]
    batch = spark.createDataFrame(rows, "token string")
    fold = make_sketch_fold(sketch_path, depth=4, width=16, stream_id="ckpt-A")
    fold(batch, 0)
    fold(batch, 0)  # crash-replay of the same lineage: skipped
    assert list_versions(sketch_path) == [1]
    got = {(r.row, r.bucket): r.cnt for r in read_version(spark, sketch_path).collect()}
    want = {(r.row, r.bucket): r.cnt for r in countmin_sketch(batch, width=16).collect()}
    assert got == want
    fold2 = make_sketch_fold(sketch_path, depth=4, width=16, stream_id="ckpt-B")
    fold2(batch, 0)  # new lineage, batch ids restart — MUST fold
    assert list_versions(sketch_path) == [1, 2]
    doubled = {
        (r.row, r.bucket): r.cnt for r in read_version(spark, sketch_path).collect()
    }
    assert doubled == {k: 2 * v for k, v in want.items()}
    fold(batch, 0)  # lineage A replays after lineage B's commit: skipped
    assert list_versions(sketch_path) == [1, 2]
    after = {(r.row, r.bucket): r.cnt for r in read_version(spark, sketch_path).collect()}
    assert after == doubled

    # a metadata-only commit between a fold and its replay
    p2 = str(tmp_path / "sketch2")
    fold_c = make_sketch_fold(p2, depth=4, width=16, stream_id="ckpt-C")
    fold_c(batch, 0)
    set_properties(p2, {"owner": "x"})
    fold_c(batch, 0)  # replay: skipped
    once = {(r.row, r.bucket): r.cnt for r in read_version(spark, p2).collect()}
    assert once == want


def test_hll_fold_running_sketch_equals_whole_stream(spark, tmp_path):
    """Streaming HLL: after 3 micro-batches the landed register relation
    equals the batch sketch of everything ingested (MAX-mergeability),
    and a same-lineage replay is a no-op BY VALUE as well as by guard."""
    from fdf_spark.llm.sketches import hll_estimate, hll_sketch
    from fdf_spark.sources.versioned import list_versions, read_version
    from fdf_spark.streaming.stateful import make_hll_fold

    path = str(tmp_path / "hll")
    batches = [
        [(f"k{i}",) for i in range(0, 400)],
        [(f"k{i}",) for i in range(200, 700)],   # overlaps batch 0
        [(f"k{i}",) for i in range(650, 1000)],
    ]
    fold = make_hll_fold(path, col="k", stream_id="ckpt-A")
    for bid, rows in enumerate(batches):
        fold(spark.createDataFrame(rows, "k string"), bid)
    fold(spark.createDataFrame(batches[2], "k string"), 2)  # replay: skipped
    assert list_versions(path) == [1, 2, 3]
    landed = {(r.register, r.maxrank) for r in read_version(spark, path).collect()}
    everything = spark.createDataFrame(
        [r for b in batches for r in b], "k string"
    )
    want = {(r.register, r.maxrank) for r in hll_sketch(everything, "k").collect()}
    assert landed == want
    est = hll_estimate(read_version(spark, path)).collect()[0][0]
    assert abs(est - 1000) / 1000 < 0.05  # 1000 true distinct keys


def test_quantile_fold_running_sample_equals_whole_stream(spark, tmp_path):
    """Streaming bottom-k sample: the landed sample after 3 batches is
    bit-equal to the batch sketch of everything ingested, so stream
    quantile estimates inherit the batch rank-error bound."""
    from fdf_spark.llm.sketches import quantile_estimate, quantile_sketch
    from fdf_spark.sources.versioned import list_versions, read_version
    from fdf_spark.streaming.stateful import make_quantile_fold

    path = str(tmp_path / "qs")
    batches = [
        [(i, float((i * 37) % 1000)) for i in range(0, 3000)],
        [(i, float((i * 37) % 1000)) for i in range(3000, 6000)],
        [(i, float((i * 37) % 1000)) for i in range(6000, 9000)],
    ]
    fold = make_quantile_fold(path, col="v", id_col="rid", k=512, stream_id="ckpt-A")
    for bid, rows in enumerate(batches):
        fold(spark.createDataFrame(rows, "rid long, v double"), bid)
    assert list_versions(path) == [1, 2, 3]
    landed = sorted(map(tuple, read_version(spark, path).collect()))
    everything = spark.createDataFrame(
        [r for b in batches for r in b], "rid long, v double"
    )
    want = sorted(map(tuple, quantile_sketch(everything, "v", "rid", k=512).collect()))
    assert landed == want
    med = {r.q: r.est for r in quantile_estimate(read_version(spark, path), [0.5]).collect()}
    assert abs(med[0.5] - 500.0) < 80  # ~uniform on [0,1000)


def test_stream_view_sink_maintains_view(spark, tmp_path):
    """Streaming materialized view: after 3 signed CDC micro-batches
    the maintained SUM/COUNT view equals a from-scratch aggregate over
    the net rows (deletes retract exactly, decimal accumulators survive
    the parquet round-trips); every batch leaves a readable snapshot;
    same-lineage replay of a folded batch is skipped."""
    from fdf_spark.operators.ivm import finish_view
    from fdf_spark.sources.versioned import list_versions, read_version
    from fdf_spark.streaming.stateful import make_view_fold, stream_view_sink

    src = str(tmp_path / "src")
    vpath = str(tmp_path / "view")
    os.makedirs(src)
    schema = "k string, v double, sign int"
    batches = [
        [("a", 10.5, 1), ("b", 2.25, 1), ("a", 1.0, 1)],
        [("a", 10.5, -1), ("c", 7.0, 1)],          # delete one a-row
        [("b", 2.25, -1), ("b", 4.0, 1), ("d", 0.5, 1)],  # update b
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = stream_view_sink(stream, vpath, ["k"], "v")
    q.processAllAvailable()
    q.stop()
    assert list_versions(vpath) == [1, 2, 3]
    got = {
        r.k: (r.sum_val, r.n_rows)
        for r in finish_view(read_version(spark, vpath), ["k"]).collect()
    }
    assert got == {"a": (1.0, 1), "b": (4.0, 1), "c": (7.0, 1), "d": (0.5, 1)}
    # snapshot after batch 1 = view of batch 1 alone
    v1 = {
        r.k: (r.sum_val, r.n_rows)
        for r in finish_view(read_version(spark, vpath, 1), ["k"]).collect()
    }
    assert v1 == {"a": (11.5, 2), "b": (2.25, 1)}
    # replay guard: re-folding the last batch id of the same lineage no-ops
    fold = make_view_fold(vpath, ["k"], "v", stream_id="x")
    b0 = spark.createDataFrame(batches[0], schema)
    fold(b0, 7)
    assert list_versions(vpath) == [1, 2, 3, 4]
    fold(b0, 7)  # replay — skipped
    assert list_versions(vpath) == [1, 2, 3, 4]


def test_left_outer_join_state_stays_bounded(spark, tmp_path):
    """State boundedness for the r8 outer stream-stream join, asserted
    mechanically like the dedup twin above: across 6 watermark horizons
    of all-unmatched clicks (every user unique, no purchases at all),
    the join state must hold only the in-horizon rows — an eviction
    regression would retain every click forever (and, for the OUTER
    join, also never emit its null rows, so both halves of the expiry
    contract are watched here)."""
    import datetime

    from fdf_spark.streaming.events import stream_stream_join

    src = str(tmp_path / "loj_src")
    os.makedirs(src, exist_ok=True)
    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    n_batches, per_batch = 6, 40
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    for i in range(n_batches):
        rows = [
            (
                i * per_batch + j,
                base + datetime.timedelta(minutes=90 * i),
                i * per_batch + j,
                "click",
                1.0,
                "{}",
            )
            for j in range(per_batch)
        ]
        # one never-matching purchase per batch: WITHOUT it the purchase
        # branch's watermark stays at -inf and the global (min-policy)
        # watermark never advances — no click would EVER expire. The
        # idle-branch stall is itself load-bearing streaming semantics.
        rows.append(
            (10_000 + i, base + datetime.timedelta(minutes=90 * i), -1, "purchase", 9.0, "{}")
        )
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        stream_stream_join(stream, how="left_outer")  # 30 min interval, 10 min delay
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("loj_bounded")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        state_rows = sum(op["numRowsTotal"] for op in q.lastProgress["stateOperators"])
    finally:
        q.stop()
    # every click but the last in-horizon batches expired -> null rows
    emitted = spark.table("loj_bounded").count()
    assert emitted >= (n_batches - 2) * per_batch
    # state holds ~the final horizon, never the full history
    assert state_rows <= 2 * per_batch + 10, (state_rows, n_batches * per_batch)
