"""Versioned tables (sources/versioned.py, SURVEY §2.11 N17): time
travel, snapshot isolation, atomic publish, vacuum, merge-as-commit."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fdf_spark.sources.versioned import (
    commit_version,
    list_versions,
    merge_versioned,
    read_version,
    vacuum,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))


def test_optimize_binpack_new_snapshot_identical_rows(spark, tmp_path):
    from fdf_spark.sources.versioned import diff_versions, optimize

    p = str(tmp_path / "t")
    # 6 tiny appends x 4 files each -> 24 small files
    for i in range(6):
        commit_version(_df(spark, i * 10, (i + 1) * 10).repartition(4), p)
    parent = list_versions(p)[-1]
    before = sorted(map(tuple, read_version(spark, p).collect()))
    res = optimize(spark, p)
    assert res["version"] == parent + 1
    assert res["files_after"] < res["files_before"] == 24
    # the optimized snapshot is a logical no-op...
    assert sorted(map(tuple, read_version(spark, p).collect())) == before
    assert diff_versions(spark, p, parent, res["version"]).count() == 0
    # ...and the pinned parent snapshot still reads (copy-on-write)
    assert sorted(map(tuple, read_version(spark, p, parent).collect())) == before
    # vacuum reclaims the replaced small files; head unaffected
    removed = vacuum(p, keep=1, orphan_grace_s=0.0)
    assert len(removed) >= 24 - res["files_after"]
    assert sorted(map(tuple, read_version(spark, p).collect())) == before
    # steady state: a second optimize finds nothing to pack, no new version
    res2 = optimize(spark, p)
    assert res2["version"] == res["version"] and res2["rewritten"] == 0


def test_optimize_zorder_tightens_manifest_pruning(spark, tmp_path):
    from fdf_spark.sources.versioned import _read_manifest, diff_versions, optimize

    p = str(tmp_path / "t")
    # every input file spans nearly the FULL x and y ranges (round-robin
    # repartition), so manifest pruning on x can skip nothing
    base = spark.range(0, 4000).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
        F.col("id").alias("payload"),
    )
    commit_version(base.repartition(8), p)
    parent = list_versions(p)[-1]

    def overlapping(v, col, lo, hi):
        m = _read_manifest(p, v)
        n = 0
        for f in m["files"]:
            st = m["stats"].get(f, {}).get(col)
            if st is None or not (st[1] < lo or st[0] > hi):
                n += 1
        return len(m["files"]), n

    total_b, hit_b = overlapping(parent, "x", 10, 12)
    assert hit_b == total_b  # un-clustered: every file overlaps
    res = optimize(spark, p, zorder=["x", "y"], target_bytes=8 * 1024)
    total_a, hit_a = overlapping(res["version"], "x", 10, 12)
    assert total_a >= 4  # actually split into multiple z-ordered files
    assert hit_a < total_a  # pruning now skips whole files
    # and the y dimension tightened too (z-order, not single-column sort)
    _, hit_y = overlapping(res["version"], "y", 5, 6)
    assert hit_y < total_a
    # logical no-op + identical reads through the pruned path
    assert diff_versions(spark, p, parent, res["version"]).count() == 0
    want = sorted(
        r.payload for r in base.filter(F.col("x").between(10, 12)).collect()
    )
    got = read_version(spark, p, prune=("x", 10, 12)).filter(
        F.col("x").between(10, 12)
    )
    assert sorted(r.payload for r in got.collect()) == want


def test_optimize_zorder_three_columns(spark, tmp_path):
    """3-dim Z-ORDER (morton_key_n): every clustered dimension's
    manifest stats tighten, rows identical — the k-dim generalization
    of the 2-column path."""
    from fdf_spark.sources.versioned import _read_manifest, diff_versions, optimize

    p = str(tmp_path / "t")
    base = spark.range(0, 8000).select(
        (F.col("id") % 20).alias("x"),
        ((F.col("id") / 20) % 20).cast("bigint").alias("y"),
        (F.col("id") / 400).cast("bigint").alias("z"),
        F.col("id").alias("payload"),
    )
    commit_version(base.repartition(8), p)
    parent = list_versions(p)[-1]
    # small target → ≥8 files, so the Morton split reaches every
    # dimension's top bit (4 files split only the two highest
    # interleaved bits and the third dim can't tighten yet)
    res = optimize(spark, p, zorder=["x", "y", "z"], target_bytes=6 * 1024)
    assert diff_versions(spark, p, parent, res["version"]).count() == 0
    m = _read_manifest(p, res["version"])

    def hits(col, lo, hi):
        n = 0
        for f in m["files"]:
            st = m["stats"].get(f, {}).get(col)
            if st is None or not (st[1] < lo or st[0] > hi):
                n += 1
        return n

    total = len(m["files"])
    assert total >= 8
    for col, lo, hi in (("x", 3, 4), ("y", 3, 4), ("z", 3, 4)):
        assert hits(col, lo, hi) < total, col
    with pytest.raises(ValueError, match="one to four"):
        optimize(spark, p, zorder=["x", "y", "z", "payload", "x"])


def test_time_travel_and_modes(spark, tmp_path):
    p = str(tmp_path / "t")
    assert commit_version(_df(spark, 0, 10), p) == 1
    assert commit_version(_df(spark, 10, 15), p, mode="append") == 2
    assert commit_version(_df(spark, 100, 103), p, mode="overwrite") == 3
    assert list_versions(p) == [1, 2, 3]
    assert read_version(spark, p, 1).count() == 10
    assert read_version(spark, p, 2).count() == 15
    assert read_version(spark, p).count() == 3  # latest = overwrite
    assert {r.k for r in read_version(spark, p, 3).collect()} == {100, 101, 102}


def test_snapshot_isolation_across_commits(spark, tmp_path):
    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    pinned = read_version(spark, p, 1)  # reader pinned BEFORE next commit
    commit_version(_df(spark, 0, 1000), p, mode="overwrite")
    assert pinned.count() == 10  # unaffected by the overwrite
    assert read_version(spark, p).count() == 1000


def test_staged_files_invisible_without_manifest(spark, tmp_path):
    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 5), p)
    # simulate a crashed writer: data staged, manifest never published
    _df(spark, 0, 100).write.parquet(os.path.join(p, "data", "c-orphan"))
    assert read_version(spark, p).count() == 5


def test_vacuum_keeps_referenced_files(spark, tmp_path):
    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    commit_version(_df(spark, 10, 20), p, mode="append")  # v2 references v1's files
    commit_version(_df(spark, 50, 55), p, mode="overwrite")
    removed = vacuum(p, keep=2)  # drop v1; its files survive via v2
    assert removed == []
    assert list_versions(p) == [2, 3]
    assert read_version(spark, p, 2).count() == 20
    removed = vacuum(p, keep=1)  # drop v2; v1+v2 files now unreferenced
    assert removed and read_version(spark, p, 3).count() == 5
    with pytest.raises(FileNotFoundError):
        read_version(spark, p, 2)


def test_merge_versioned_is_cow(spark, tmp_path):
    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    changes = spark.createDataFrame(
        [Row(k=3, v=-1, deleted=False), Row(k=7, v=None, deleted=True), Row(k=99, v=99, deleted=False)],
        "k bigint, v bigint, deleted boolean",
    )
    v = merge_versioned(spark, p, changes, ["k"], update_cols=["v"], delete_flag="deleted")
    assert v == 2
    got = {r.k: r.v for r in read_version(spark, p).collect()}
    assert got[3] == -1 and 7 not in got and got[99] == 99 and got[0] == 0
    # history intact
    assert read_version(spark, p, 1).count() == 10


def test_stream_merge_sink(spark, tmp_path):
    import time as _time

    from fdf_spark.sources.versioned import stream_merge_sink

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 20), p)  # v1 base
    src = str(tmp_path / "src")
    # two change files = two micro-batches (disjoint keys, so final
    # state is order-independent)
    b1 = spark.createDataFrame([Row(k=1, v=-1), Row(k=100, v=100)], "k bigint, v bigint")
    b2 = spark.createDataFrame([Row(k=2, v=-2), Row(k=200, v=200)], "k bigint, v bigint")
    b1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # distinct mtimes -> deterministic batch split
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k bigint, v bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_merge_sink(stream, p, ["k"], update_cols=["v"])
    q.processAllAvailable()
    q.stop()
    assert list_versions(p) == [1, 2, 3]  # one commit per micro-batch
    got = {r.k: r.v for r in read_version(spark, p).collect()}
    assert got[1] == -1 and got[2] == -2 and got[100] == 100 and got[200] == 200
    assert got[5] == 10  # untouched base row intact
    assert len(got) == 22
    # every intermediate snapshot still readable (time travel)
    assert read_version(spark, p, 1).count() == 20


def test_schema_evolution_on_append(spark, tmp_path):
    # a later commit may add columns; snapshot reads resolve the union
    # schema (mergeSchema) with NULLs for files that predate the column
    from fdf_spark.sources.versioned import read_version as rv

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 3), p)
    wide = _df(spark, 10, 13).withColumn("extra", F.lit("x"))
    commit_version(wide, p, mode="append")
    got = rv(spark, p)
    assert "extra" in got.columns
    rows = {r.k: r.extra for r in got.collect()}
    assert rows[10] == "x" and rows[0] is None
    # old snapshot keeps the old schema
    assert "extra" not in rv(spark, p, 1).columns


def test_diff_versions_append_and_merge(spark, tmp_path):
    """diff_versions: append-mode diff reads ONLY the added files (the
    parent's files are shared, so old_rows is empty and every row is an
    insert); a CoW merge diff surfaces updates as delete+insert pairs
    and carried-over rows cancel out of the exceptAll."""
    from fdf_spark.sources.versioned import _read_manifest, diff_versions, merge_versioned

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)                 # v1: k 0..9
    commit_version(_df(spark, 10, 13), p, mode="append")  # v2: += k 10..12
    # file-level pruning precondition: v1 files ⊂ v2 files
    f1 = set(_read_manifest(p, 1)["files"])
    f2 = set(_read_manifest(p, 2)["files"])
    assert f1 < f2
    d12 = diff_versions(spark, p, 1, 2)
    assert {(r.k, r.change) for r in d12.collect()} == {(10, "insert"), (11, "insert"), (12, "insert")}

    # CoW merge: update k=3 (v 6→99), delete k=7, insert k=100
    chg = spark.createDataFrame(
        [Row(k=3, v=99, deleted=False), Row(k=7, v=0, deleted=True), Row(k=100, v=200, deleted=False)]
    )
    merge_versioned(spark, p, chg, ["k"], update_cols=["v"], delete_flag="deleted")  # v3
    d23 = {(r.k, r.v, r.change) for r in diff_versions(spark, p, 2, 3).collect()}
    assert d23 == {
        (3, 6, "delete"), (3, 99, "insert"),   # update = pair
        (7, 14, "delete"),
        (100, 200, "insert"),
    }


def test_manifest_stats_and_pruned_read(spark, tmp_path):
    """Manifest-level metadata pruning: commits record per-file column
    [min,max] from footers only; a pruned read hands Spark ONLY the
    overlapping files (verified via inputFiles) yet returns a superset
    of the exact selection; append commits inherit parent stats."""
    from fdf_spark.sources.versioned import _read_manifest, read_version

    p = str(tmp_path / "t")
    # three commits with disjoint key ranges → three file groups
    commit_version(_df(spark, 0, 100).repartition(1), p)
    commit_version(_df(spark, 100, 200).repartition(1), p, mode="append")
    commit_version(_df(spark, 200, 300).repartition(1), p, mode="append")
    m = _read_manifest(p, 3)
    assert len(m["files"]) == 3
    for f in m["files"]:
        assert "k" in m["stats"][f] and "v" in m["stats"][f]
    # prune to k in [120, 180] → only the middle file is read
    pruned = read_version(spark, p, prune=("k", 120, 180))
    assert len(pruned.inputFiles()) == 1
    got = sorted(r.k for r in pruned.filter("k BETWEEN 120 AND 180").collect())
    assert got == list(range(120, 181))
    # superset guarantee: pruned relation holds the whole middle file
    assert pruned.count() == 100
    # no-overlap range → empty relation with the snapshot schema
    empty = read_version(spark, p, prune=("k", 1000, 2000))
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}
    # stats on a column Spark wrote without usable min/max stay absent →
    # pruning on an unknown column keeps every file (conservative)
    allfiles = read_version(spark, p, prune=("nonexistent", 0, 1))
    assert len(allfiles.inputFiles()) == 3


def test_concurrent_commit_conflict_detected(spark, tmp_path, monkeypatch):
    """Two writers racing for the same version number: the loser's
    publish must FAIL loudly (optimistic concurrency), not silently
    overwrite the winner's manifest. The race window is between
    reading the head and publishing — simulated by pinning the
    loser's head read to the pre-winner state."""
    import json as _json

    import pytest as _pytest

    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 5), p)  # v1
    # winner publishes v2 after the loser reads head=[1]
    winner = {"version": 2, "parent": 1, "mode": "append", "files": [], "stats": {}}
    with open(V._manifest_path(p, 2), "w") as fh:
        _json.dump(winner, fh)
    monkeypatch.setattr(V, "list_versions", lambda _p: [1])  # loser's stale read
    with _pytest.raises(V.ConcurrentCommitError):
        commit_version(_df(spark, 5, 10), p)  # loser also targets v2
    monkeypatch.undo()
    # the winner's manifest is untouched
    assert _json.load(open(V._manifest_path(p, 2))) == winner
    # retry on the (real) new head succeeds as v3
    assert commit_version(_df(spark, 5, 10), p) == 3


def test_vacuum_guard_and_orphan_sweep(spark, tmp_path):
    """vacuum(keep=0) must raise (previously a silent no-op: versions
    [-0:] is the whole list); and vacuum sweeps fully-written stage
    dirs from lost commit races once their version number is <= head."""
    import os as _os

    import pytest as _pytest

    from fdf_spark.sources.versioned import _read_manifest, read_version, vacuum

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 5), p)
    commit_version(_df(spark, 5, 10), p, mode="append")
    with _pytest.raises(ValueError):
        vacuum(p, keep=0)
    with _pytest.raises(ValueError):
        vacuum(p, keep=-1)
    # plant a lost-race orphan: stage dir for v1 with no manifest ref
    # (sweepable only STRICTLY below head — a loser's head+1 dir waits
    # until the table moves past it)
    orphan = _os.path.join(p, "data", "c00000001-deadbeef")
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "part-0.parquet"), "wb") as fh:
        fh.write(b"x")
    # at-head and beyond-head stages must NOT be swept (possible in-flight)
    athead = _os.path.join(p, "data", "c00000002-beefbeef")
    inflight = _os.path.join(p, "data", "c00000003-cafecafe")
    _os.makedirs(athead)
    _os.makedirs(inflight)
    # grace period: a freshly-written orphan survives the default grace
    assert not any("deadbeef" in f for f in vacuum(p, keep=2))
    assert _os.path.exists(orphan)
    removed = vacuum(p, keep=2, orphan_grace_s=0)  # grace elapsed
    assert any("c00000001-deadbeef" in f for f in removed)
    assert not _os.path.exists(orphan)
    assert _os.path.exists(athead) and _os.path.exists(inflight)
    # live data untouched: every manifest-referenced file still on disk
    assert read_version(spark, p).count() == 10
    assert all(_os.path.exists(f) for f in _read_manifest(p, 2)["files"])


def test_stream_merge_sink_bootstraps_fresh_path(spark, tmp_path):
    """First micro-batch on a path with no versions must bootstrap v1
    from the batch (merge against an empty base), not crash the query
    with FileNotFoundError."""
    import os as _os
    import time as _time

    from fdf_spark.sources.versioned import read_version, stream_merge_sink

    src = str(tmp_path / "src")
    p = str(tmp_path / "t")
    _os.makedirs(src)
    spark.createDataFrame(
        [Row(k=1, v=10, deleted=False), Row(k=2, v=20, deleted=True)]
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.05)
    stream = (
        spark.readStream.schema("k bigint, v bigint, deleted boolean")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_merge_sink(stream, p, ["k"], update_cols=["v"], delete_flag="deleted")
    q.processAllAvailable()
    q.stop()
    got = {r.k: r.v for r in read_version(spark, p).collect()}
    assert got == {1: 10}  # delete-flagged row never lands


def test_publish_seam_contract_conditional_put(spark, tmp_path, monkeypatch):
    """The commit protocol's atomicity rests ONLY on the
    _publish_manifest_atomic seam (create-if-absent). Swap the POSIX
    os.link implementation for a simulated object-store conditional PUT
    (fails FileExistsError when the key exists) and the optimistic-
    concurrency behavior must be unchanged: the loser still surfaces
    ConcurrentCommitError, the winner's manifest survives byte-for-byte.
    This pins the documented object-store port: replace the seam, keep
    the protocol."""
    import json as _json
    import shutil as _shutil

    import pytest as _pytest

    import fdf_spark.sources.versioned as V

    store_keys: set[str] = set()

    def conditional_put(staged: str, dst: str) -> None:
        # S3 If-None-Match:* semantics over the local staging file
        if dst in store_keys or os.path.exists(dst):
            raise FileExistsError(dst)
        store_keys.add(dst)
        _shutil.copyfile(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", conditional_put)
    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 5), p)  # v1 through the seam
    assert V.list_versions(p) == [1]
    # winner lands v2; loser's stale head read also targets v2
    winner = {"version": 2, "parent": 1, "mode": "append", "files": [], "stats": {}}
    with open(V._manifest_path(p, 2), "w") as fh:
        _json.dump(winner, fh)
    monkeypatch.setattr(V, "list_versions", lambda _p: [1])
    with _pytest.raises(V.ConcurrentCommitError):
        commit_version(_df(spark, 5, 10), p)
    assert _json.load(open(V._manifest_path(p, 2))) == winner


def test_prune_on_column_born_mid_history(spark, tmp_path):
    """Schema evolution x metadata pruning: pruning on a column that a
    LATER commit introduced must keep the early files (they carry no
    stats for it — conservative read), while still pruning among the
    files that do have stats."""
    from fdf_spark.sources.versioned import _read_manifest, read_version

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 100).repartition(1), p)  # v1: no 'extra'
    wide1 = _df(spark, 100, 200).withColumn("extra", F.col("k") * 10).repartition(1)
    commit_version(wide1, p, mode="append")               # v2: extra in [1000,1990]
    wide2 = _df(spark, 200, 300).withColumn("extra", F.col("k") * 10).repartition(1)
    commit_version(wide2, p, mode="append")               # v3: extra in [2000,2990]
    m = _read_manifest(p, 3)
    with_stats = [f for f in m["files"] if "extra" in m["stats"][f]]
    without = [f for f in m["files"] if "extra" not in m["stats"][f]]
    assert len(with_stats) == 2 and len(without) == 1
    # prune extra to [1000, 1500]: drops ONLY the v3 file; the stat-less
    # v1 file must be retained (NULL back-fill rows live there)
    pruned = read_version(spark, p, prune=("extra", 1000, 1500))
    assert len(pruned.inputFiles()) == 2
    rows = pruned.filter("extra BETWEEN 1000 AND 1500").count()
    assert rows == 51  # k 100..150
    # the NULL back-fill rows from the stat-less file are present
    assert pruned.filter("extra IS NULL").count() == 100


# --- column mapping: rename/drop without rewrite ----------------------------

def test_rename_column_reads_through_and_time_travels(spark, tmp_path):
    from fdf_spark.sources.versioned import _read_manifest, rename_column

    p = str(tmp_path / "t")
    v1 = commit_version(_df(spark, 0, 10), p)
    files_before = _read_manifest(p, v1)["files"]
    v2 = rename_column(p, "v", "value")
    # manifest-only: same files, zero bytes rewritten
    assert _read_manifest(p, v2)["files"] == files_before
    cur = read_version(spark, p)
    assert cur.columns == ["k", "value"]
    assert {r["k"]: r["value"] for r in cur.collect()} == {i: 2 * i for i in range(10)}
    # time travel: the pre-rename snapshot still shows the old name
    old = read_version(spark, p, version=v1)
    assert old.columns == ["k", "v"]


def test_rename_then_append_and_prune(spark, tmp_path):
    from fdf_spark.sources.versioned import rename_column

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    rename_column(p, "v", "value")
    # append uses LOGICAL names; files must land under the physical name
    more = spark.range(10, 20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("value"))
    commit_version(more, p, mode="append")
    cur = read_version(spark, p)
    assert cur.count() == 20
    assert {r["k"]: r["value"] for r in cur.collect()} == {i: 2 * i for i in range(20)}
    # manifest pruning translates the logical prune column to physical
    pruned = read_version(spark, p, prune=("value", 30, 38))
    got = {r["k"] for r in pruned.collect()}
    assert {15, 16, 17, 18, 19} <= got and 0 not in got  # superset guarantee, file-level


def test_drop_column_hides_bytes_and_readd_is_fresh(spark, tmp_path):
    from fdf_spark.sources.versioned import drop_column

    p = str(tmp_path / "t")
    v1 = commit_version(_df(spark, 0, 5), p)
    v2 = drop_column(p, "v")
    cur = read_version(spark, p)
    assert cur.columns == ["k"]
    # pre-drop snapshot still reads the dropped bytes
    assert read_version(spark, p, version=v1).columns == ["k", "v"]
    # re-add a column NAMED v: old files' physical 'v' bytes must NOT
    # resurrect — rows from v1's files read NULL, new rows read 999
    readd = spark.range(100, 103).select(F.col("id").alias("k"), F.lit(999).alias("v"))
    commit_version(readd, p, mode="append")
    rows = {r["k"]: r["v"] for r in read_version(spark, p).collect()}
    assert rows[0] is None and rows[1] is None  # NOT 0, 2 (the dead bytes)
    assert rows[100] == 999
    assert v2 in list_versions(p)


def test_rename_drop_validation(spark, tmp_path):
    from fdf_spark.sources.versioned import drop_column, rename_column

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 3), p)
    with pytest.raises(ValueError, match="no column"):
        rename_column(p, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(p, "v", "k")
    with pytest.raises(ValueError, match="no column"):
        drop_column(p, "nope")
    drop_column(p, "v")
    with pytest.raises(ValueError, match="only column"):
        drop_column(p, "k")


def test_optimize_after_rename_keeps_mapping(spark, tmp_path):
    from fdf_spark.sources.versioned import diff_versions, optimize, rename_column

    p = str(tmp_path / "t")
    for lo in range(0, 40, 10):  # several small files
        commit_version(_df(spark, lo, lo + 10), p, mode="append")
    v = rename_column(p, "v", "value")
    res = optimize(spark, p, zorder=["value"], target_bytes=1 << 20)
    assert res["version"] == v + 1
    # rewrite is a logical no-op THROUGH the rename
    assert diff_versions(spark, p, v, res["version"]).count() == 0
    cur = read_version(spark, p)
    assert cur.columns == ["k", "value"] and cur.count() == 40


def test_widen_column_manifest_only(spark, tmp_path):
    from fdf_spark.sources.versioned import _read_manifest, widen_column

    p = str(tmp_path / "t")
    narrow = spark.range(0, 5).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 1.5).cast("float").alias("v")
    )
    v1 = commit_version(narrow, p)
    files_before = _read_manifest(p, v1)["files"]
    v2 = widen_column(p, "k", "long")
    widen_column(p, "v", "double")
    assert _read_manifest(p, v2)["files"] == files_before  # zero bytes rewritten
    cur = read_version(spark, p)
    assert dict(cur.dtypes) == {"k": "bigint", "v": "double"}
    assert {r["k"] for r in cur.collect()} == set(range(5))
    # new appends write the wide type — values beyond int range land fine
    wide = spark.createDataFrame([(2**40, 1e40)], "k long, v double")
    commit_version(wide, p, mode="append")
    rows = {r["k"]: r["v"] for r in read_version(spark, p).collect()}
    assert rows[2**40] == 1e40 and rows[2] == pytest.approx(3.0)
    # time travel shows the narrow type
    assert dict(read_version(spark, p, version=v1).dtypes) == {"k": "int", "v": "float"}
    # only lossless reader-upcast promotions allowed
    with pytest.raises(ValueError, match="cannot widen"):
        widen_column(p, "k", "int")
    with pytest.raises(ValueError, match="cannot widen"):
        widen_column(p, "v", "string")


def test_rename_widen_append_compose(spark, tmp_path):
    """The three manifest-only evolutions compose: rename then widen
    then append reads one coherent wide logical schema over files of
    three generations (original narrow name/type, post-rename reads,
    post-widen wide appends), and every intermediate snapshot time
    travels to its own schema."""
    from fdf_spark.sources.versioned import rename_column, widen_column

    p = str(tmp_path / "t")
    v1 = commit_version(
        spark.range(0, 4).select(F.col("id").cast("int").alias("k"), F.col("id").alias("v")),
        p,
    )
    v2 = rename_column(p, "k", "key")
    v3 = widen_column(p, "key", "long")
    commit_version(
        spark.createDataFrame([(2**35, 99)], "key long, v long"), p, mode="append"
    )
    cur = read_version(spark, p)
    assert dict(cur.dtypes) == {"key": "bigint", "v": "bigint"}
    rows = {r["key"]: r["v"] for r in cur.collect()}
    assert rows[2**35] == 99 and rows[0] == 0 and len(rows) == 5
    # each snapshot keeps its own schema generation
    assert dict(read_version(spark, p, version=v1).dtypes) == {"k": "int", "v": "bigint"}
    assert dict(read_version(spark, p, version=v2).dtypes) == {"key": "int", "v": "bigint"}
    assert dict(read_version(spark, p, version=v3).dtypes) == {"key": "bigint", "v": "bigint"}


def test_stream_change_feed_matches_batch_diffs(spark, tmp_path):
    """Streaming CDF source (VERDICT r8 #3): stream-consumed deltas
    reproduce the batch diff_versions relation exactly across >=3
    commits including an update (delete+insert pair); metadata-only
    commits contribute no delta."""
    from fdf_spark.sources.versioned import (
        diff_versions,
        merge_versioned,
        rename_column,
        stream_changes_sink,
        stream_version_events,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)                       # v1 base
    commit_version(_df(spark, 10, 15), p)                      # v2 append
    changes = spark.createDataFrame([Row(k=1, v=999)], "k bigint, v bigint")
    merge_versioned(spark, p, changes, ["k"], update_cols=["v"])  # v3 update
    rename_column(p, "v", "val")                               # v4 metadata-only

    deltas: dict[int, list] = {}

    def capture(df, v):
        deltas[v] = sorted(map(tuple, df.collect()))

    q = stream_changes_sink(
        stream_version_events(spark, p), p, capture, checkpoint=str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()

    assert sorted(deltas) == [1, 2, 3]  # v4 (rename) skipped
    want1 = sorted(
        map(tuple, read_version(spark, p, 1).withColumn("change", F.lit("insert")).collect())
    )
    assert deltas[1] == want1
    for v in (2, 3):
        assert deltas[v] == sorted(map(tuple, diff_versions(spark, p, v - 1, v).collect()))
    # the update arrived as its delete+insert pair
    pair = sorted((c, k) for k, _v, c in deltas[3] if k == 1)
    assert pair == [("delete", 1), ("insert", 1)]


def test_stream_change_feed_drives_incremental_view(spark, tmp_path):
    """incremental_refresh fed from the change feed equals the
    from-scratch aggregate over the final snapshot — the N23 consumer
    the CDF source exists for."""
    from fdf_spark.operators.ivm import agg_view, finish_view, incremental_refresh
    from fdf_spark.sources.versioned import (
        merge_versioned,
        stream_changes_sink,
        stream_version_events,
    )

    p = str(tmp_path / "t")
    base = spark.range(0, 12).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 10).alias("v")
    )
    commit_version(base, p)                                    # v1
    commit_version(
        spark.createDataFrame([Row(g=0, v=7), Row(g=5, v=5)], "g bigint, v bigint"), p
    )                                                          # v2 append (new key 5)
    merge_versioned(
        spark,
        p,
        spark.createDataFrame([Row(g=9, v=1), Row(g=9, v=2)], "g bigint, v bigint")
        .groupBy("g").agg(F.sum("v").alias("v")),
        ["g", "v"],
    )                                                          # v3

    state = {
        "view": agg_view(spark.createDataFrame([], "g bigint, v bigint"), ["g"], "v")
    }

    def fold(df, v):
        delta = df.withColumn(
            "sign", F.when(F.col("change") == "insert", F.lit(1)).otherwise(F.lit(-1))
        ).drop("change")
        state["view"] = incremental_refresh(
            state["view"], delta, ["g"], "v", "sign"
        ).localCheckpoint()

    q = stream_changes_sink(
        stream_version_events(spark, p), p, fold, checkpoint=str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(map(tuple, finish_view(state["view"], ["g"]).collect()))
    want = sorted(
        map(tuple, finish_view(agg_view(read_version(spark, p), ["g"], "v"), ["g"]).collect())
    )
    assert got == want and len(got) >= 4


def test_partition_spec_evolution(spark, tmp_path):
    """Spec evolution (VERDICT r8 #6): changing the partition layout of
    FUTURE writes is a manifest-only commit — old files are never
    rewritten, appends under each spec prune tightly on that spec's
    columns, and time travel is unaffected."""
    from fdf_spark.sources.versioned import (
        _read_manifest,
        partition_spec,
        set_partition_spec,
    )

    p = str(tmp_path / "t")
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.pmod(F.xxhash64("id"), F.lit(1000))).alias("x"),
        (F.pmod(F.xxhash64("id", "id"), F.lit(1000))).alias("y"),
    )
    commit_version(base.repartition(4), p)                  # v1: spec 0
    assert partition_spec(p) == {"spec_id": 0, "cols": [], "buckets": None}

    v2 = set_partition_spec(p, ["x"], buckets=4)            # manifest-only
    assert v2 == 2 and partition_spec(p)["cols"] == ["x"]
    m2 = _read_manifest(p, 2)
    assert m2["files"] == _read_manifest(p, 1)["files"]     # zero bytes rewritten

    commit_version(base.withColumn("k", F.col("k") + 1000), p)   # v3: clustered by x
    set_partition_spec(p, ["y"], buckets=4)                 # v4
    commit_version(base.withColumn("k", F.col("k") + 2000), p)   # v5: clustered by y

    m5 = _read_manifest(p, 5)
    by_spec = {}
    for f in m5["files"]:
        by_spec.setdefault(m5["file_specs"].get(f, 0), []).append(f)
    assert set(by_spec) == {0, 1, 2} and len(by_spec[1]) == 4 and len(by_spec[2]) == 4

    # pruning on x skips most spec-1 files (tight x ranges) while
    # spec-0/spec-2 files are conservatively kept via their own stats
    pruned_x = read_version(spark, p, prune=("x", 0, 120))
    files_x = {f.replace("file://", "") for f in pruned_x.inputFiles()}
    assert len([f for f in by_spec[1] if f in files_x]) <= 1
    assert all(f in files_x for f in by_spec[0])  # unclustered: kept
    # and the pruned read is still row-correct (superset guarantee)
    assert pruned_x.filter(F.col("x").between(0, 120)).count() == base.filter(
        F.col("x").between(0, 120)
    ).count() * 3

    # pruning on y skips most spec-2 files the same way
    pruned_y = read_version(spark, p, prune=("y", 0, 120))
    files_y = {f.replace("file://", "") for f in pruned_y.inputFiles()}
    assert len([f for f in by_spec[2] if f in files_y]) <= 1

    # time travel: the pre-evolution snapshot reads exactly its rows
    assert read_version(spark, p, 1).count() == 1000
    # rename renames through the spec; dropping a spec column refuses
    from fdf_spark.sources.versioned import drop_column, rename_column

    rename_column(p, "y", "yy")
    assert partition_spec(p)["cols"] == ["yy"]
    with pytest.raises(ValueError, match="current partition spec"):
        drop_column(p, "yy")


def test_membership_prune_value_validation(spark, tmp_path):
    """Membership prune values: a bare str would list() into characters
    and silently prune away matching files (ADVICE r9) — reject it;
    a non-iterable scalar wraps to a one-element list; None elements
    are rejected (NULL never matches a [min, max] range)."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"val{i:03d}") for i in range(100)], "k long, s string"
    )
    commit_version(df.repartitionByRange(4, "k"), p)

    with pytest.raises(TypeError, match="single str"):
        read_version(spark, p, prune=("s", "val050"))
    with pytest.raises(TypeError, match="single bytes"):
        read_version(spark, p, prune=("s", b"val050"))
    with pytest.raises(ValueError, match="None"):
        read_version(spark, p, prune=("k", [1, None]))

    # scalar wraps: same rows as the explicit one-element list
    scalar = read_version(spark, p, prune=("k", 50)).filter(F.col("k") == 50)
    listed = read_version(spark, p, prune=("k", [50])).filter(F.col("k") == 50)
    assert scalar.count() == listed.count() == 1
    # and the pruned file set is a strict subset of the table
    assert len(scalar.inputFiles()) < 4


def test_timestamp_as_of_time_travel(spark, tmp_path, monkeypatch):
    """TIMESTAMP AS OF: reads resolve to the newest version published
    at-or-before the stamp, monotonic BY VERSION under clock skew (a
    later version with an earlier wall stamp never shadows its
    predecessor), and pre-stamp reads fail loudly."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    stamps = iter([100.0, 200.0, 150.0])  # v3's committer clock lags

    class _Clock:
        @staticmethod
        def time():
            return next(stamps)

    monkeypatch.setattr(V, "time", _Clock)
    commit_version(_df(spark, 0, 10), p)                      # v1 @ 100
    commit_version(_df(spark, 10, 20), p)                     # v2 @ 200
    commit_version(_df(spark, 20, 30), p)                     # v3 @ 150 (skewed)

    assert V.resolve_as_of(p, 100.0) == 1
    # at wall time 170 the head was v1: v2 published at 200, and v3 —
    # despite its lagging stamp — came after v2 (effective ts clamps up)
    assert V.resolve_as_of(p, 170.0) == 1
    assert V.resolve_as_of(p, 1e18) == 3
    assert read_version(spark, p, as_of_ts=170.0).count() == 10
    assert read_version(spark, p, as_of_ts=200.0).count() == 30

    with pytest.raises(ValueError, match="at-or-before"):
        V.resolve_as_of(p, 99.0)
    with pytest.raises(ValueError, match="at most one"):
        read_version(spark, p, version=1, as_of_ts=100.0)


def test_metadata_aggregate_zero_data_reads(spark, tmp_path):
    """count/min/max answered from the manifest alone: values equal a
    full scan, and the metadata path still answers after the data files
    are physically GONE (the strongest possible zero-data-reads proof);
    non-numeric columns and stat-less files fall back to one real scan
    (exactness guard, VERDICT r9 #5)."""
    import shutil

    from fdf_spark.sources.versioned import metadata_aggregate

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i) * 0.5, f"s{i:04d}") for i in range(1000)],
        "k long, x double, s string",
    )
    commit_version(df.repartition(4), p)
    commit_version(
        spark.createDataFrame([(5000, 2500.0, "zz")], "k long, x double, s string"), p
    )

    scan = read_version(spark, p).agg(
        F.count(F.lit(1)), F.min("k"), F.max("k"), F.min("x"), F.max("x")
    ).collect()[0]
    got = metadata_aggregate(spark, p, ["k", "x"])
    assert got["source"] == "metadata"
    assert got["count"] == scan[0] == 1001
    assert got["min"]["k"] == scan[1] and got["max"]["k"] == scan[2] == 5000
    assert got["min"]["x"] == scan[3] and got["max"]["x"] == scan[4] == 2500.0
    # older snapshot resolves through its own manifest
    assert metadata_aggregate(spark, p, ["k"], version=1)["max"]["k"] == 999

    # string column: parquet stats may be truncated — exactness needs a scan
    s = metadata_aggregate(spark, p, ["s"])
    assert s["source"] == "scan" and s["max"]["s"] == "zz" and s["count"] == 1001

    # the proof: data files gone, metadata still answers (a scan cannot)
    shutil.move(os.path.join(p, "data"), str(tmp_path / "hidden"))
    got2 = metadata_aggregate(spark, p, ["k", "x"])
    assert got2 == got
    with pytest.raises(Exception):
        read_version(spark, p).count()


def test_append_race_rebases_manifest_only(spark, tmp_path, monkeypatch):
    """Non-conflicting-append fast path (VERDICT r9 #4): two racing
    appends — the loser re-bases its ALREADY-STAGED data files onto the
    new head manifest-only (each racer's data written exactly once,
    proven by the stage-dir version prefix), both land.  A head whose
    concurrent commits re-mapped a column the append also writes is a
    REAL conflict and re-raises."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 5), p)  # v1

    real_publish = V._publish_manifest_atomic
    state = {"raced": False}

    def racing_publish(staged, dst):
        if not state["raced"]:
            state["raced"] = True
            commit_version(_df(spark, 100, 110), p)  # winner takes v2
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    v = commit_version(_df(spark, 5, 10), p, on_conflict="rebase")
    monkeypatch.undo()
    assert v == 3
    assert sorted(r["k"] for r in read_version(spark, p).collect()) == (
        list(range(10)) + list(range(100, 110))
    )
    # the loser's files were staged while targeting v2 and were NOT
    # rewritten on rebase: they still live in a c00000002-* stage dir
    m2, m3 = V._read_manifest(p, 2), V._read_manifest(p, 3)
    rebased = set(m3["files"]) - set(m2["files"])
    assert rebased and all("/c00000002-" in f for f in rebased)

    # default on_conflict="error" still raises (serializability callers)
    state["raced"] = False
    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    with pytest.raises(V.ConcurrentCommitError):
        commit_version(_df(spark, 10, 15), p)
    monkeypatch.undo()

    # re-mapped column during the race → real conflict, re-raises
    from fdf_spark.sources.versioned import rename_column

    state2 = {"raced": False}

    def renaming_publish(staged, dst):
        if not state2["raced"]:
            state2["raced"] = True
            rename_column(p, "v", "v2")
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", renaming_publish)
    with pytest.raises(V.ConcurrentCommitError, match="re-run the write"):
        commit_version(_df(spark, 20, 25), p, on_conflict="rebase")


def _orders_df(spark, n=100):
    return spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), (F.col("id") % 7).alias("g")
    )


def test_delete_where_is_merge_on_read(spark, tmp_path):
    """Row-level DELETE writes a tombstone, not a file rewrite: data
    files unchanged byte-for-byte, masked reads exact, pinned readers
    untouched, repeated predicates never double-tombstone, a no-match
    delete is a no-op (no new version)."""
    from fdf_spark.sources.versioned import _read_manifest, delete_where

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark).repartition(4), p)  # v1
    v = delete_where(spark, p, "k >= 90")
    assert v == 2
    m1, m2 = _read_manifest(p, 1), _read_manifest(p, 2)
    assert m2["files"] == m1["files"]  # zero data files rewritten
    assert sum(len(ts) for ts in m2["delete_files"].values()) >= 1
    assert read_version(spark, p).count() == 90
    assert read_version(spark, p, 1).count() == 100  # pinned reader
    # live rows only: re-deleting the same range matches nothing
    assert delete_where(spark, p, "k >= 90") == 2  # no-op, no new version
    # overlapping predicate tombstones only the NEW positions
    v3 = delete_where(spark, p, "k >= 85")
    assert v3 == 3
    assert read_version(spark, p).count() == 85
    assert _read_manifest(p, 3)["meta"]["delete"]["rows"] == 5
    # Column-object condition too
    v4 = delete_where(spark, p, F.col("g") == 6)
    assert read_version(spark, p, v4).filter(F.col("g") == 6).count() == 0
    with pytest.raises(TypeError, match="Column or SQL"):
        delete_where(spark, p, 42)


def test_merge_on_read_equals_copy_on_write(spark, tmp_path):
    """The DV-read == CoW-read contract (VERDICT r9 #1): the same change
    batch applied via merge_versioned (rewrite) and merge_on_read
    (tombstone + append) yields identical final reads AND identical
    change-feed deltas (diff_versions multisets) — the CDF equivalence
    the streaming consumers rely on."""
    from fdf_spark.sources.versioned import diff_versions, merge_on_read

    pa, pb = str(tmp_path / "cow"), str(tmp_path / "mor")
    base = _orders_df(spark)
    for p in (pa, pb):
        commit_version(base.repartition(4), p)
    ch = spark.createDataFrame(
        [(0, 999, 0, False), (1, None, None, True), (200, 400, 3, False)],
        "k long, v long, g long, is_del boolean",
    )
    va = merge_versioned(spark, pa, ch, ["k"], delete_flag="is_del")
    vb = merge_on_read(spark, pb, ch, ["k"], delete_flag="is_del")

    key = lambda r: (r["k"], r["v"], r["g"])  # noqa: E731
    got_a = sorted(map(key, read_version(spark, pa).collect()))
    got_b = sorted(map(key, read_version(spark, pb).collect()))
    assert got_a == got_b and len(got_a) == 100  # 100 - 1 + 1

    dkey = lambda r: (r["k"], r["v"], r["g"], r["change"])  # noqa: E731
    da = sorted(map(dkey, diff_versions(spark, pa, 1, va).collect()))
    db = sorted(map(dkey, diff_versions(spark, pb, 1, vb).collect()))
    assert da == db
    assert (1, 2, 1, "delete") in da  # the deleted row surfaces in both
    assert (0, 999, 0, "insert") in da and (0, 0, 0, "delete") in da  # update pair


def test_merge_on_read_duplicate_key_contract(spark, tmp_path):
    """merge_on_read enforces the same one-live-change-row-per-key
    contract as merge_upsert, including last_wins reduction."""
    from fdf_spark.sources.versioned import merge_on_read

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark, 10), p)
    dup = spark.createDataFrame([(1, 100, 0), (1, 200, 1)], "k long, v long, seq long")
    with pytest.raises(ValueError, match="multiple live change rows"):
        merge_on_read(spark, p, dup.drop("seq"), ["k"])
    merge_on_read(spark, p, dup, ["k"], update_cols=["v"],
                  on_duplicate_keys="last_wins", order_col="seq")
    assert read_version(spark, p).filter(F.col("k") == 1).collect()[0]["v"] == 200


def test_optimize_folds_deletion_vectors(spark, tmp_path):
    """OPTIMIZE repays the merge-on-read debt: tombstones fold into the
    rewritten files (delete_files empties, masked rows physically gone),
    the commit is a logical no-op (empty diff), and files carrying DVs
    are rewrite candidates at ANY size."""
    from fdf_spark.sources.versioned import (
        _read_manifest,
        delete_where,
        diff_versions,
        optimize,
    )

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark, 1000).repartition(2), p)
    v = delete_where(spark, p, "k % 10 = 0")
    assert read_version(spark, p).count() == 900
    # big files would never bin-pack on size alone — the DV makes them candidates
    res = optimize(spark, p, target_bytes=1 << 20, small_bytes=1)
    assert res["rewritten"] == 2
    m = _read_manifest(p, res["version"])
    assert m["delete_files"] == {}
    assert diff_versions(spark, p, v, res["version"]).count() == 0
    assert read_version(spark, p).count() == 900
    # the masked rows are PHYSICALLY absent from the new files
    raw = spark.read.parquet(*m["files"])
    assert raw.count() == 900


def test_vacuum_protects_live_tombstones(spark, tmp_path):
    """A live snapshot's deletion vectors are referenced files: vacuum
    must never delete them (that would resurrect rows); dead versions'
    unreferenced tombstones are swept."""
    from fdf_spark.sources.versioned import _read_manifest, delete_where, optimize

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark).repartition(2), p)     # v1
    delete_where(spark, p, "k >= 50")                        # v2 (tombstone A)
    commit_version(_orders_df(spark).select(
        (F.col("k") + 1000).alias("k"), "v", "g"), p)        # v3 append
    removed = vacuum(p, keep=2, orphan_grace_s=1e9)          # drops v1 only
    assert read_version(spark, p).count() == 150
    tombs = {t for ts in _read_manifest(p, 3)["delete_files"].values() for t in ts}
    assert tombs and all(os.path.exists(t) for t in tombs)
    assert not (set(removed) & tombs)
    # fold then vacuum: the tombstones become unreferenced and are swept
    res = optimize(spark, p, target_bytes=1 << 20, small_bytes=1)
    vacuum(p, keep=1, orphan_grace_s=1e9)
    assert not any(os.path.exists(t) for t in tombs)
    assert read_version(spark, p).count() == 150


def test_delete_vectors_compose_with_rename_and_prune(spark, tmp_path):
    """Positions are column-agnostic: a rename after a delete reads
    through both; manifest pruning composes with the DV mask (superset
    guarantee intact)."""
    from fdf_spark.sources.versioned import delete_where, rename_column

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark).repartitionByRange(4, "k"), p)
    delete_where(spark, p, "k between 10 and 19")
    rename_column(p, "v", "val")
    got = read_version(spark, p, prune=("k", 0, 30)).filter(F.col("k") <= 30)
    assert sorted(r["k"] for r in got.collect()) == list(range(10)) + list(range(20, 31))
    assert "val" in got.columns
    # and the change feed sees delete commits (mode is not skipped)
    from fdf_spark.sources.versioned import change_feed_fold

    seen = []
    fold = change_feed_fold(p, lambda delta, v: seen.append((v, sorted(
        (r["k"], r["change"]) for r in delta.collect()))))
    rows = spark.createDataFrame(
        [(2, 1, "delete")], "version long, parent long, mode string"
    )
    fold(rows, 0)
    assert seen and seen[0][0] == 2
    assert all(c == "delete" for _, c in seen[0][1]) and len(seen[0][1]) == 10


def test_dv_read_plan_shape(spark, tmp_path):
    """The merge-on-read plan contract: a DV-free snapshot reads with NO
    join at all (identical plan to pre-DV tables); with deletes, only
    the files that HAVE tombstones pay the mask — one broadcast anti-
    join (tombstones broadcast, never a sort-merge), clean files union
    in through a plain scan."""
    from fdf_spark.sources.versioned import _read_manifest, delete_where

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark, 100).repartitionByRange(2, "k"), p)
    plan0 = read_version(spark, p)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan0 and "Exchange" not in plan0

    delete_where(spark, p, "k = 75")  # only the upper range file is hit
    m = _read_manifest(p, 2)
    assert len(m["delete_files"]) == 1  # one dirty file
    df = read_version(spark, p)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # clean scan + dirty scan + tombstone scan — the clean file is NOT
    # routed through the anti-join branch
    assert plan.count("Scan parquet") == 3
    assert df.count() == 99


def test_delete_keys_equality_lifecycle(spark, tmp_path):
    """Equality deletes (VERDICT r10 #6): delete_keys writes the KEY
    relation with zero base-table jobs, readers see exactly what the
    positional path produces, the scope is delete-what-exists-now
    (later appends with the same key stay live), OPTIMIZE folds the
    mask, and vacuum then reclaims the key files."""
    from fdf_spark.sources.versioned import (
        _read_manifest,
        delete_keys,
        delete_where,
        diff_versions,
        optimize,
    )

    pe, pw = str(tmp_path / "eq"), str(tmp_path / "where")
    for p in (pe, pw):
        commit_version(_orders_df(spark).repartition(4), p)  # v1

    keys = spark.createDataFrame([(10,), (20,), (30,)], "k long")
    ve = delete_keys(spark, pe, keys, ["k"])
    vw = delete_where(spark, pw, "k in (10, 20, 30)")
    assert ve == 2 and vw == 2
    m = _read_manifest(pe, ve)
    assert m["files"] == _read_manifest(pe, 1)["files"]  # no data rewrite
    assert m["delete_files"] in ({}, m.get("delete_files"))  # no positional debt
    assert len(m["eq_deletes"]) == 1
    # equality read == positional read on the same predicate
    got_e = sorted(map(tuple, read_version(spark, pe).collect()))
    got_w = sorted(map(tuple, read_version(spark, pw).collect()))
    assert got_e == got_w and len(got_e) == 97
    # pinned reader untouched
    assert read_version(spark, pe, 1).count() == 100
    # change feed: the eq-delete commit emits exactly the killed rows
    d = diff_versions(spark, pe, 1, ve).collect()
    assert sorted((r["k"], r["change"]) for r in d) == [
        (10, "delete"), (20, "delete"), (30, "delete")]

    # scope rule: a row appended AFTER the delete with a deleted key is live
    commit_version(
        spark.createDataFrame([(10, 999, 3)], "k long, v long, g long"), pe
    )
    live10 = read_version(spark, pe).filter(F.col("k") == 10).collect()
    assert [(r["k"], r["v"]) for r in live10] == [(10, 999)]

    # positional delete composes on top of the eq mask (no double kill)
    v4 = delete_where(spark, pe, "k = 40")
    assert read_version(spark, pe).count() == 97  # 97 + 1 appended - 1
    # re-deleting an eq-masked key positionally is a no-op (not live)
    assert delete_where(spark, pe, "k = 20") == v4

    # OPTIMIZE folds BOTH masks; logical no-op; key files reclaimable
    res = optimize(spark, pe, target_bytes=1 << 20, small_bytes=1)
    mo = _read_manifest(pe, res["version"])
    assert mo["eq_deletes"] == {} and mo["eq_applies"] == {}
    assert mo["delete_files"] == {}
    assert diff_versions(spark, pe, v4, res["version"]).count() == 0
    raw = spark.read.parquet(*mo["files"])
    assert raw.filter(F.col("k").isin(20, 30, 40)).count() == 0
    removed = vacuum(pe, keep=1, orphan_grace_s=0.0)
    eq_files = {f for e in m["eq_deletes"].values() for f in e["files"]}
    assert eq_files <= set(removed)
    assert read_version(spark, pe).count() == 97


def test_delete_keys_null_keys_and_stat_scoping(spark, tmp_path):
    """NULL keys delete NULL-key rows (null-safe equality), and the
    entry's applies-to set is SCOPED by the key files' footer stats:
    on a range-clustered table a narrow key set attaches only to the
    files whose [min, max] overlap it."""
    from fdf_spark.sources.versioned import _read_manifest, delete_keys

    p = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.when(F.col("id") == 5, None).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    commit_version(df.repartitionByRange(4, "id"), p)
    m1 = _read_manifest(p, 1)
    assert len(m1["files"]) == 4

    # narrow non-null key set -> scoped to the one overlapping file
    v = delete_keys(spark, p, spark.createDataFrame([(97,), (98,)], "k long"), ["k"])
    m = _read_manifest(p, v)
    applied = [f for f, es in m["eq_applies"].items() if es]
    assert len(applied) == 1  # 3 of 4 files pruned by key stats
    assert m["meta"]["delete_keys"]["files_pruned"] == 3
    assert read_version(spark, p).count() == 98

    # NULL key: unbounded scope (stats prove nothing about nulls)
    vn = delete_keys(
        spark, p,
        spark.createDataFrame([(None,)], "k long"), ["k"],
    )
    mn = _read_manifest(p, vn)
    assert read_version(spark, p).filter(F.col("k").isNull()).count() == 0
    assert read_version(spark, p).count() == 97

    # disjoint key set -> every file pruned, no-op, no new version
    assert delete_keys(
        spark, p, spark.createDataFrame([(5000,)], "k long"), ["k"]
    ) == vn


def test_delete_keys_survives_rename(spark, tmp_path):
    """Key columns are recorded under PHYSICAL names: renaming the key
    column after the delete never detaches the mask."""
    from fdf_spark.sources.versioned import delete_keys, rename_column

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark, 50), p)
    delete_keys(spark, p, spark.createDataFrame([(7,)], "k long"), ["k"])
    rename_column(p, "k", "order_key")
    got = read_version(spark, p)
    assert "order_key" in got.columns
    assert got.filter(F.col("order_key") == 7).count() == 0
    assert got.count() == 49


def test_delete_where_prunes_match_scan(spark, tmp_path):
    """VERDICT r10 #3: a keyed DELETE on a spec-clustered table
    intersects the predicate's bounds with the manifest's per-file
    stats BEFORE scanning — untouched files are never read."""
    from fdf_spark.sources.versioned import (
        _predicate_bounds,
        _prune_files_by_bounds,
        _read_manifest,
        delete_where,
        set_partition_spec,
    )

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark, 1000).repartitionByRange(4, "k"), p)
    set_partition_spec(p, ["k"])
    m = _read_manifest(p, 1)
    assert len(m["files"]) == 4

    # the bounds extractor reads the ANALYZED tree: Column or SQL string
    from fdf_spark.sources.versioned import _logical_schema
    schema = _logical_schema(m)
    b1 = _predicate_bounds(spark, schema, F.expr("k >= 990"))
    assert b1 == {"k": (990, None)}
    b2 = _predicate_bounds(spark, schema, (F.col("k") == 5) & (F.col("g") < 3))
    assert b2 == {"k": (5, 5), "g": (None, 3)}
    b3 = _predicate_bounds(spark, schema, F.col("k").isin(7, 9, 11))
    assert b3 == {"k": (7, 11)}
    # OR / opaque predicates contribute nothing -> no pruning, never wrong
    assert _predicate_bounds(spark, schema, (F.col("k") == 1) | (F.col("g") == 2)) == {}
    pruned = _prune_files_by_bounds(m, m["files"], b1)
    assert len(pruned) == 1  # only the top range file can match

    v = delete_where(spark, p, "k >= 990")
    meta = _read_manifest(p, v)["meta"]["delete"]
    assert meta["files_scanned"] == 1 and meta["files_pruned"] == 3
    assert read_version(spark, p).count() == 990
    # a predicate no file can satisfy: zero files scanned, no version
    assert delete_where(spark, p, "k = 10000") == v


def test_merge_on_read_prunes_and_gates_broadcast(spark, tmp_path, monkeypatch):
    """merge_on_read's match scan prunes by the change set's key bounds,
    and a change set above the merge core's _BROADCAST_MAX_ROWS takes
    the shuffle-join path in both merge_on_read and merge_upsert —
    identical results either way."""
    import fdf_spark.operators.merge as M
    from fdf_spark.sources.versioned import _read_manifest, merge_on_read

    def hinted(df):
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    pa, pb = str(tmp_path / "bc"), str(tmp_path / "sh")
    base = _orders_df(spark, 1000).repartitionByRange(4, "k")
    for p in (pa, pb):
        commit_version(base, p)
    ch = spark.createDataFrame(
        [(995, 5555, 0, False), (996, None, None, True), (2000, 42, 1, False)],
        "k long, v long, g long, is_del boolean",
    )
    va = merge_on_read(spark, pa, ch, ["k"], delete_flag="is_del")
    ua = M.merge_upsert(base, ch, ["k"], delete_flag="is_del")
    monkeypatch.setattr(M, "_BROADCAST_MAX_ROWS", 0)  # force the shuffle path
    vb = merge_on_read(spark, pb, ch, ["k"], delete_flag="is_del")
    ub = M.merge_upsert(base, ch, ["k"], delete_flag="is_del")
    monkeypatch.undo()
    assert hinted(ua) and not hinted(ub)
    ma, mb = (_read_manifest(pa, va)["meta"]["merge_on_read"],
              _read_manifest(pb, vb)["meta"]["merge_on_read"])
    assert ma["broadcast"] is True and mb["broadcast"] is False
    # key bounds [995, 2000] overlap only the top range file
    assert ma["files_pruned"] == 3 and mb["files_pruned"] == 3
    got_a = sorted(map(tuple, read_version(spark, pa).collect()))
    got_b = sorted(map(tuple, read_version(spark, pb).collect()))
    assert got_a == got_b and len(got_a) == 1000  # -1 delete +1 insert
    assert (995, 5555, 0) in got_a and (2000, 42, 1) in got_a
    assert sorted(map(tuple, ua.collect())) == sorted(map(tuple, ub.collect())) == got_a


def test_metadata_count_exact_under_deletion_vectors(spark, tmp_path):
    """VERDICT r10 #4: count(*) stays metadata-only under positional
    DVs (live = file rows - tombstone rows, footer-only); min/max under
    DVs still scan; ANY aggregate under equality deletes scans."""
    from fdf_spark.sources.versioned import (
        delete_keys,
        delete_where,
        metadata_aggregate,
    )

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark, 500).repartition(3), p)
    delete_where(spark, p, "k >= 450")
    got = metadata_aggregate(spark, p)
    assert got["source"] == "metadata" and got["count"] == 450
    assert got["count"] == read_version(spark, p).count()
    # min/max under DVs cannot trust stats -> scan (and be right)
    got2 = metadata_aggregate(spark, p, cols=["k"])
    assert got2["source"] == "scan" and got2["max"]["k"] == 449
    # equality deletes: even count must scan (key cardinality unknown)
    delete_keys(spark, p, spark.createDataFrame([(0,), (1,)], "k long"), ["k"])
    got3 = metadata_aggregate(spark, p)
    assert got3["source"] == "scan" and got3["count"] == 448


def test_resolve_as_of_unstamped_leading_versions(spark, tmp_path):
    """ADVICE r10: pre-upgrade versions BEFORE the first stamped commit
    have no effective time — a stamp below the first stamp raises
    instead of resolving to a version of unknown age; at-or-after the
    first stamp resolves normally."""
    import json as _json

    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)   # v1
    commit_version(_df(spark, 10, 20), p)  # v2
    commit_version(_df(spark, 20, 30), p)  # v3
    # strip the stamps from v1/v2 (simulate a pre-upgrade table)
    for v in (1, 2):
        mp = V._manifest_path(p, v)
        m = _json.load(open(mp))
        del m["ts"]
        _json.dump(m, open(mp, "w"))
    ts3 = V._read_manifest(p, 3)["ts"]
    with pytest.raises(ValueError, match="at-or-before"):
        V.resolve_as_of(p, ts3 - 0.001)  # below the first stamp
    assert V.resolve_as_of(p, ts3) == 3
    assert V.resolve_as_of(p, ts3 + 100) == 3


# --- named refs (tags / branches) -------------------------------------------


def test_tag_pins_snapshot_and_vacuum_protects(spark, tmp_path):
    """A tag is immutable, readable by name forever, and pins its
    version through vacuum (Iceberg's ref retention)."""
    from fdf_spark.sources.versioned import create_tag, drop_ref, list_refs

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)                      # v1
    create_tag(p, "train-2026-08", 1)
    commit_version(_df(spark, 10, 20), p, mode="overwrite")   # v2
    commit_version(_df(spark, 20, 30), p, mode="overwrite")   # v3
    with pytest.raises(ValueError, match="already exists"):
        create_tag(p, "train-2026-08", 3)
    # vacuum keeps head + the tagged version; v2 dies
    vacuum(p, keep=1, orphan_grace_s=0.0)
    assert list_versions(p) == [1, 3]
    got = sorted(
        r.k for r in read_version(spark, p, ref="train-2026-08").collect()
    )
    assert got == list(range(10))
    assert list_refs(p)["train-2026-08"]["type"] == "tag"
    # untagged, the old snapshot is reclaimable again
    drop_ref(p, "train-2026-08")
    vacuum(p, keep=1, orphan_grace_s=0.0)
    assert list_versions(p) == [3]


def test_branch_moves_tag_refuses(spark, tmp_path):
    from fdf_spark.sources.versioned import (
        create_branch,
        create_tag,
        resolve_ref,
        set_branch,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)   # v1
    commit_version(_df(spark, 10, 20), p)  # v2
    create_branch(p, "dev", 1)
    assert resolve_ref(p, "dev") == 1
    assert read_version(spark, p, ref="dev").count() == 10
    set_branch(p, "dev", 2)
    assert resolve_ref(p, "dev") == 2
    assert read_version(spark, p, ref="dev").count() == 20
    create_tag(p, "rel", 1)
    with pytest.raises(ValueError, match="immutable"):
        set_branch(p, "rel", 2)
    with pytest.raises(FileNotFoundError):
        resolve_ref(p, "nope")
    with pytest.raises(ValueError, match="at most one"):
        read_version(spark, p, version=1, ref="dev")


# --- write-audit-publish ------------------------------------------------


def test_wap_lifecycle_stage_audit_publish(spark, tmp_path):
    """The staged snapshot is invisible until publish; the audit read
    sees exactly what would land; publish is manifest-only."""
    from fdf_spark.sources.versioned import (
        _read_manifest,
        list_staged,
        publish_staged,
        read_staged,
        stage_commit,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)  # v1
    stage_commit(_df(spark, 10, 15), p, "batch-1")
    # no reader sees the staged batch
    assert read_version(spark, p).count() == 10
    assert list_versions(p) == [1]
    # the audit read sees parent + batch
    assert read_staged(spark, p, "batch-1").count() == 15
    assert list_staged(p) == ["batch-1"]
    with pytest.raises(ValueError, match="already staged"):
        stage_commit(_df(spark, 99, 100), p, "batch-1")
    v = publish_staged(spark, p, "batch-1")
    assert v == 2 and list_versions(p) == [1, 2]
    assert read_version(spark, p).count() == 15
    assert list_staged(p) == []
    m = _read_manifest(p, 2)
    assert m["meta"]["wap_id"] == "batch-1"
    # the staged bytes were fast-forwarded, not rewritten
    assert any("/data/w" in f for f in m["files"])


def test_wap_drop_deletes_staged_files(spark, tmp_path):
    from fdf_spark.sources.versioned import (
        _read_staged,
        drop_staged,
        list_staged,
        stage_commit,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    stage_commit(_df(spark, 10, 15), p, "bad-batch")
    staged_files = _read_staged(p, "bad-batch")["wap"]["staged_new_files"]
    assert staged_files and all(os.path.exists(f) for f in staged_files)
    removed = drop_staged(p, "bad-batch")
    assert sorted(removed) == sorted(staged_files)
    assert not any(os.path.exists(f) for f in staged_files)
    assert list_staged(p) == []
    assert read_version(spark, p).count() == 10


def test_wap_publish_rebases_append_over_moved_head(spark, tmp_path):
    """Commits landing between stage and publish fast-forward a staged
    APPEND manifest-only (the non-conflicting-append rule)."""
    from fdf_spark.sources.versioned import (
        _read_manifest,
        _read_staged,
        publish_staged,
        stage_commit,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)        # v1
    stage_commit(_df(spark, 10, 15), p, "b1")   # parent = v1
    commit_version(_df(spark, 20, 30), p)       # v2 lands first
    staged_files = _read_staged(p, "b1")["wap"]["staged_new_files"]
    v = publish_staged(spark, p, "b1")
    assert v == 3
    got = sorted(r.k for r in read_version(spark, p).collect())
    assert got == list(range(0, 15)) + list(range(20, 30))
    # the staged files attached verbatim — zero bytes rewritten
    m = _read_manifest(p, 3)
    assert all(f in m["files"] for f in staged_files)


def test_wap_staged_overwrite_conflicts_on_moved_head(spark, tmp_path):
    from fdf_spark.sources.versioned import (
        ConcurrentCommitError,
        drop_staged,
        publish_staged,
        stage_commit,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)                        # v1
    stage_commit(_df(spark, 100, 105), p, "ow", mode="overwrite")
    commit_version(_df(spark, 10, 20), p)                       # v2 lands
    with pytest.raises(ConcurrentCommitError, match="real conflict"):
        publish_staged(spark, p, "ow")
    drop_staged(p, "ow")
    assert read_version(spark, p).count() == 20


def test_wap_on_empty_table(spark, tmp_path):
    from fdf_spark.sources.versioned import publish_staged, read_staged, stage_commit

    p = str(tmp_path / "t")
    stage_commit(_df(spark, 0, 5), p, "first")
    assert list_versions(p) == []
    assert read_staged(spark, p, "first").count() == 5
    assert publish_staged(spark, p, "first") == 1
    assert read_version(spark, p).count() == 5


def test_vacuum_protects_staged_batch_and_its_parent_files(spark, tmp_path):
    """A staged WAP snapshot pins its files — the batch's own AND its
    parent's (publish may still fast-forward them into a live
    version) — through any vacuum."""
    from fdf_spark.sources.versioned import publish_staged, stage_commit

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)       # v1
    stage_commit(_df(spark, 10, 15), p, "b1")  # parent = v1 (append)
    commit_version(_df(spark, 20, 30), p, mode="overwrite")  # v2
    commit_version(_df(spark, 30, 40), p, mode="overwrite")  # v3
    vacuum(p, keep=1, orphan_grace_s=0.0)
    # v1's manifest is gone, but the staged manifest kept every file
    # it references alive; publish rebases onto v3 and reads clean
    assert publish_staged(spark, p, "b1") == 4
    got = sorted(r.k for r in read_version(spark, p).collect())
    assert got == list(range(10, 15)) + list(range(30, 40))


def test_wap_rebase_detects_concurrent_column_remap(spark, tmp_path):
    """A rename landing between stage and publish re-maps the physical
    naming the staged bytes carry — the rebase must refuse."""
    from fdf_spark.sources.versioned import (
        ConcurrentCommitError,
        publish_staged,
        rename_column,
        stage_commit,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)       # v1: columns (k, v)
    stage_commit(_df(spark, 10, 15), p, "b1")  # staged bytes carry "v"
    rename_column(p, "v", "v2")                # v2: logical v2 -> physical v
    with pytest.raises(ConcurrentCommitError):
        publish_staged(spark, p, "b1")


def test_wap_and_commit_rebase_agree_over_concurrent_drop(spark, tmp_path, monkeypatch):
    """A batch that never carried ``y`` rebases over a concurrent
    drop_column(y) on BOTH append paths: publish_staged binds the staged
    files with the batch's own schema (not the staged snapshot's, which
    still lists the retired ``y``), exactly like
    commit_version(on_conflict="rebase"), and both land the same
    snapshot."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.sources.versioned import (
        _read_manifest,
        drop_column,
        publish_staged,
        stage_commit,
    )

    base = spark.createDataFrame([(1, 10), (2, 20)], "k long, y long")
    batch = spark.createDataFrame([(3,)], "k long")

    pw = str(tmp_path / "wap")
    commit_version(base, pw)         # v1: (k, y)
    stage_commit(batch, pw, "nb")    # staged over v1
    drop_column(pw, "y")             # v2 retires physical y
    assert publish_staged(spark, pw, "nb") == 3

    pc = str(tmp_path / "cv")
    commit_version(base, pc)
    real_publish = V._publish_manifest_atomic
    state = {"raced": False}

    def racing_publish(staged, dst):
        if not state["raced"]:
            state["raced"] = True
            drop_column(pc, "y")     # takes v2 first
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    assert commit_version(batch, pc, on_conflict="rebase") == 3
    monkeypatch.undo()

    for p in (pw, pc):
        df = read_version(spark, p)
        assert df.columns == ["k"]
        assert sorted(r.k for r in df.collect()) == [1, 2, 3]
    mw, mc = _read_manifest(pw, 3), _read_manifest(pc, 3)
    for key in (
        "parent", "mode", "schema", "column_mapping", "retired_physical",
        "delete_files", "eq_deletes", "eq_applies", "partition_specs", "current_spec",
    ):
        assert mw.get(key) == mc.get(key), key
    assert sorted(mw["file_rows"].values()) == sorted(mc["file_rows"].values())


# --- restore (rollback-as-new-commit) ----------------------------------------


def test_restore_table_manifest_only_rollback(spark, tmp_path):
    """RESTORE resets head to an old snapshot as a NEW commit: data,
    schema, and delete masks all roll back; history stays readable;
    zero data files are written."""
    from fdf_spark.sources.versioned import (
        _read_manifest,
        create_tag,
        delete_where,
        restore_table,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)                       # v1
    commit_version(_df(spark, 10, 20), p)                      # v2 append
    delete_where(spark, p, "k = 5")                            # v3 (DV mask)
    commit_version(_df(spark, 100, 105), p, mode="overwrite")  # v4: the bad write
    assert read_version(spark, p).count() == 5
    v = restore_table(p, version=3)
    assert v == 5 and list_versions(p) == [1, 2, 3, 4, 5]
    got = sorted(r.k for r in read_version(spark, p).collect())
    assert got == [k for k in range(20) if k != 5]  # v3 state incl. its mask
    # manifest-only: the restored head references v3's files verbatim
    assert _read_manifest(p, 5)["files"] == _read_manifest(p, 3)["files"]
    assert _read_manifest(p, 5)["meta"] == {"restore": {"of": 3}}
    # history intact: the bad snapshot is still time-travelable
    assert sorted(r.k for r in read_version(spark, p, 4).collect()) == list(range(100, 105))
    # restore by ref; restoring the current state still lands a commit
    create_tag(p, "good", 3)
    assert restore_table(p, ref="good") == 6
    # restoring the head itself is a no-op
    assert restore_table(p, version=6) == 6
    # vacuum keeps the restored head's (= v3's) files
    vacuum(p, keep=1, orphan_grace_s=0.0)
    assert sorted(r.k for r in read_version(spark, p).collect()) == got


def test_restore_table_target_validation(spark, tmp_path):
    from fdf_spark.sources.versioned import restore_table

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(p)
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(p, version=1, ref="x")
    with pytest.raises(FileNotFoundError):
        restore_table(p, version=9)


def test_metadata_aggregate_through_ref(spark, tmp_path):
    from fdf_spark.sources.versioned import create_tag, metadata_aggregate

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    create_tag(p, "snap", 1)
    commit_version(_df(spark, 10, 30), p)
    got = metadata_aggregate(spark, p, ["k"], ref="snap")
    assert got["count"] == 10 and got["max"]["k"] == 9
    assert got["source"] == "metadata"
    with pytest.raises(ValueError, match="at most one"):
        metadata_aggregate(spark, p, version=1, ref="snap")


# --- delta-encoded manifests --------------------------------------------------


def test_delta_manifest_append_is_o_changed_files(spark, tmp_path):
    """A small append to a many-file table stores O(changed) manifest
    bytes, not O(table files); reads decode identically."""
    import json as _json

    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 20000).repartition(64), p)   # v1: 64 files, full
    commit_version(_df(spark, 20000, 20010).coalesce(1), p)   # v2: 1-file append
    raw1 = _json.load(open(V._manifest_path(p, 1)))
    raw2 = _json.load(open(V._manifest_path(p, 2)))
    assert "delta_base" not in raw1                       # first commit is full
    assert raw2["delta_base"] == 1                        # append stored as delta
    assert len(raw2.get("files_append", [])) == 1
    assert "stats" not in raw2 and len(raw2.get("stats__put", {})) == 1
    sz1 = os.path.getsize(V._manifest_path(p, 1))
    sz2 = os.path.getsize(V._manifest_path(p, 2))
    assert sz2 * 10 < sz1, (sz1, sz2)
    # decoded view is complete: stats carry over, reads see all rows
    m2 = V._read_manifest(p, 2)
    assert len(m2["files"]) == 65 and len(m2["stats"]) == 65
    assert read_version(spark, p).count() == 20010
    # a delete mask and a metadata-only rename also ride as deltas
    from fdf_spark.sources.versioned import delete_where, rename_column

    delete_where(spark, p, "k = 7")         # v3
    rename_column(p, "v", "v2")             # v4
    raw3 = _json.load(open(V._manifest_path(p, 3)))
    raw4 = _json.load(open(V._manifest_path(p, 4)))
    assert raw3["delta_base"] == 2 and "files" not in raw3 and "files_append" not in raw3
    assert raw4["delta_base"] == 3 and "column_mapping" in raw4
    got = read_version(spark, p)
    assert got.columns == ["k", "v2"] and got.count() == 20009


def test_delta_manifest_checkpoint_bounds_chain(spark, tmp_path):
    import json as _json

    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    for i in range(10):
        commit_version(_df(spark, i * 5, (i + 1) * 5).coalesce(1), p)
    raws = {v: _json.load(open(V._manifest_path(p, v))) for v in range(1, 11)}
    assert "delta_base" not in raws[1]
    assert "delta_base" not in raws[8]     # checkpoint at % _CHECKPOINT_EVERY
    for v in (2, 3, 4, 5, 6, 7, 9, 10):
        assert raws[v]["delta_base"] == v - 1
    assert read_version(spark, p).count() == 50
    assert len(V._read_manifest(p, 10)["files"]) == 10  # full decode through the chain


def test_vacuum_materializes_surviving_deltas(spark, tmp_path):
    """Vacuum deletes a delta chain's base manifests — survivors must
    re-root as full manifests first, never dangle."""
    import json as _json

    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    for i in range(5):
        commit_version(_df(spark, i * 10, (i + 1) * 10).coalesce(1), p)  # v1..v5
    before = sorted(map(tuple, read_version(spark, p).collect()))
    v4_full = V._read_manifest(p, 4)
    vacuum(p, keep=2, orphan_grace_s=0.0)  # v1..v3 die; v4 was a delta of v3
    assert list_versions(p) == [4, 5]
    raw4 = _json.load(open(V._manifest_path(p, 4)))
    assert "delta_base" not in raw4            # materialized full
    assert V._read_manifest(p, 4) == v4_full   # same decoded content
    raw5 = _json.load(open(V._manifest_path(p, 5)))
    assert raw5.get("delta_base") == 4         # still a delta of a LIVE base
    assert sorted(map(tuple, read_version(spark, p).collect())) == before


def test_delta_manifest_overwrite_and_restore_roundtrip(spark, tmp_path):
    from fdf_spark.sources.versioned import restore_table

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)                       # v1
    commit_version(_df(spark, 50, 60), p, mode="overwrite")    # v2: files replaced
    commit_version(_df(spark, 60, 70), p)                      # v3: append
    restore_table(p, version=1)                                # v4
    assert sorted(r.k for r in read_version(spark, p).collect()) == list(range(10))
    assert sorted(r.k for r in read_version(spark, p, 3).collect()) == list(range(50, 70))


def test_diff_versions_accepts_refs_and_cache_integrity(spark, tmp_path):
    """Ref endpoints in diff_versions; and the decoded-manifest cache
    can never serve a stale decode across vacuum's delta
    materialization (file-stat keyed)."""
    from fdf_spark.sources.versioned import create_tag, diff_versions

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)   # v1
    create_tag(p, "base", 1)
    commit_version(_df(spark, 10, 15), p)  # v2
    d = diff_versions(spark, p, "base", 2)
    assert sorted(r.k for r in d.collect()) == list(range(10, 15))
    assert {r.change for r in d.collect()} == {"insert"}
    # warm the cache on v2 (a delta), then vacuum materializes it —
    # the rewritten file must re-decode, not serve the cached delta
    from fdf_spark.sources.versioned import _manifest_path, drop_ref

    commit_version(_df(spark, 15, 20), p)  # v3
    before = sorted(r.k for r in read_version(spark, p, 2).collect())
    drop_ref(p, "base")                    # untag so v1 can actually die
    vacuum(p, keep=2, orphan_grace_s=0.0)  # v1 dies; v2 materializes
    import json as _json

    assert "delta_base" not in _json.load(open(_manifest_path(p, 2)))
    assert sorted(r.k for r in read_version(spark, p, 2).collect()) == before


def test_wap_publish_rebase_inherits_concurrent_masks(spark, tmp_path):
    """Deletes (positional AND equality) landing between stage and
    publish survive the rebase: the published snapshot carries the
    head's masks, and the staged files — newer than every mask —
    inherit none (the sequence rule)."""
    from fdf_spark.sources.versioned import (
        delete_keys,
        delete_where,
        publish_staged,
        stage_commit,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)        # v1
    stage_commit(_df(spark, 3, 6), p, "b1")     # re-lands keys 3..5 as NEW rows
    delete_where(spark, p, "k = 2")             # v2: positional mask
    delete_keys(spark, p, spark.createDataFrame([(4,)], "k long"), ["k"])  # v3: eq mask
    v = publish_staged(spark, p, "b1")
    assert v == 4
    got = sorted(r.k for r in read_version(spark, p).collect())
    # base 0..9 minus {2,4}, plus the staged 3,4,5 (all live: staged
    # files are newer than both masks)
    assert got == [0, 1, 3, 3, 4, 5, 5, 6, 7, 8, 9]


def test_wap_publish_rebases_over_concurrent_optimize(spark, tmp_path):
    """OPTIMIZE between stage and publish replaces every base file —
    the staged append still fast-forwards onto the compacted head."""
    from fdf_spark.sources.versioned import optimize as vt_optimize
    from fdf_spark.sources.versioned import publish_staged, stage_commit

    p = str(tmp_path / "t")
    for i in range(4):
        commit_version(_df(spark, i * 10, (i + 1) * 10).repartition(3), p)
    stage_commit(_df(spark, 100, 105), p, "b1")
    vt_optimize(spark, p, small_bytes=None)  # compacts the 12 small files
    v = publish_staged(spark, p, "b1")
    got = sorted(r.k for r in read_version(spark, p, v).collect())
    assert got == list(range(40)) + list(range(100, 105))


def test_delete_keys_race_vs_append_rebases_manifest_only(spark, tmp_path, monkeypatch):
    """delete_keys lost-race recovery (VERDICT r11 #1): a concurrent
    blind APPEND is compatible — the eq entry's scope is parent-time by
    the sequence rule, so the loser re-bases MANIFEST-ONLY (the staged
    key relation still lives under its original stage dir, the racer's
    appended file is never scoped).  A concurrent delete that re-masked
    a scoped file is a real conflict and raises."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark).repartition(4), p)  # v1: k 0..99

    real_publish = V._publish_manifest_atomic
    state = {"raced": False}

    def racing_publish(staged, dst):
        if not state["raced"]:
            state["raced"] = True
            commit_version(
                spark.createDataFrame([(9001, 1, 0)], "k long, v long, g long"),
                p, mode="append",
            )
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    v = V.delete_keys(spark, p, spark.createDataFrame([(3,), (4,)], "k long"), ["k"])
    monkeypatch.undo()
    assert v == 3  # racer took v2, the delete re-based onto it
    df = read_version(spark, p)
    assert df.filter("k in (3, 4)").count() == 0
    assert df.filter("k = 9001").count() == 1  # racer's row live
    assert df.count() == 100 - 2 + 1
    # manifest-only: the key relation still lives under its v2 stage dir
    m3 = V._read_manifest(p, 3)
    assert all(
        "/e00000002-" in f for e in m3["eq_deletes"].values() for f in e["files"]
    )
    # sequence rule: the racer's appended file is NOT scoped by the entry
    racer_files = set(m3["files"]) - set(V._read_manifest(p, 1)["files"])
    assert racer_files and all(f not in m3["eq_applies"] for f in racer_files)

    # a racer that re-masked a SCOPED file → real conflict, re-raises
    # (k=5's own file is necessarily scoped by a delete of key 5)
    state2 = {"raced": False}

    def conflicting_publish(staged, dst):
        if not state2["raced"]:
            state2["raced"] = True
            V.delete_where(spark, p, "k = 5")
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", conflicting_publish)
    with pytest.raises(V.ConcurrentCommitError):
        V.delete_keys(spark, p, spark.createDataFrame([(5,)], "k long"), ["k"])


def test_merge_mor_race_vs_disjoint_append_rebases_manifest_only(
    spark, tmp_path, monkeypatch
):
    """merge_on_read lost-race recovery, case (a) of VERDICT r11 #1: a
    CDC merge racing a blind append whose keys are DISJOINT from the
    change set lands manifest-only — the rebase probes ZERO files (the
    racer's file is pruned by key bounds) and restages nothing."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.sources.versioned import merge_on_read

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark).repartition(4), p)  # v1: k 0..99

    real_publish = V._publish_manifest_atomic
    state = {"raced": False}

    def racing_publish(staged, dst):
        if not state["raced"]:
            state["raced"] = True
            commit_version(
                spark.createDataFrame([(9001, 1, 0)], "k long, v long, g long"),
                p, mode="append",
            )
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    ch = spark.createDataFrame(
        [(5, 555, 0, False), (300, 300, 1, False)],
        "k long, v long, g long, is_del boolean",
    )
    v = merge_on_read(spark, p, ch, ["k"], delete_flag="is_del")
    monkeypatch.undo()
    assert v == 3
    meta = V._read_manifest(p, 3)["meta"]["merge_on_read"]
    assert meta["rebase"] == {
        "probed_files": 0, "extra_deleted_positions": 0, "corrected_files": 0,
    }
    df = read_version(spark, p)
    assert df.filter("k = 5").first().v == 555
    assert df.filter("k = 300").count() == 1 and df.filter("k = 9001").count() == 1
    assert df.count() == 100 + 1 + 1


def test_merge_mor_race_vs_inserted_matched_key_reprobes(spark, tmp_path, monkeypatch):
    """merge_on_read lost-race recovery, case (b) of VERDICT r11 #1: a
    racer blind-appending keys the change set touches forces the
    re-probe — the racer's rows are tombstoned, our stale staged image
    is replaced by a corrected image over the racer's values, and the
    one-live-row-per-key contract holds (delete keys reach the racer's
    row too)."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.sources.versioned import merge_on_read

    p = str(tmp_path / "t")
    commit_version(_orders_df(spark).repartition(4), p)  # v1: k 0..99

    real_publish = V._publish_manifest_atomic
    state = {"raced": False}

    def racing_publish(staged, dst):
        if not state["raced"]:
            state["raced"] = True
            commit_version(
                spark.createDataFrame(
                    [(500, 1, 77), (600, 2, 88)], "k long, v long, g long"
                ),
                p, mode="append",
            )
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    # the merge INSERTS k=500 (payload carries only v → g would be
    # NULL), updates k=7, deletes k=600 — and the racer lands rows for
    # 500 AND 600 during the race
    ch = spark.createDataFrame(
        [(500, 5000, False), (7, 777, False), (600, None, True)],
        "k long, v long, is_del boolean",
    )
    v = merge_on_read(spark, p, ch, ["k"], update_cols=["v"], delete_flag="is_del")
    monkeypatch.undo()
    assert v == 3
    meta = V._read_manifest(p, 3)["meta"]["merge_on_read"]
    assert meta["rebase"]["probed_files"] >= 1
    assert meta["rebase"]["corrected_files"] >= 1
    df = read_version(spark, p)
    r500 = df.filter("k = 500").collect()
    # ONE live row; the corrected image carries the racer's g (the
    # merge serializes AFTER the append), not the stale NULL insert
    assert len(r500) == 1 and r500[0].v == 5000 and r500[0].g == 77
    assert df.filter("k = 7").first().v == 777
    assert df.filter("k = 600").count() == 0  # the delete reached the racer's row
    assert df.count() == 100 + 1


def test_register_versioned_view_pins_snapshot(spark, tmp_path):
    """SQL snapshot views (VERDICT r11 #3): spark.sql reads the
    versioned substrate through a pinned temp view; commits landing
    after registration never leak in (snapshot immutability); refs and
    the _snapshots metadata view work; bad input raises."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)        # v1
    commit_version(_df(spark, 10, 30), p)       # v2
    V.create_tag(p, "audit", 1)
    assert V.register_versioned_view(spark, p, "vv_head") == 2
    assert V.register_versioned_view(spark, p, "vv_tag", ref="audit") == 1
    assert spark.sql("SELECT COUNT(*) AS n FROM vv_head").first().n == 30
    assert spark.sql("SELECT COUNT(*) AS n FROM vv_tag").first().n == 10
    # later commits (append AND a delete) never leak into pinned views
    commit_version(_df(spark, 30, 35), p)
    V.delete_where(spark, p, "k < 5")
    assert spark.sql("SELECT COUNT(*) AS n FROM vv_head").first().n == 30
    assert spark.sql("SELECT COUNT(*) AS n FROM vv_tag").first().n == 10
    h = spark.sql(
        "SELECT version, n_rows FROM vv_head_snapshots ORDER BY version"
    ).collect()
    assert [r.version for r in h] == [1, 2] and h[-1].n_rows == 30
    with pytest.raises(ValueError, match="at most one"):
        V.register_versioned_view(spark, p, "x", version=1, ref="audit")
    with pytest.raises(ValueError, match="invalid view name"):
        V.register_versioned_view(spark, p, "bad name!")
    for vname in ("vv_head", "vv_tag", "vv_head_snapshots", "vv_tag_snapshots"):
        spark.catalog.dropTempView(vname)


def test_follow_head_view_tracks_commits(spark, tmp_path):
    """Follow-head SQL views (VERDICT r12 #4): a follow=True view sees
    every same-session engine commit WITHOUT re-registration, while a
    pinned view registered alongside stays frozen."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)                       # v1
    assert V.register_versioned_view(spark, p, "fv_pin") == 1
    assert V.register_versioned_view(spark, p, "fv_follow", follow=True) == 1
    commit_version(_df(spark, 10, 30), p)                      # v2 (append)
    assert spark.sql("SELECT COUNT(*) AS n FROM fv_follow").first().n == 30
    assert spark.sql("SELECT COUNT(*) AS n FROM fv_pin").first().n == 10
    V.delete_where(spark, p, "k < 5")                          # v3 (MoR delete)
    assert spark.sql("SELECT COUNT(*) AS n FROM fv_follow").first().n == 25
    assert spark.sql("SELECT COUNT(*) AS n FROM fv_pin").first().n == 10
    # the _snapshots companion follows too
    h = spark.sql("SELECT MAX(version) AS v FROM fv_follow_snapshots").first().v
    assert h == 3
    V.unregister_versioned_view(spark, "fv_pin")
    V.unregister_versioned_view(spark, "fv_follow")


def test_follow_branch_view_tracks_set_branch(spark, tmp_path):
    """follow='<branch>' re-resolves the branch pointer: set_branch
    moves the view; tags refuse to be followed."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)        # v1
    commit_version(_df(spark, 10, 30), p)       # v2
    V.create_branch(p, "dev", 1)
    V.create_tag(p, "rel", 1)
    assert V.register_versioned_view(spark, p, "fb_dev", follow="dev") == 1
    assert spark.sql("SELECT COUNT(*) AS n FROM fb_dev").first().n == 10
    V.set_branch(p, "dev", 2)
    assert spark.sql("SELECT COUNT(*) AS n FROM fb_dev").first().n == 30
    with pytest.raises(ValueError, match="not a branch"):
        V.register_versioned_view(spark, p, "fb_bad", follow="rel")
    with pytest.raises(ValueError, match="exclusive"):
        V.register_versioned_view(spark, p, "fb_bad", follow=True, version=1)
    V.unregister_versioned_view(spark, "fb_dev")


def test_refresh_versioned_views_recovers_external_commits(spark, tmp_path, monkeypatch):
    """Commits from ANOTHER process don't fire the in-session hook;
    refresh_versioned_views re-resolves and re-registers loudly."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    V.register_versioned_view(spark, p, "rv_follow", follow=True)
    # simulate an external committer: the in-session refresh hook is dark
    monkeypatch.setattr(V, "_refresh_follow_views", lambda path: None)
    commit_version(_df(spark, 10, 30), p)
    monkeypatch.undo()
    assert spark.sql("SELECT COUNT(*) AS n FROM rv_follow").first().n == 10  # stale
    out = V.refresh_versioned_views(spark)
    assert out == {"rv_follow": 2}
    assert spark.sql("SELECT COUNT(*) AS n FROM rv_follow").first().n == 30
    V.unregister_versioned_view(spark, "rv_follow")


def test_metadata_table_views_register_and_follow(spark, tmp_path):
    """metadata_tables=True (r13): the operability relations register
    as <name>_* SQL views; a follower re-materializes them per commit."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)
    V.create_tag(p, "first")
    V.register_versioned_view(spark, p, "mv", follow=True, metadata_tables=True)
    assert spark.sql("SELECT COUNT(*) AS n FROM mv_files").first().n >= 1
    assert spark.sql("SELECT name FROM mv_refs").first().name == "first"
    assert spark.sql("SELECT COUNT(*) AS n FROM mv_blooms").first().n >= 1
    assert spark.sql("SELECT COUNT(*) AS n FROM mv_partitions").first().n >= 1
    n_files0 = spark.sql("SELECT COUNT(*) AS n FROM mv_files").first().n
    commit_version(_df(spark, 10, 30), p)  # follower refresh re-materializes
    assert spark.sql("SELECT COUNT(*) AS n FROM mv_files").first().n > n_files0
    assert spark.sql("SELECT COUNT(*) AS n FROM mv").first().n == 30
    V.unregister_versioned_view(spark, "mv")
    assert "mv_files" not in [t.name for t in spark.catalog.listTables()]


def test_date_stats_record_and_prune(spark, tmp_path):
    """r13: date columns get manifest [min, max] stats (epoch-day ints,
    order-preserving) so date range/equality probes prune files; probe
    values canonicalize the same way.  Since r14 timestamps are
    recorded too (epoch-micros ints — the engine writes
    TIMESTAMP_MICROS, whose footer stats are exact UTC instants)."""
    import datetime as dt

    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    df = spark.range(0, 3000).select(
        F.date_add(F.lit("2021-01-01").cast("date"), (F.col("id") / 10).cast("int")).alias("d"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id")).alias("ts"),
        F.col("id").alias("k"),
    )
    # range-clustered on d: each file covers a narrow date span
    commit_version(df.repartitionByRange(6, "d"), p)
    m = V._read_manifest(p, 1)
    st = m["stats"][m["files"][0]]
    assert isinstance(st["d"][0], int)      # epoch-day ints
    assert isinstance(st["ts"][0], int)     # epoch-micros ints (r14)
    probe = read_version(
        spark, p, prune=("d", dt.date(2021, 1, 1), dt.date(2021, 1, 10))
    )
    assert len(probe.inputFiles()) < 6      # range prune works
    want = read_version(spark, p).filter("d <= date'2021-01-10'").count()
    assert probe.filter("d <= date'2021-01-10'").count() == want  # no loss
    # equality probe on an absent date prunes everything
    empty = read_version(spark, p, prune=("d", [dt.date(1990, 1, 1)]))
    assert (empty.inputFiles() or []) == []
    # timestamp probes prune through the epoch-micros stats (r14) and
    # never lose the probed row
    t0 = read_version(spark, p).agg(F.min("ts")).first()[0]
    got = read_version(spark, p, prune=("ts", [t0]))
    assert got.filter(F.col("ts") == F.lit(t0)).count() == 1


def test_zorder_on_date_column(spark, tmp_path):
    """r13: multi-column Z-ORDER accepts temporal columns (epoch
    mapping into the Morton key — previously an AnalysisException)."""
    from fdf_spark.sources.versioned import optimize

    p = str(tmp_path / "t")
    df = spark.range(0, 20000).select(
        F.date_add(F.lit("2020-01-01").cast("date"), ((F.col("id") * 37) % 500).cast("int")).alias("d"),
        (F.col("id") % 100).alias("g"),
    )
    commit_version(df.repartition(6), p)
    res = optimize(spark, p, zorder=["d", "g"], target_bytes=100_000)
    assert res["rewritten"] == 6
    assert read_version(spark, p).count() == 20000


def test_timestamp_manifest_stats_range_prune(spark, tmp_path):
    """r14 (VERDICT r13 #3): timestamp columns get manifest [min, max]
    stats as epoch-micros ints — the engine writes TIMESTAMP_MICROS
    (isAdjustedToUTC), so footer stats are exact instants — and
    event-time range probes prune files.  Aware probe datetimes
    canonicalize exactly; naive ones only when the session and OS
    zones agree on the offset; under a session-tz override the naive
    instant is provenance-ambiguous (classic collect is OS-local wall,
    toPandas/SQL literals are session wall) and the check SELF-SKIPS —
    all files kept, never a false prune."""
    import datetime as dt

    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    df = spark.range(0, 6000).select(
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 60).alias("ts"),
        F.col("id").alias("k"),
    )
    commit_version(df.repartitionByRange(6, "ts"), p)
    st = V._read_manifest(p, 1)["stats"]
    assert all(isinstance(s["ts"][0], int) for s in st.values())
    # event-time range scan — THE 100 TB predicate shape
    lo = dt.datetime.fromtimestamp(1_600_000_000, dt.timezone.utc)
    hi = lo + dt.timedelta(minutes=500)
    probe = read_version(spark, p, prune=("ts", lo, hi))
    assert len(probe.inputFiles()) < 6
    want = read_version(spark, p).filter("k <= 500").count()
    assert probe.filter("k <= 500").count() == want  # no loss
    # naive equality probe under the DEFAULT config (session == OS zone
    # in tests' UTC session): exact — prunes AND finds the row
    t0 = read_version(spark, p).agg(F.min("ts")).first()[0]
    assert t0.tzinfo is None  # classic collect returns naive
    got = read_version(spark, p, prune=("ts", [t0]))
    assert len(got.inputFiles()) < 6
    assert got.filter(F.col("ts") == F.lit(t0)).count() == 1
    # session-tz override: naive probes self-skip (keep all), aware
    # probes stay exact
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    override = "Etc/GMT-14" if old != "Etc/GMT-14" else "Etc/GMT+12"
    spark.conf.set(key, override)
    try:
        kept = read_version(spark, p, prune=("ts", [t0]))
        assert len(kept.inputFiles()) == 6  # ambiguous → no pruning
        assert kept.filter(F.col("ts") == F.lit(t0)).count() == 1  # never lost
        aware = t0.astimezone()  # the exact instant (OS-local reading)
        exact = read_version(spark, p, prune=("ts", [aware]))
        assert len(exact.inputFiles()) < 6
        assert exact.filter(F.col("ts") == F.lit(t0)).count() == 1
    finally:
        spark.conf.set(key, old)


def test_timestamp_predicate_bounds_from_sql_literal(spark, tmp_path):
    """r14: delete_where / update_where SQL conditions with TIMESTAMP
    literals derive file bounds — Catalyst renders the literal as a
    session-zone wall string, which recovers the exact instant
    (provenance-free), so an event-time-scoped DELETE touches only the
    overlapping files."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    df = spark.range(0, 6000).select(
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 60).alias("ts"),
        F.col("id").alias("k"),
    )
    commit_version(df.repartitionByRange(6, "ts"), p)
    b = V._predicate_bounds(
        spark, read_version(spark, p).schema,
        "ts >= TIMESTAMP'2020-09-13 13:26:40' AND ts < TIMESTAMP'2020-09-13 15:00:00'",
    )
    assert "ts" in b and b["ts"][0] is not None and b["ts"][1] is not None
    from fdf_spark.sources.versioned import delete_where

    v = delete_where(spark, p, "ts < TIMESTAMP'2020-09-13 14:06:40'")  # first 100 rows
    meta = V._read_manifest(p, v)["meta"]
    assert read_version(spark, p).count() == 5900
    assert read_version(spark, p).filter("k < 100").count() == 0


def test_metadata_aggregate_temporal_extremes(spark, tmp_path):
    """r14: min/max of date AND timestamp columns answer from the
    manifest (epoch-day/epoch-micros stats converted back through
    pyspark's own fromInternal — bit-identical to a scan's collect),
    proven metadata-only by answering after the data files are gone."""
    import glob
    import os

    from fdf_spark.sources.versioned import metadata_aggregate

    p = str(tmp_path / "t")
    df = spark.range(0, 5000).select(
        F.date_add(F.lit("2021-03-01").cast("date"), (F.col("id") % 700).cast("int")).alias("d"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 977).alias("ts"),
        F.col("id").alias("k"),
    )
    commit_version(df.repartition(4), p)
    scan = read_version(spark, p).agg(
        F.min("d"), F.max("d"), F.min("ts"), F.max("ts")
    ).first()
    got = metadata_aggregate(spark, p, ["d", "ts"])
    assert got["source"] == "metadata"
    assert (got["min"]["d"], got["max"]["d"]) == (scan[0], scan[1])
    assert (got["min"]["ts"], got["max"]["ts"]) == (scan[2], scan[3])
    # metadata-only: still answers after every data page is gone
    for f in glob.glob(os.path.join(p, "data", "*", "*.parquet")):
        os.remove(f)
    again = metadata_aggregate(spark, p, ["d", "ts"])
    assert again == got


def test_zorder_on_timestamp_column(spark, tmp_path):
    """r14: Z-ORDER accepts timestamp columns (epoch-micros Morton
    mapping via the manifest stats) and the reclustered layout serves
    event-time range prunes."""
    import datetime as dt

    from fdf_spark.sources.versioned import optimize

    p = str(tmp_path / "t")
    df = spark.range(0, 50000).select(
        F.timestamp_seconds(F.lit(1_600_000_000) + (F.col("id") * 37) % 500000).alias("ts"),
        (F.col("id") % 100).alias("g"),
    )
    commit_version(df.repartition(6), p)
    res = optimize(spark, p, zorder=["ts", "g"], target_bytes=100_000)
    assert res["rewritten"] == 6
    assert read_version(spark, p).count() == 50000
    lo = dt.datetime.fromtimestamp(1_600_000_000, dt.timezone.utc)
    probe = read_version(spark, p, prune=("ts", lo, lo + dt.timedelta(seconds=50000)))
    n_files = len(read_version(spark, p).inputFiles())
    assert len(probe.inputFiles()) < n_files


# ---------------------------------------------------------------------------
# table_changes — per-commit change feed (Delta CDF parity, r14)
# ---------------------------------------------------------------------------


def _tc_base(spark, tmp_path):
    from fdf_spark.sources.sqldml import execute_dml

    p = str(tmp_path / "tc")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("long").alias("v")
    )
    commit_version(df, p)                                        # v1: 20 inserts
    execute_dml(spark, p, "UPDATE t SET v = v + 1 WHERE k % 5 = 0")  # v2: 4 updates
    execute_dml(spark, p, "DELETE FROM t WHERE k >= 18")             # v3: 2 deletes
    return p


def test_table_changes_classifies_updates(spark, tmp_path):
    from fdf_spark.sources.versioned import table_changes

    p = _tc_base(spark, tmp_path)
    feed = table_changes(spark, p, 2, keys=["k"])
    got = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in feed.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert got == {
        (2, "update_preimage"): 4,
        (2, "update_postimage"): 4,
        (3, "delete"): 2,
    }
    # pre/postimages carry the actual old/new values
    post = {
        r["k"]: r["v"]
        for r in feed.filter("_change_type = 'update_postimage'").collect()
    }
    assert post == {0: 1, 5: 51, 10: 101, 15: 151}
    pre = {
        r["k"]: r["v"]
        for r in feed.filter("_change_type = 'update_preimage'").collect()
    }
    assert pre == {0: 0, 5: 50, 10: 100, 15: 150}
    # without keys the same commits surface raw insert/delete pairs
    raw = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in table_changes(spark, p, 2)
        .groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert raw == {(2, "insert"): 4, (2, "delete"): 4, (3, "delete"): 2}


def test_table_changes_initial_commit_and_dv_deletes(spark, tmp_path):
    from fdf_spark.sources.versioned import delete_keys, table_changes

    p = _tc_base(spark, tmp_path)
    # v4: a deletion-vector (merge-on-read) delete surfaces as deletes too
    delete_keys(spark, p, spark.createDataFrame([(3,), (7,)], "k long"), ["k"])
    feed = table_changes(spark, p, 1, keys=["k"])
    n = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in feed.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert n[(1, "insert")] == 20
    assert n[(4, "delete")] == 2
    assert sorted(
        r["k"] for r in feed.filter(
            "_commit_version = 4 AND _change_type = 'delete'").collect()
    ) == [3, 7]


def test_table_changes_skips_metadata_only_and_null_fills(spark, tmp_path):
    from fdf_spark.sources.versioned import add_column, table_changes

    p = _tc_base(spark, tmp_path)
    add_column(p, "tag", "string")                               # v4: metadata-only
    commit_version(
        spark.createDataFrame([(100, 7, "new")], "k long, v long, tag string"),
        p,
    )                                                            # v5: 1 insert
    feed = table_changes(spark, p, 3, keys=["k"])
    rows = feed.collect()
    assert {r["_commit_version"] for r in rows} == {3, 5}        # v4 contributes nothing
    # the v3 deletes predate the tag column — NULL-filled by unionByName
    v3 = [r for r in rows if r["_commit_version"] == 3]
    assert all(r["tag"] is None for r in v3)
    v5 = [r for r in rows if r["_commit_version"] == 5]
    assert v5[0]["tag"] == "new" and v5[0]["_change_type"] == "insert"


def test_table_changes_refs_timestamps_and_empty_range(spark, tmp_path):
    import datetime as dt

    from fdf_spark.sources.versioned import (
        _read_manifest,
        add_column,
        create_tag,
        table_changes,
    )

    p = _tc_base(spark, tmp_path)
    create_tag(p, "upd", 2)
    feed = table_changes(spark, p, "upd", "upd")
    assert feed.count() == 8  # v2's raw delete+insert pairs
    # _commit_timestamp is the manifest's (monotonic-effective) stamp
    ts2 = _read_manifest(p, 2)["ts"]
    got = feed.select("_commit_timestamp").first()[0]
    want = dt.datetime.fromtimestamp(ts2)  # session tz == OS tz in tests
    assert abs((got - want).total_seconds()) < 1e-3
    # a pure-metadata range is a legal, EMPTY feed with the feed schema
    add_column(p, "extra", "long")                               # v4
    empty = table_changes(spark, p, 4, 4)
    assert empty.count() == 0
    for c in ("_change_type", "_commit_version", "_commit_timestamp"):
        assert c in empty.columns
    with pytest.raises(ValueError):
        table_changes(spark, p, 3, 2)
    with pytest.raises(ValueError):
        table_changes(spark, p, 0, 2)


def test_table_changes_restore_unmasks_deleted_rows(spark, tmp_path):
    # a restore to the snapshot before a merge-on-read delete keeps every
    # file and drops the tombstone: the deleted rows are live again, and
    # the feed shows them as inserts, batch and streaming fold alike
    from fdf_spark.sources.versioned import (
        change_feed_fold,
        delete_where,
        restore_table,
        table_changes,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10), p)                         # v1
    delete_where(spark, p, "k < 3")                              # v2
    restore_table(p, version=1)                                  # v3
    feed = table_changes(spark, p, 3)
    want = [(0, "insert"), (1, "insert"), (2, "insert")]
    assert sorted((r["k"], r["_change_type"]) for r in feed.collect()) == want
    seen = []
    fold = change_feed_fold(p, lambda d, v: seen.append((v, sorted((r["k"], r["change"]) for r in d.collect()))))
    fold(spark.createDataFrame([(3, 2, "overwrite")], "version long, parent long, mode string"), 0)
    assert seen == [(3, want)]


def test_change_feed_fold_skips_metadata_commits_of_any_mode(spark, tmp_path):
    # the skip rule reads manifests, not mode names: property edits and
    # ANALYZE (modes no name list ever held) contribute no delta, and
    # the data commits around them still arrive in version order
    from fdf_spark.sources.versioned import (
        _read_manifest,
        analyze_table,
        change_feed_fold,
        set_properties,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 5), p)                          # v1
    set_properties(p, {"owner": "etl"})                          # v2
    analyze_table(spark, p, ["k"])                               # v3
    commit_version(_df(spark, 5, 7), p)                          # v4
    modes = [_read_manifest(p, v)["mode"] for v in (2, 3)]
    assert modes == ["set-properties", "analyze"]
    seen = []
    fold = change_feed_fold(p, lambda d, v: seen.append((v, sorted(map(tuple, d.collect())))))
    events = spark.createDataFrame(
        [(v, v - 1 if v > 1 else None, _read_manifest(p, v)["mode"]) for v in (4, 3, 2, 1)],
        "version long, parent long, mode string",
    )
    fold(events, 0)
    assert [v for v, _ in seen] == [1, 4]
    assert seen[1][1] == [(5, 10, "insert"), (6, 12, "insert")]


def test_table_changes_skips_optimize_without_reading_it(spark, tmp_path):
    # an OPTIMIZE commit preserves content: the feed over a range that
    # holds one has exactly the rows of the commits around it (the
    # optimize's own diff is empty), and no file it wrote is scanned
    from fdf_spark.sources.versioned import (
        _read_manifest,
        delete_where,
        diff_versions,
        optimize,
        table_changes,
    )

    p = str(tmp_path / "t")
    commit_version(_df(spark, 0, 10).repartition(2), p)          # v1
    delete_where(spark, p, "k < 3")                              # v2: tombstones
    res = optimize(spark, p, target_bytes=1 << 20, small_bytes=1)  # v3: folds them
    commit_version(_df(spark, 100, 102), p)                      # v4
    assert res["version"] == 3 and diff_versions(spark, p, 2, 3).count() == 0
    written = set(_read_manifest(p, 3)["files"]) - set(_read_manifest(p, 2)["files"])
    assert written
    feed = table_changes(spark, p, 2, 4)
    scanned = {re.sub(r"^[a-z]+:/+", "/", f) for f in feed.inputFiles()}
    assert scanned and not scanned & written
    got = sorted((r["k"], r["_change_type"], r["_commit_version"]) for r in feed.collect())
    assert got == [
        (0, "delete", 2), (1, "delete", 2), (2, "delete", 2),
        (100, "insert", 4), (101, "insert", 4),
    ]


def test_versioned_reads_use_the_scan_seam():
    # every data-file read in the versioned-table sources goes through
    # _scan (the one physical read schema) and every delete-mask read
    # through _mask (the one broadcast gate); the other StructFields are
    # the logical-schema edits.  change_feed_fold keeps no mode-name
    # list and matches no error text
    import ast
    from collections import Counter
    from pathlib import Path

    import fdf_spark

    root = Path(fdf_spark.__file__).parent / "sources"
    found = Counter()
    for name in ("versioned.py", "bloomskip.py"):
        for fn in ast.parse((root / name).read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name == "_write_parquet_micros":
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    f = node.func
                    attr = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    if attr in ("StructField", "parquet", "broadcast"):
                        found[(name, fn.name, attr)] += 1
    assert found == Counter({
        ("versioned.py", "_scan", "StructField"): 1,
        ("versioned.py", "_scan", "parquet"): 1,
        ("versioned.py", "_mask", "parquet"): 3,
        ("versioned.py", "_mask", "broadcast"): 1,
        ("versioned.py", "rename_column", "StructField"): 1,
        ("versioned.py", "add_column", "StructField"): 1,
        ("versioned.py", "widen_column", "StructField"): 1,
    })
    fold = next(
        n for n in ast.walk(ast.parse((root / "versioned.py").read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "change_feed_fold"
    )
    for node in ast.walk(fold):
        assert not isinstance(node, (ast.Try, ast.ExceptHandler)), "fold catches an error"
        if isinstance(node, ast.Compare):
            for c in node.comparators:
                assert not isinstance(c, (ast.Tuple, ast.List, ast.Set)), "fold tests a mode list"
        if isinstance(node, ast.Call):
            assert getattr(node.func, "id", None) != "str", "fold matches an error message"


# ---------------------------------------------------------------------------
# analyze_table — table-level column statistics (r14)
# ---------------------------------------------------------------------------


def test_analyze_table_exact_values_and_persistence(spark, tmp_path):
    from fdf_spark.sources.versioned import analyze_table, table_column_stats

    p = str(tmp_path / "an")
    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") % 9).alias("g"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.concat(F.lit("value-"), F.col("id")))
        .alias("s"),
    )
    commit_version(df, p)
    st = analyze_table(spark, p, mode="exact")
    assert st["of_version"] == 1 and st["rows"] == 500 and st["mode"] == "exact"
    assert st["columns"]["k"] == {"ndv": 500, "nulls": 0, "avg_len": None, "max_len": None}
    assert st["columns"]["g"]["ndv"] == 9
    s = st["columns"]["s"]
    assert s["ndv"] == 400 and s["nulls"] == 100 and s["max_len"] == 9
    # stats persist across later commits INCLUDING full-manifest
    # checkpoints (every 8th version stores the whole manifest)
    for _ in range(9):
        commit_version(
            spark.range(1).select(
                F.col("id").alias("k"), F.lit(0).alias("g"), F.lit("x").alias("s")
            ),
            p,
        )
    head = table_column_stats(p)
    assert head is not None and head["of_version"] == 1
    # time travel: the pre-analyze snapshot has none
    assert table_column_stats(p, 1) is None
    # re-analyze REPLACES (head snapshot, new of_version)
    st2 = analyze_table(spark, p, cols=["k"], mode="exact")
    assert st2["of_version"] == 11 and st2["rows"] == 509
    assert list(st2["columns"]) == ["k"]


def test_analyze_table_approx_bounds_and_errors(spark, tmp_path):
    from fdf_spark.sources.versioned import analyze_table

    p = str(tmp_path / "anx")
    commit_version(
        spark.range(0, 4000).select(
            F.col("id").alias("k"), F.array(F.col("id")).alias("arr")
        ),
        p,
    )
    st = analyze_table(spark, p, cols=["k"], rsd=0.05)
    # HLL++ at rsd=0.05: allow 4 sigma
    assert abs(st["columns"]["k"]["ndv"] - 4000) <= 4000 * 0.20
    with pytest.raises(ValueError, match="not atomic"):
        analyze_table(spark, p, cols=["arr"])
    with pytest.raises(ValueError, match="not atomic"):
        analyze_table(spark, p, cols=["nosuch"])
    with pytest.raises(ValueError, match="mode"):
        analyze_table(spark, p, mode="maybe")
    # default cols: atomic only — arr silently excluded
    st2 = analyze_table(spark, p)
    assert list(st2["columns"]) == ["k"]


# ---------------------------------------------------------------------------
# table properties + append-only enforcement (r14)
# ---------------------------------------------------------------------------


def test_properties_roundtrip_inherit_and_time_travel(spark, tmp_path):
    from fdf_spark.sources.versioned import (
        set_properties,
        table_properties,
        unset_properties,
    )

    p = str(tmp_path / "props")
    commit_version(spark.range(10).select(F.col("id").alias("k")), p)
    set_properties(p, {"owner": "team-a", "retention.days": 7})
    assert table_properties(p) == {"owner": "team-a", "retention.days": "7"}
    # later commits inherit, including across a checkpoint boundary
    for _ in range(8):
        commit_version(spark.range(1).select(F.col("id").alias("k")), p)
    assert table_properties(p)["owner"] == "team-a"
    # merge semantics + idempotent unset
    set_properties(p, {"owner": "team-b"})
    unset_properties(p, ["retention.days", "never.was.set"])
    assert table_properties(p) == {"owner": "team-b"}
    # snapshots keep THEIR properties
    assert table_properties(p, 1) == {}
    assert table_properties(p, 2)["owner"] == "team-a"
    with pytest.raises(ValueError):
        set_properties(p, {})
    with pytest.raises(ValueError):
        set_properties(p, {"fdf.appendOnly": "maybe"})


def test_append_only_gate_blocks_every_write_shape(spark, tmp_path):
    from fdf_spark.sources.versioned import (
        delete_keys,
        delete_where,
        merge_on_read,
        optimize,
        restore_table,
        set_properties,
        unset_properties,
        update_where,
    )

    p = str(tmp_path / "ao")
    commit_version(
        spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v")),
        p,
    )
    set_properties(p, {"fdf.appendOnly": "true"})
    # appends and metadata commits still land
    commit_version(spark.range(3).select(F.col("id").alias("k"), F.lit(0).alias("v")), p)
    with pytest.raises(ValueError, match="append-only"):
        delete_where(spark, p, "k < 5")
    with pytest.raises(ValueError, match="append-only"):
        update_where(spark, p, "k < 5", {"v": "v + 1"})
    with pytest.raises(ValueError, match="append-only"):
        delete_keys(spark, p, spark.createDataFrame([(1,)], "k long"), ["k"])
    with pytest.raises(ValueError, match="append-only"):
        merge_on_read(
            spark, p,
            spark.createDataFrame([(1, 9)], "k long, v long"), ["k"],
        )
    with pytest.raises(ValueError, match="append-only"):
        commit_version(
            spark.range(1).select(F.col("id").alias("k"), F.lit(0).alias("v")),
            p, mode="overwrite",
        )
    with pytest.raises(ValueError, match="append-only"):
        restore_table(p, version=1)
    # OPTIMIZE is content-preserving — allowed
    assert optimize(spark, p, small_bytes=1 << 30)["rewritten"] > 0
    # unset (itself a commit) re-opens the table
    unset_properties(p, "fdf.appendOnly")
    assert delete_where(spark, p, "k < 5") > 0


# ---------------------------------------------------------------------------
# poll_changes / ack_changes — consumer offsets over the feed (r14)
# ---------------------------------------------------------------------------


def test_poll_ack_incremental_consumption(spark, tmp_path):
    from fdf_spark.sources.sqldml import execute_dml
    from fdf_spark.sources.versioned import (
        ack_changes,
        consumer_offsets,
        poll_changes,
    )

    p = str(tmp_path / "feed")
    commit_version(spark.range(10).select(F.col("id").alias("k")), p)
    commit_version(spark.range(10, 15).select(F.col("id").alias("k")), p)
    # first poll: the whole history
    feed, thru = poll_changes(spark, p, "etl-a")
    assert thru == 2 and feed.count() == 15
    # at-least-once: an unacked poll re-delivers
    feed2, thru2 = poll_changes(spark, p, "etl-a")
    assert thru2 == 2 and feed2.count() == 15
    ack_changes(p, "etl-a", thru)
    assert consumer_offsets(p) == {"etl-a": 2}
    # caught up
    assert poll_changes(spark, p, "etl-a") == (None, 2)
    # new commits deliver ONLY the delta
    execute_dml(spark, p, "DELETE FROM t WHERE k < 3")
    feed3, thru3 = poll_changes(spark, p, "etl-a")
    assert thru3 == 3
    rows = feed3.collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["k"] for r in rows) == [0, 1, 2]
    # a second consumer is independent and starts from scratch
    feedb, thrub = poll_changes(spark, p, "etl-b")
    assert thrub == 3 and feedb.count() == 18
    # ack discipline: rewind raises, same-version re-ack is a no-op
    ack_changes(p, "etl-a", 3)
    ack_changes(p, "etl-a", 3)
    with pytest.raises(ValueError, match="rewind"):
        ack_changes(p, "etl-a", 2)
    with pytest.raises(ValueError):
        ack_changes(p, "etl-a", 99)
    with pytest.raises(ValueError, match="consumer id"):
        poll_changes(spark, p, "bad/../id")


def test_restore_splits_policy_from_data_state(spark, tmp_path):
    from fdf_spark.sources.versioned import (
        analyze_table,
        restore_table,
        set_properties,
        table_column_stats,
        table_properties,
    )

    p = str(tmp_path / "rs")
    commit_version(spark.range(10).select(F.col("id").alias("k")), p)   # v1
    commit_version(spark.range(10, 30).select(F.col("id").alias("k")), p)  # v2
    analyze_table(spark, p, mode="exact")                               # v3 (stats of v2)
    set_properties(p, {"owner": "ops"})                                 # v4
    # restore to the PRE-stats, PRE-properties snapshot
    restore_table(p, version=1)                                         # v5
    # policy follows the head; stale stats are CLEARED (they described
    # 30 rows that no longer exist)
    assert table_properties(p) == {"owner": "ops"}
    assert table_column_stats(p) is None
    assert read_version(spark, p).count() == 10
    # restore to the analyzed snapshot: its stats ride along
    restore_table(p, version=3)                                         # v6
    cs = table_column_stats(p)
    assert cs is not None and cs["rows"] == 30 and cs["of_version"] == 2
    assert table_properties(p) == {"owner": "ops"}


def test_ack_markers_are_create_if_absent_and_forward_only(spark, tmp_path):
    """The ack race shape (two workers of one consumer acking
    concurrently): each ack is a create-if-absent marker file and the
    offset is the MAX marker — interleaved acks can only move forward,
    and a marker that lost the create race changes nothing."""
    import os

    from fdf_spark.sources.versioned import (
        _consumer_dir,
        ack_changes,
        consumer_offsets,
        poll_changes,
    )

    p = str(tmp_path / "ackr")
    for i in range(4):
        commit_version(
            spark.range(i * 5, i * 5 + 5).select(F.col("id").alias("k")), p
        )
    # worker A acks v2; worker B — which polled the same snapshot —
    # acks v3 "simultaneously"; then a STALE retry of A's ack(2)
    # arrives after B already moved the offset
    ack_changes(p, "c", 2)
    ack_changes(p, "c", 3)
    with pytest.raises(ValueError, match="rewind"):
        ack_changes(p, "c", 2)
    assert consumer_offsets(p) == {"c": 3}
    # a racing marker that appears OUT OF BAND (simulating the other
    # worker's create-if-absent landing between read and publish) can
    # only raise the max — never rewind
    d = _consumer_dir(p, "c")
    with open(os.path.join(d, "v4"), "w") as fh:
        fh.write("{}")
    assert consumer_offsets(p) == {"c": 4}
    assert poll_changes(spark, p, "c") == (None, 4)
    # re-ack of the winning version is an idempotent no-op
    ack_changes(p, "c", 4)
    # compaction removed superseded markers
    assert [f for f in os.listdir(d) if f.startswith("v")] == ["v4"]


def test_scoped_optimize_where(spark, tmp_path):
    from fdf_spark.sources.versioned import (
        _delete_map,
        _read_manifest,
        delete_where,
        diff_versions,
        optimize,
    )

    p = str(tmp_path / "sopt")
    df = spark.range(0, 80_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    commit_version(df.repartitionByRange(8, "k"), p)
    before = set(_read_manifest(p, 1)["files"])
    # a tombstone in the LOW key range — outside the scope below
    delete_where(spark, p, "k = 5")
    res = optimize(spark, p, zorder=["k", "v"], where="k >= 70000")
    # only the top-range file(s) rewrote; out-of-scope files untouched
    assert 1 <= res["rewritten"] <= 2
    after = _read_manifest(p, res["version"])
    kept = before & set(after["files"])
    assert len(kept) >= 6
    # rows identical through the scoped rewrite (masks respected)
    assert diff_versions(spark, p, 2, res["version"]).count() == 0
    assert read_version(spark, p).count() == 80_000 - 1
    # the out-of-scope tombstone debt was NOT folded
    assert any(_delete_map(after).values())
    # scoping to the dirty range folds it
    res2 = optimize(spark, p, where="k < 10000", small_bytes=1)
    after2 = _read_manifest(p, res2["version"])
    assert not any(_delete_map(after2).values())
    assert read_version(spark, p).count() == 80_000 - 1
    with pytest.raises(ValueError, match="stats-prunable"):
        optimize(spark, p, zorder=["k"], where="rand() > 0.5")


#: the keys a new manifest inherits from its head unless its writer owns them
_TABLE_STATE_KEYS = (
    "files", "stats", "file_rows", "delete_files", "eq_deletes", "eq_applies",
    "schema", "column_mapping", "retired_physical", "partition_specs",
    "current_spec", "file_specs", "tomb_rows", "file_bytes", "column_stats",
    "properties",
)


def test_metadata_writers_carry_table_state(spark, tmp_path):
    """Every metadata-only writer's new manifest equals its head on every
    table-state key except the keys that writer owns — positional and
    equality masks, partition specs, column stats and properties all
    survive each of them."""
    import fdf_spark.sources.versioned as V

    def rows(lo, hi):
        return spark.range(lo, hi, 1, 2).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            (F.col("id") % 7).alias("g"), F.col("id").cast("int").alias("i"),
        )

    p = str(tmp_path / "t")
    commit_version(rows(0, 40), p)
    V.set_partition_spec(p, ["g"])
    commit_version(rows(40, 80), p)
    V.delete_where(spark, p, "k = 3")
    V.delete_keys(spark, p, spark.createDataFrame([(5,)], "k long"), ["k"])
    V.analyze_table(spark, p)
    V.set_properties(p, {"owner": "etl", "tier": "gold"})
    head = V._read_manifest(p, list_versions(p)[-1])
    assert head["delete_files"] and head["eq_deletes"] and head["current_spec"] == 1

    writers = [
        (lambda: V.set_partition_spec(p, ["bucket(4, k)"]), {"partition_specs", "current_spec"}),
        (lambda: V.analyze_table(spark, p, mode="exact"), {"column_stats"}),
        (lambda: V.set_properties(p, {"a": "1"}), {"properties"}),
        (lambda: V.unset_properties(p, ["tier"]), {"properties"}),
        (lambda: V.rename_column(p, "v", "v2"), {"schema", "column_mapping"}),
        (lambda: V.add_column(p, "w", "string"), {"schema"}),
        (lambda: V.widen_column(p, "i", "long"), {"schema"}),
        (lambda: V.drop_column(p, "w"), {"schema", "retired_physical"}),
    ]
    for write, owned in writers:
        hv = list_versions(p)[-1]
        head = V._read_manifest(p, hv)
        write()
        assert list_versions(p)[-1] == hv + 1
        new = V._read_manifest(p, hv + 1)
        assert new["parent"] == hv
        for key in _TABLE_STATE_KEYS:
            if key not in owned:
                assert new.get(key) == head.get(key), (new["mode"], key)
        assert new.get("column_stats") and new.get("properties"), new["mode"]
    assert V.table_properties(p) == {"owner": "etl", "a": "1"}
