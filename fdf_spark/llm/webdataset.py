"""WebDataset-style tar-shard source/sink for training corpora.

The de-facto container for large multimodal training data is the
WebDataset convention (public: github.com/webdataset/webdataset): a
dataset is a directory of ``.tar`` shards; each SAMPLE is the group of
adjacent members sharing a basename key (``000123.txt``,
``000123.json``, ``000123.png`` …); trainers stream whole shards
sequentially, so the shard is both the I/O unit and the shuffle unit.

Reference parity: none (fdf has no export surface); this is the
training-data-pipeline extension (SURVEY §2.11, sits beside N24's
token-balanced shard export — N24 decides WHICH doc goes in which
shard, this module owns the CONTAINER).

Spark-first design:

- **Write**: one tar (or several, under a byte budget) per input
  partition, emitted by an Arrow kernel — executors write shards in
  parallel and return a manifest row per shard (path, samples, bytes);
  nothing corpus-sized ever reaches the driver.  Pre-partition the
  input (e.g. by N24's shard id, or ``repartitionByRange`` on the
  key) to control shard contents.
- **Read**: ``spark.read.format("binaryFile")`` over ``*.tar`` (one
  row per shard — Spark parallelizes across shards exactly like a
  trainer's worker pool), then an Arrow kernel unpacks members to
  ``(shard, key, ext, payload)`` rows; ``group_samples`` reassembles
  one row per sample with an ``ext → payload`` map.  Member payloads
  never enter a shuffle unless the caller groups them.

All tar I/O is stdlib ``tarfile`` on in-memory buffers (USTAR, the
subset every tar reader understands).
"""

from __future__ import annotations

import io
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fdf_spark.functions.kernels import _columns, arrow_kernel

MEMBER_SCHEMA = "shard string, key string, ext string, payload binary"
MANIFEST_SCHEMA = "shard string, n_samples long, n_members long, n_bytes long"


def write_webdataset(
    df: DataFrame,
    path: str,
    prefix: str = "shard",
    shard_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Write ``(key string, ext string, payload binary)`` rows as tar
    shards under ``path``; returns the manifest DataFrame (one row per
    written shard).

    Rows for one sample (same key) must arrive adjacent WITHIN a
    partition (sort or groupBy upstream); a sample never splits across
    shards — the byte budget closes a shard only at a key boundary.
    Shard names are ``{prefix}-{partition:05d}-{seq:04d}.tar`` —
    deterministic given the input partitioning.
    """
    os.makedirs(path, exist_ok=True)

    def write_part(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seq = 0
        buf = io.BytesIO()
        tar = tarfile.open(fileobj=buf, mode="w")
        stats = {"samples": 0, "members": 0}
        manifests = []
        cur_key = None

        def close_shard():
            nonlocal seq, buf, tar
            tar.close()
            data = buf.getvalue()
            if stats["members"]:
                name = f"{prefix}-{pid:05d}-{seq:04d}.tar"
                with open(os.path.join(path, name), "wb") as fh:
                    fh.write(data)
                manifests.append((name, stats["samples"], stats["members"], len(data)))
                seq += 1
            stats["samples"] = stats["members"] = 0
            buf = io.BytesIO()
            tar = tarfile.open(fileobj=buf, mode="w")

        for batch in batches:
            cols = (batch[c].to_pylist() for c in ("key", "ext", "payload"))
            for key, ext, payload in zip(*cols):
                if key != cur_key:
                    if cur_key is not None and buf.tell() >= shard_max_bytes:
                        close_shard()
                    cur_key = key
                    stats["samples"] += 1
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                tar.addfile(info, io.BytesIO(payload))
                stats["members"] += 1
        close_shard()
        yield _columns(manifests, MANIFEST_SCHEMA)

    return arrow_kernel(df.select("key", "ext", "payload"), write_part, MANIFEST_SCHEMA)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Read tar shards back to ``(shard, key, ext, payload)`` member
    rows.  One binaryFile row per shard → shards unpack in parallel;
    member bytes stay inside the map stage."""
    files = spark.read.format("binaryFile").load(os.path.join(path, "*.tar"))
    return arrow_kernel(files.select("path", "content"), _unpack, MEMBER_SCHEMA)


def _unpack(batch) -> dict[str, list]:
    """Tar shard files → their ``(shard, key, ext, payload)`` members."""
    rows = []
    for fpath, content in zip(batch["path"].to_pylist(), batch["content"].to_pylist()):
        shard = os.path.basename(fpath)
        with tarfile.open(fileobj=io.BytesIO(content)) as tar:
            for m in tar.getmembers():
                if not m.isfile():
                    continue
                base, dot, ext = m.name.rpartition(".")
                if not dot:
                    base, ext = m.name, ""
                rows.append((shard, base, ext, tar.extractfile(m).read()))
    return _columns(rows, MEMBER_SCHEMA)


def group_samples(members: DataFrame) -> DataFrame:
    """Reassemble member rows into one row per sample:
    ``(shard, key, parts map<string, binary>)`` — the trainer-facing
    view (``parts['txt']``, ``parts['json']``, …)."""
    return (
        members.groupBy("shard", "key")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("ext"), F.col("payload")))
            ).alias("parts")
        )
    )


def stream_webdataset_sink(
    stream: DataFrame,
    path: str,
    prefix: str = "shard",
    checkpoint: str | None = None,
):
    """Continuous shard landing: every micro-batch's samples become tar
    shards named ``{prefix}-b{batch:06d}-...`` plus ONE ledger file
    ``_batches/b{batch:06d}.json`` naming the batch's complete shard
    list.

    The ledger is the read barrier: :func:`read_webdataset_committed`
    lists shards from ledger files only, so a reader can NEVER observe
    a torn batch (shards land first, the ledger file publishes them
    through THE create-if-absent seam, ``sources/atomic`` — shared
    with the versioned-table manifest, staged-then-linked so even the
    ledger's own bytes are never partially visible).  Replay safety:
    shard names and bytes are deterministic per (batch, partition), so
    an at-least-once re-delivery overwrites identical files, and the
    seam publish is create-if-absent — re-publishing is a no-op, never
    a duplicate entry.  Returns the StreamingQuery.
    """
    from fdf_spark.sources import atomic

    ledger_dir = os.path.join(path, "_batches")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        manifest = write_webdataset(batch_df, path, prefix=f"{prefix}-b{batch_id:06d}").collect()
        entry = {
            "batch_id": batch_id,
            "shards": [r.shard for r in manifest],
            "n_samples": sum(r.n_samples for r in manifest),
            "n_members": sum(r.n_members for r in manifest),
        }
        ledger_path = os.path.join(ledger_dir, f"b{batch_id:06d}.json")
        # False -> replay: shards were rewritten byte-identically
        atomic.publish_json_atomic(entry, ledger_path)

    writer = stream.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_webdataset_committed(spark: SparkSession, path: str) -> DataFrame:
    """Read ONLY the shards named by ledger files — the consistent
    view of a streaming landing zone (in-flight batches invisible)."""
    import json

    ledger_dir = os.path.join(path, "_batches")
    shards: list[str] = []
    if os.path.isdir(ledger_dir):
        for f in sorted(os.listdir(ledger_dir)):
            if f.endswith(".json"):
                with open(os.path.join(ledger_dir, f)) as fh:
                    shards.extend(json.load(fh)["shards"])
    if not shards:
        return spark.createDataFrame([], MEMBER_SCHEMA)
    files = spark.read.format("binaryFile").load(
        [os.path.join(path, s) for s in shards]
    )
    return arrow_kernel(files.select("path", "content"), _unpack, MEMBER_SCHEMA)
