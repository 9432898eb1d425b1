"""Binary token shards — the trainer-facing terminal format.

GPT-style pretraining loaders consume pre-tokenized binary shards
(Megatron-LM's ``.bin``/``.idx`` pair is the public convention:
concatenated token ids + a document index).  This module writes the
equivalent as ONE self-describing file per shard (the index rides as a
footer instead of a sidecar, so the distributed reader needs no
second-file pairing):

    shard-{K:05d}.tokbin :=
        tokens   n_tokens × uint32 LE           (the training stream)
        doctab   n_docs × (int64 doc_id, int64 n_tokens)
        footer   int64 n_docs, int64 n_tokens, magic b"FDFTOKB1"

Spark-first design: ``write_token_bin_shards`` hash-partitions docs by
shard id and each writer partition emits the file(s) for the shards it
holds — parallel writers, a manifest row per file, nothing corpus-
sized at the driver.  ``read_token_bin_shards`` parallelizes across
shards via the ``binaryFile`` source and parses footer+doctab+tokens
inside the map stage; token bytes never shuffle.

Composition: N19 (tokenization) chooses the ids, N24 (token-balanced
assignment) chooses the shard per doc, this module owns the bytes.
Reference parity: none; SURVEY §2.11 training-pipeline extension.
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from fdf_spark.functions.kernels import _columns, arrow_kernel

_MAGIC = b"FDFTOKB1"
MANIFEST_SCHEMA = "shard int, n_docs long, n_tokens long, n_bytes long, file string"
DOC_SCHEMA = "shard int, doc_id long, ids array<long>"


def write_token_bin_shards(assigned: DataFrame, path: str) -> DataFrame:
    """Write ``(shard int, doc_id long, ids array<int>)`` rows as one
    ``.tokbin`` file per shard; returns the manifest DataFrame.

    Docs are ordered by ``doc_id`` within each shard (deterministic
    stream order); ids must fit uint32.
    """
    os.makedirs(path, exist_ok=True)
    prepared = (
        assigned.select("shard", "doc_id", "ids")
        .repartition("shard")
        .sortWithinPartitions("shard", "doc_id")
    )

    def write_part(batches):
        by_shard: dict[int, list[tuple[int, list[int]]]] = {}
        for batch in batches:
            cols = (batch[c].to_pylist() for c in ("shard", "doc_id", "ids"))
            for shard, doc_id, ids in zip(*cols):
                by_shard.setdefault(shard, []).append((doc_id, ids))
        rows = []
        for shard, docs in sorted(by_shard.items()):
            docs.sort(key=lambda d: d[0])
            for doc_id, ids in docs:
                for t in ids:
                    # validate BEFORE the uint32 conversion: numpy would
                    # silently wrap negatives (or raise a raw
                    # OverflowError on numpy >= 2)
                    if not 0 <= t <= 0xFFFFFFFF:
                        raise ValueError(
                            f"token id {t} of doc {doc_id} outside uint32"
                        )
            stream = np.concatenate(
                [np.asarray(ids, dtype=np.uint32) for _, ids in docs]
            ) if docs else np.zeros(0, np.uint32)
            doctab = b"".join(
                struct.pack("<qq", doc_id, len(ids)) for doc_id, ids in docs
            )
            footer = struct.pack("<qq", len(docs), int(stream.size)) + _MAGIC
            blob = stream.astype("<u4").tobytes() + doctab + footer
            name = f"shard-{shard:05d}.tokbin"
            with open(os.path.join(path, name), "wb") as fh:
                fh.write(blob)
            rows.append((shard, len(docs), int(stream.size), len(blob), name))
        yield _columns(rows, MANIFEST_SCHEMA)

    return arrow_kernel(prepared, write_part, MANIFEST_SCHEMA)


def read_token_bin_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read ``.tokbin`` shards back to ``(shard, doc_id, ids)`` rows —
    one binaryFile row per shard, parsed entirely in the map stage."""
    files = spark.read.format("binaryFile").load(os.path.join(path, "*.tokbin"))

    def unpack(batch):
        rows = []
        for fpath, blob in zip(batch["path"].to_pylist(), batch["content"].to_pylist()):
            if blob[-8:] != _MAGIC:
                raise ValueError(f"bad magic in {fpath}")
            n_docs, n_tokens = struct.unpack_from("<qq", blob, len(blob) - 24)
            tok_end = n_tokens * 4
            doctab_end = tok_end + n_docs * 16
            if doctab_end + 24 != len(blob):
                raise ValueError(f"corrupt layout in {fpath}")
            stream = np.frombuffer(blob, "<u4", n_tokens, 0).astype(np.int64)
            name = os.path.basename(fpath)
            shard = int(name.split("-")[1].split(".")[0])
            off = 0
            for d in range(n_docs):
                doc_id, n = struct.unpack_from("<qq", blob, tok_end + 16 * d)
                rows.append((shard, doc_id, stream[off : off + n]))
                off += n
            if off != n_tokens:
                raise ValueError(f"doc sizes disagree with stream in {fpath}")
        return _columns(rows, DOC_SCHEMA)

    return arrow_kernel(files.select("path", "content"), unpack, DOC_SCHEMA)


def codepoint_tokenize(docs: DataFrame) -> DataFrame:
    """Byte-free reference tokenizer for container tests: ``(doc_id,
    text)`` → ``(doc_id, ids)``, the ids being the text's unicode code
    points (deterministic, SQL-replayable — DuckDB recomputes per-doc
    count and sum arithmetically).  Arrow-batched."""

    def tok(batch):
        return {"ids": [[ord(c) for c in t] for t in batch["text"].to_pylist()]}

    return arrow_kernel(docs.select("doc_id", "text"), tok, "doc_id, ids array<long>")
