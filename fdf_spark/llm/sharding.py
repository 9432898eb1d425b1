"""Token-balanced training-shard export (N24) — the terminal write
stage of the corpus pipeline: after dedup → decontam → quality → mix,
the surviving corpus ships to the trainer as N shards of ~equal token
mass, each with manifest-recorded totals (so the dataloader can plan
epochs without scanning data).

Assignment is CONTIGUOUS in document order (shard boundaries are cuts
in the concatenated token stream, like `pack_blocks` block
boundaries): a document starting at global token offset ``p`` lands in
shard ``min(N−1, p·N div total)``. That keeps every shard within one
document of the ideal ``total/N`` mass — the balance a trainer needs
for even step counts per worker — while staying fully deterministic
and engine-replayable (pure integer arithmetic; the oracle replays it
with a window prefix sum).

Reference parity: none (no reference counterpart); part of the
training-data-pipeline surface the build brief adds.

Scale design (100 TB):

- The global token prefix sum is hierarchical, exactly as
  `chunking.pack_blocks`: window cumsum WITHIN each id-range bucket
  of ``bucket_docs`` documents (parallel, one hash exchange), bucket
  totals → a #buckets-row relation whose own prefix sum runs in one
  tiny task and broadcasts back. Never a single-partition window over
  the corpus. Size ``bucket_docs`` so corpus/bucket_docs (the prefix
  relation's row count) stays in the 10³–10⁶ range — at 10⁹ docs,
  ``bucket_docs=10⁶`` gives a 1000-row prefix relation.
- The shard id is ``(prefix · N) div total`` on BIGINTs — exact in
  any engine, no float-boundary hazards at any corpus size (2⁶³ head
  room: 10¹³ tokens × 10⁴ shards still fits).
- The write is one pass partitioned by shard; the manifest aggregates
  are a |shards|-row relation collected to the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUCKET_DOCS = 4096


def assign_token_shards(
    docs: DataFrame,
    n_shards: int,
    bucket_docs: int = DEFAULT_BUCKET_DOCS,
    tokens_col: str | None = None,
) -> DataFrame:
    """Assign each document to a token-balanced contiguous shard.

    Returns ``(id_col, tokens bigint, shard int)`` with shards cut at
    token-stream positions ``k·total/N`` (end-exclusive start offset
    decides membership; empty corpus → shard 0 for all rows).
    ``tokens_col`` skips tokenization and weighs documents by an
    existing count column — the composition hook for upstream stages
    (e.g. the mixture sampler) that already counted tokens under their
    own tokenizer.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from fdf_spark.llm.words import corpus_words

    weight = (
        F.col(tokens_col) if tokens_col is not None else F.size(corpus_words("text"))
    )
    base = docs.select(
        F.col("doc_id"),
        (F.col("doc_id") / F.lit(bucket_docs)).cast("bigint").alias("__bucket"),
        weight.cast("bigint").alias("tokens"),
    )
    # end-exclusive local prefix within each id-range bucket
    local_w = (
        Window.partitionBy("__bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.withColumn(
        "__local_prefix", F.coalesce(F.sum("tokens").over(local_w), F.lit(0))
    )
    bucket_tot = base.groupBy("__bucket").agg(F.sum("tokens").alias("__bt"))
    prefix_w = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    bucket_prefix = bucket_tot.select(
        "__bucket",
        F.coalesce(F.sum("__bt").over(prefix_w), F.lit(0)).alias("__bucket_prefix"),
    )
    total = base.agg(F.sum("tokens").alias("__total"))
    return (
        local.join(F.broadcast(bucket_prefix), "__bucket")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tokens",
            F.when(
                F.col("__total") > 0,
                F.least(
                    F.lit(n_shards - 1).cast("bigint"),
                    F.expr(
                        f"(__bucket_prefix + __local_prefix) * {n_shards} div __total"
                    ),
                ),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("shard"),
        )
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int,
) -> dict:
    """Export the corpus as token-balanced shards + a JSON manifest.

    One partitioned write (``shard=K/`` directories) plus a
    ``manifest.json`` recording per-shard ``(n_docs, n_tokens)`` and
    grand totals — what the dataloader reads instead of scanning data.
    Returns the manifest dict.
    """
    assigned = assign_token_shards(docs, n_shards)
    out = docs.join(assigned.select("doc_id", "shard"), "doc_id")
    out.write.partitionBy("shard").mode("overwrite").parquet(os.path.join(path, "data"))
    stats = (
        assigned.groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("tokens").alias("n_tokens"))
        .orderBy("shard")
        .collect()
    )
    manifest = {
        "n_shards": n_shards,
        "shards": [
            {"shard": r["shard"], "n_docs": r["n_docs"], "n_tokens": r["n_tokens"]}
            for r in stats
        ],
        "total_docs": sum(r["n_docs"] for r in stats),
        "total_tokens": sum(r["n_tokens"] for r in stats),
    }
    with open(os.path.join(path, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
