"""Context-window chunking and sequence packing (N11) — the two
layout transforms between a cleaned corpus and a training dataloader.

Reference parity: none (no reference counterpart); part of the
training-data-pipeline surface the build brief adds.

- :func:`chunk_documents` — split each document into fixed-size,
  optionally-overlapping character windows with explicit offsets.
  Pure map-side codegen (``sequence`` → ``explode`` → ``substr``):
  zero shuffles at any corpus size.

- :func:`pack_blocks` — concatenate the corpus (in a fixed document
  order) into one virtual token stream and cut it into fixed-capacity
  training blocks, reporting which documents land in (or span) each
  block.  The global running offset is computed as a **distributed
  prefix sum** — per-shard window cumsum + a broadcast of the tiny
  shard-total prefix relation — NOT a single-partition window, which
  would serialize the whole corpus through one task at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Fixed-size overlapping character chunks of each (doc_id, text)
    document, with offsets.

    Chunk ``i`` of a document covers ``[i*stride, i*stride+chunk_chars)``
    with ``stride = chunk_chars - overlap``; the last chunk may be
    short; empty documents yield no chunks.

    Returns ``(doc_id, chunk_id, start, chunk, chunk_len)``.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    stride = chunk_chars - overlap
    t = F.col("text")
    n = F.length(t)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array()
    )
    return (
        docs.select(
            F.col("doc_id"), t.alias("__text"), F.posexplode(starts).alias("chunk_id", "start")
        )
        .select(
            F.col("doc_id"),
            F.col("chunk_id"),
            F.col("start"),
            F.col("__text").substr(F.col("start") + 1, F.lit(chunk_chars)).alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk"))
    )


def pack_blocks(
    docs: DataFrame,
    capacity: int = 512,
    n_shards: int = 32,
) -> DataFrame:
    """Greedy stream packing: concatenate documents in ``doc_id`` order
    into one token stream, cut into ``capacity``-token blocks.

    A document occupying stream interval ``[offset-tokens, offset)``
    lands in every block it overlaps (documents may span block
    boundaries, as in standard concat-and-split pretraining packing).

    Scale design — the global prefix sum is computed hierarchically:

    1. shard docs by contiguous id range (``floor(id/shard)`` — at 100 TB
       this is the sort-key range partitioning of the corpus files);
    2. window cumsum *within* each shard (parallel, one hash exchange);
    3. shard token totals → a #shards-row relation whose own prefix sum
       runs in one tiny task and **broadcasts** back;
    4. global offset = shard prefix + local cumsum (map-side).

    Returns one row per block: ``(block_id, n_docs, n_spanning_docs,
    tok_filled)`` where ``tok_filled`` counts tokens landing in the
    block (== capacity for every block but the last).
    """
    from fdf_spark.llm.words import corpus_words

    words = corpus_words("text")
    base = docs.select(
        F.col("doc_id"),
        (F.col("doc_id") / F.lit(n_shards)).cast("bigint").alias("shard"),
        F.size(words).cast("bigint").alias("tokens"),
    )

    local_w = Window.partitionBy("shard").orderBy("doc_id")
    local = base.withColumn("local_cum", F.sum("tokens").over(local_w))

    shard_tot = base.groupBy("shard").agg(F.sum("tokens").alias("shard_tokens"))
    prefix_w = (
        Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_prefix = shard_tot.select(
        "shard",
        F.coalesce(F.sum("shard_tokens").over(prefix_w), F.lit(0)).alias("shard_prefix"),
    )

    placed = (
        local.join(F.broadcast(shard_prefix), "shard")
        .select(
            F.col("doc_id"),
            F.col("tokens"),
            (F.col("shard_prefix") + F.col("local_cum")).alias("end_off"),
        )
        .withColumn("start_off", F.col("end_off") - F.col("tokens"))
        .filter(F.col("tokens") > 0)
    )

    cap = F.lit(capacity).cast("bigint")
    spans = placed.select(
        F.col("doc_id"),
        "start_off",
        "end_off",
        F.explode(
            F.sequence(
                (F.col("start_off") / cap).cast("bigint"),
                ((F.col("end_off") - 1) / cap).cast("bigint"),
            )
        ).alias("block_id"),
    )
    blk_lo = F.col("block_id") * cap
    blk_hi = blk_lo + cap
    per_block = spans.select(
        "block_id",
        F.col("doc_id"),
        (F.least(F.col("end_off"), blk_hi) - F.greatest(F.col("start_off"), blk_lo)).alias("tok_in_block"),
        ((F.col("start_off") < blk_lo) | (F.col("end_off") > blk_hi)).cast("int").alias("spanning"),
    )
    return per_block.groupBy("block_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("spanning").alias("n_spanning_docs"),
        F.sum("tok_in_block").alias("tok_filled"),
    )
