"""Span-level exact substring dedup (N2 tier 5): find the repeated
word-n-gram SPANS inside documents, not just duplicate documents.

The whole-document tiers (exact hash, MinHash, SimHash, Jaccard) miss
the dominant contamination mode in web corpora: boilerplate passages
(license headers, navigation text, quoted excerpts) repeated inside
otherwise-unique documents. The standard fix — "Deduplicating Training
Data Makes Language Models Better" (Lee et al., 2022, arXiv:2107.06499)
— removes any span whose n-gram appears elsewhere in the corpus; this
operator emits those spans as per-document [start, end) word-offset
intervals (merged when overlapping) for a downstream cut pass.

Reference parity: none (no reference counterpart); part of the
training-data-pipeline surface the build brief adds.

Scale design (100 TB):

- The n-gram relation is linear in corpus tokens; its occurrence count
  is one map-side-combining groupBy on the 8-byte portable hash.
- Marking duplicated positions is an unbounded COUNT window over the
  hash — one exchange, one scan of the gram relation (a groupBy +
  join-back would shuffle twice and recompute the grams); at extreme
  scale a bloom filter of the duplicated-hash set can pre-prune the
  exchange input.
- Span merging is gaps-and-islands window algebra per document —
  running max of interval ends, island id by prefix sum — one exchange
  on doc_id, all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fdf_spark.llm.hashing import portable_hash60


def dup_spans(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """→ (doc_id, span_start, span_end, n_grams): merged word-offset
    intervals covered by ``n``-grams occurring ≥ ``min_count`` times
    corpus-wide (all occurrences count, including within one document).

    Offsets are 0-based, end-exclusive, in words of the
    whitespace-lowercase tokenization shared with the other dedup tiers.
    """
    from fdf_spark.sources.tables import spread

    words = F.split(F.lower(F.col("text")), r"\s+")
    idx = F.sequence(F.lit(1), F.size(words) - (n - 1))
    grams = F.when(
        F.size(words) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n))),
    ).otherwise(F.array().cast("array<string>"))
    # positions from posexplode are the 0-based word offsets
    sh = (
        spread(df)
        .select(F.col("doc_id"), F.posexplode(grams).alias("pos", "g"))
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            portable_hash60(F.col("g")).alias("h"),
        )
    )
    # occurrence count as an unbounded window over the hash, not
    # groupBy+join-back: one exchange on h and ONE scan of the gram
    # relation (the join form recomputes it), the same cap plan the
    # Jaccard frequency filter measured cheapest
    hits = (
        sh.withColumn("__c", F.count(F.lit(1)).over(W.partitionBy("h")))
        .filter(F.col("__c") >= min_count)
        .select("doc_id", "pos", (F.col("pos") + n).alias("e"))
    )
    # gaps-and-islands: a hit starts a new island iff it begins past the
    # running max end of every earlier hit in the document
    w = W.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    marked = hits.withColumn(
        "new_island", (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")
    )
    islands = marked.withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("e").alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .drop("island")
    )


def sql_dup_spans() -> str:
    """DuckDB twin of :func:`dup_spans` (``n=8``, ``min_count=2``) over
    the ``documents`` view."""
    return f"""
    WITH docs AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
    sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                  CAST('0x' || substr(md5(array_to_string(w[i+1:i+8], ' ')), 1, 15) AS BIGINT) AS h
           FROM docs, LATERAL unnest(range(greatest(len(w) - 7, 0))) t(i)),
    dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos, pos + 8 AS e FROM sh JOIN dup USING (h)),
    marked AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM hits),
    islands AS (
      SELECT doc_id, pos, e,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked)
    SELECT doc_id, MIN(pos) AS span_start, MAX(e) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM islands GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """
