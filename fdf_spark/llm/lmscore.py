"""Model-based document quality scoring via a unigram LM (N21).

The CCNet / fastText-era recipe for corpus quality filtering: train a
cheap language model ON the corpus itself (or a trusted reference
corpus), then score every document by its per-token cross-entropy
under that model. Documents whose tokens the model finds surprising
(rare garbage, boilerplate symbol soup, wrong-language text) score
low and are cut at a quantile threshold. This complements the
heuristic quality funnel (N4: length/punct/stopword ratios) with a
*distributional* signal — the two disagree exactly on the documents
worth inspecting.

Reference parity: none (no reference counterpart); part of the
training-data-pipeline surface the build brief adds.

Scale design (100 TB):

- Training is ONE map-side-combining token-count groupBy (the shuffle
  carries one row per distinct token, not per occurrence) plus a
  1-row totals aggregate broadcast back — the classic count → rate
  shape shared with the mixture sampler (fdf_spark.llm.mixing).
- The vocabulary relation is tiny relative to the corpus (≤ a few
  million rows at any realistic scale), so scoring joins it BROADCAST
  against the exploded token stream: the corpus is never shuffled;
  the per-doc aggregate combines map-side and its shuffle carries one
  row per document.
- Everything is engine-replayable: add-one smoothing over integer
  counts, per-token log-probs rounded to 6 dp BEFORE the per-doc sum,
  and the per-doc mean uses the decimal-accumulate pattern
  (fdf_spark.functions.scalar.dsum) so it is order-independent — the
  DuckDB oracle reproduces scores bit-for-bit.

Smoothing: ``p(t) = (cnt(t) + 1) / (N + V + 1)`` with one shared
out-of-vocabulary bucket ``p(oov) = 1 / (N + V + 1)`` (N = total
token occurrences, V = distinct tokens). Scores are mean log-prob per
token: higher (closer to 0) = more typical text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fdf_spark.functions.scalar import dsum
from fdf_spark.llm.words import corpus_words


def _words(df: DataFrame, text: str, id_col: str) -> DataFrame:
    return df.select(id_col, F.explode(corpus_words(text)).alias("token"))


def train_unigram_lm(
    docs: DataFrame,
) -> DataFrame:
    """Train the smoothed unigram LM.

    Returns ``(token string, logp double, oov_logp double)`` with
    log-probs rounded to 6 dp; ``oov_logp`` (the shared OOV bucket) is
    replicated per row so scoring needs no second totals pass. One
    occurrence-level groupBy (map-side combined) + a 1-row totals agg
    broadcast back.
    """
    toks = _words(docs, "text", "doc_id")
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n_total"), F.count("*").alias("v_size")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            F.log((F.col("cnt") + 1.0) / (F.col("n_total") + F.col("v_size") + 1.0)), 6
        ).alias("logp"),
        F.round(
            F.log(1.0 / (F.col("n_total") + F.col("v_size") + 1.0)), 6
        ).alias("oov_logp"),
    )


def score_docs(
    docs: DataFrame,
    lm: DataFrame,
) -> DataFrame:
    """Per-document mean token log-prob under ``lm``.

    Returns ``(doc_id, n_tokens bigint, avg_logp double)``; tokens
    absent from the LM take the shared OOV log-prob. ``lm`` is
    broadcast; the only shuffle is the one-row-per-doc aggregate.
    """
    toks = _words(docs, "text", "doc_id")
    oov = lm.agg(F.min("oov_logp").alias("oov_logp"))
    scored = (
        toks.join(F.broadcast(lm.select("token", "logp")), "token", "left")
        .crossJoin(F.broadcast(oov))
        .select("doc_id", F.coalesce(F.col("logp"), F.col("oov_logp")).alias("logp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(dsum("logp") / F.count("*"), 6).alias("avg_logp"),
    )
