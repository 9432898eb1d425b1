"""Relevance ranking (N10): TF-IDF / Okapi BM25 scoring of a document
corpus against a fixed query-term set.

Reference parity: the reference engine has no ranking operator — this is
part of the training-data-pipeline surface the build brief adds on top
(corpus curation needs "score documents against a probe query" for
targeted sampling and contamination checks).

Scale design (the whole point at 100 TB):

- **No wide shuffle.**  Per-document term frequencies are *map-side
  array expressions* (``size(filter(words, w = term))``) — the classic
  explode→groupBy(doc, word) formulation shuffles one row per token
  occurrence (≈10^12 rows at 100 TB); this one shuffles nothing.
- **Corpus statistics collapse to ONE row** (N, avg doc length, and one
  document-frequency counter per query term) via a partial-aggregated
  ``agg`` — then broadcast back with a 1-row cross join.
- **Top-k is a TakeOrdered**, not a full sort.
- Two corpus scans total (stats pass + scoring pass); both are
  projection-pruned to ``(doc_id, text)``.

Determinism: the scoring arithmetic is emitted as a *single SQL
expression string* evaluated by both Spark (``F.expr``) and the DuckDB
oracle, so IEEE evaluation order is identical on both sides; each
term's contribution is rounded at 6 dp before the (fixed-order) sum.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Lucene-style BM25 parameters
DEFAULT_K1 = 1.2
DEFAULT_B = 0.75

from fdf_spark.llm.words import WORD_SPLIT_RE  # noqa: F401 — canonical definition


def _term_cols(n: int) -> list[str]:
    return [f"tf{i}" for i in range(n)]


def bm25_contrib_sql(i: int, k1: float, b: float) -> str:
    """SQL text for one term's BM25 contribution.

    Expects columns ``tf{i}`` (term frequency), ``df{i}`` (document
    frequency), ``dl`` (doc length), ``n_docs``, ``avgdl`` in scope.
    idf is the Lucene formulation ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    — always positive, robust to df > N/2.
    """
    # `e0` suffix forces DOUBLE literals in both Spark SQL and DuckDB
    # (a bare `1.2` parses as DECIMAL in Spark — different arithmetic)
    k1s, bs = f"{k1!r}e0", f"{b!r}e0"
    idf = f"ln(1 + (n_docs - df{i} + 0.5e0) / (df{i} + 0.5e0))"
    norm = f"(tf{i} + {k1s} * (1 - {bs} + {bs} * dl / avgdl))"
    return f"round({idf} * tf{i} * ({k1s} + 1) / {norm}, 6)"


def bm25_score_sql(n_terms: int, k1: float = DEFAULT_K1, b: float = DEFAULT_B) -> str:
    """Full-document BM25 score: fixed-order sum of per-term
    contributions, rounded at 6 dp.  Shared verbatim by the Spark plan
    and the DuckDB oracle so float evaluation order matches."""
    total = " + ".join(bm25_contrib_sql(i, k1, b) for i in range(n_terms))
    return f"round({total}, 6)"


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Top-``k`` documents by BM25 score against ``terms``.

    Returns ``(doc_id, dl, bm25)`` ordered by (score desc, id) —
    deterministic through score ties.
    """
    from fdf_spark.functions.scalar import davg

    words = F.filter(
        F.split(F.lower(F.col("text")), WORD_SPLIT_RE), lambda w: w != F.lit("")
    )
    def tf(term: str):
        # closure factory, NOT a default-arg lambda: a 2-param lambda
        # would make F.filter bind the array INDEX to the second param
        return F.size(F.filter(F.col("__w"), lambda w: w == F.lit(term)))

    tf_names = _term_cols(len(terms))
    # two fixes, measured together 1.35 s → 0.65 s at sf0.1
    # (output identical):
    # - stage the token array ONCE (__w): the split+filter chain is
    #   CodegenFallback with no CSE, so referencing `words` in dl and
    #   every per-term tf re-ran it 1+|terms| times per row (the
    #   beea570 staged-counter pattern);
    # - localCheckpoint `base`: it feeds BOTH the stats aggregate and
    #   the scoring join, so unmaterialized the whole scan+tf pass ran
    #   twice.  base is (id, dl, |terms| ints) — tens of bytes per doc,
    #   the small decision relation (guide §5), never the text.
    base = docs.select(
        F.col("doc_id"),
        words.alias("__w"),
    ).select(
        F.col("doc_id"),
        F.size("__w").alias("dl"),
        *[tf(t).alias(name) for name, t in zip(tf_names, terms)],
    ).localCheckpoint()

    stats = base.agg(
        F.count("*").alias("n_docs"),
        davg("dl").alias("avgdl"),
        *[
            F.sum((F.col(name) > 0).cast("int")).alias(f"df{i}")
            for i, name in enumerate(tf_names)
        ],
    )

    scored = base.crossJoin(F.broadcast(stats))
    return (
        scored.select(
            F.col("doc_id"),
            F.col("dl"),
            F.expr(bm25_score_sql(len(terms), DEFAULT_K1, DEFAULT_B)).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(k)
    )


def inverted_index(docs: DataFrame, num_segments: int = 1) -> DataFrame:
    """Segment-sharded inverted index: one row per (term, segment) with
    document frequency, collection frequency and a doc_id-sorted postings
    list of (doc_id, tf) structs — the Lucene storage model as a relation.

    Scale design: ``segment`` is a deterministic doc_id bucket, so a
    stop-word's postings build in ``num_segments`` parallel reducer
    groups instead of one hot key, and no single output row exceeds
    corpus/num_segments entries — the classic segment-local index a
    query-time reader merges (and the natural partition key for the
    parquet sink).

    Term frequencies come from exploding the tokens and counting per
    (term, segment, doc) — linear CPU; the partial (map-side) aggregate
    collapses occurrences before the wire, so the first exchange
    carries ~one row per (doc, distinct term), and a second
    (same-sized) exchange builds the postings.  A map-side tier (per-doc
    ``array_distinct`` × filter-count expressions, one exchange) measured
    2.35 s against this plan's 0.68 s on q112 at sf0.1 even on ~54-word
    docs: the interpreted HOF tree costs more than the extra exchange.
    """
    words = F.filter(
        F.split(F.lower(F.col("text")), WORD_SPLIT_RE), lambda w: w != F.lit("")
    )
    seg = (F.col("doc_id") % num_segments).alias("segment")
    toks = (
        docs.select(F.col("doc_id"), seg, F.explode(words).alias("term"))
        .groupBy("term", "segment", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return toks.groupBy("term", "segment").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias(
            "postings"
        ),
    )
