"""Deterministic corpus mixture construction (N7 tier 2): subsample
each source at the rate that makes the output token mix follow target
weights within a total token budget.

This is the static data-mixing step of a pretraining pipeline (a Pile /
DoReMi-style recipe executed at corpus scale): given per-source weights
``w_s`` and a token budget ``B``, source ``s`` is kept at rate
``min(1, w_s·B / T_s)`` where ``T_s`` is its total token count — so the
expected sampled tokens per source are ``min(w_s·B, T_s)`` (a source
too small for its target keeps everything; the shortfall is visible in
the output stats rather than silently re-balanced).

Reference parity: none (no reference counterpart); part of the
training-data-pipeline surface the build brief adds.

Scale design (100 TB):

- Per-source totals are ONE map-side-combining groupBy over a
  |sources|-row result; the rate relation is broadcast back — the
  corpus itself is never shuffled.
- Row selection is the replayable hash-Bernoulli predicate on the
  portable 60-bit md5 hash (fdf_spark.llm.hashing): no ``rand()``, so
  the sample is stable under retries, repartitioning and engine choice
  (the DuckDB oracle replays it bit-for-bit).

Weights are used as given (fractions of ``budget_tokens``); callers
normalize if they want proportions. Sources absent from ``weights``
are dropped.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fdf_spark.llm.hashing import portable_hash60

#: hash-Bernoulli resolution: rates are quantized to millionths
MIX_DENOM = 1_000_000


def mix_corpus(
    docs: DataFrame,
    weights: Mapping[str, float],
    budget_tokens: int,
) -> DataFrame:
    """(doc_id, source, text) → (doc_id, source, n_tokens): the
    deterministic mixture sample.

    Tokens are whitespace words of the lowercased text (the same
    tokenization as the dedup tiers).
    """
    toks = F.size(F.split(F.lower(F.col("text")), r"\s+")).cast("bigint")
    d = docs.select(F.col("doc_id"), F.col("source"), toks.alias("n_tokens"))
    wmap = F.create_map(
        *[x for k, v in weights.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    stats = (
        d.filter(F.col("source").isin(list(weights)))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("_T"))
    )
    rates = stats.select(
        "source",
        F.least(
            F.lit(1.0),
            wmap[F.col("source")] * F.lit(float(budget_tokens)) / F.col("_T"),
        ).alias("_rate"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(
            portable_hash60(F.col("doc_id").cast("string")) % MIX_DENOM
            < F.floor(F.col("_rate") * MIX_DENOM)
        )
        .select("doc_id", "source", "n_tokens")
    )


def split_corpus(
    docs: DataFrame,
    fractions: Mapping[str, float],
    by: str | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment (N7 tier 3): adds a
    ``split`` column from a hash of ``doc_id`` (or of ``by``).

    ``fractions`` maps split name → fraction, in insertion order; the
    hash bucket ``u ∈ [0, 1M)`` falls into cumulative ranges, so every
    row's split is a pure function of its key — reproducible across
    engines, retries and repartitionings, and a doc NEVER migrates
    between splits when the corpus grows (the property ``rand()`` or
    modulo-on-row-number splits lack).

    ``by`` makes the split leakage-safe at a coarser unit: pass the
    near-dup cluster id, URL domain, or source document key and every
    row of that group lands in the SAME split — the standard guard
    against train/test contamination via near-duplicates.

    Zero shuffles: the assignment is a per-row expression; downstream
    consumers filter ``split = 'train'`` and the predicate pushes down
    if the corpus is later written partitioned by ``split``.
    """
    key = F.col(by) if by is not None else F.col("doc_id")
    u = portable_hash60(key.cast("string"), 0) % MIX_DENOM
    names = list(fractions)
    cum, bounds = 0.0, []
    for name in names[:-1]:
        cum += float(fractions[name])
        bounds.append(int(cum * MIX_DENOM))
    expr = F.lit(names[-1])  # last split takes the remainder
    for name, b in zip(reversed(names[:-1]), reversed(bounds)):
        expr = F.when(u < F.lit(b), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def sql_split_corpus(fractions: Mapping[str, float]) -> str:
    """DuckDB twin of the :func:`split_corpus` assignment expression
    (over ``documents``, keyed on doc_id)."""
    names = list(fractions)
    cum, cases = 0.0, []
    hash_expr = (
        "CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) "
        f"% {MIX_DENOM}"
    )
    for name in names[:-1]:
        cum += float(fractions[name])
        cases.append(f"WHEN {hash_expr} < {int(cum * MIX_DENOM)} THEN '{name}'")
    return "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"


def sql_mix_corpus(weights: Mapping[str, float], budget_tokens: int) -> str:
    """DuckDB twin of :func:`mix_corpus` over the ``documents`` view."""
    values = ", ".join(f"('{k}', {float(v)!r})" for k, v in weights.items())
    return f"""
    WITH w(source, wt) AS (VALUES {values}),
    d AS (SELECT doc_id, source,
                 CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM documents),
    stats AS (SELECT source, SUM(n_tokens) AS t FROM d JOIN w USING (source) GROUP BY source),
    rates AS (SELECT source,
                     least(1.0, CAST(wt AS DOUBLE) * {float(budget_tokens)!r} / t) AS rate
              FROM stats JOIN w USING (source))
    SELECT doc_id, d.source, n_tokens
    FROM d JOIN rates ON d.source = rates.source
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % {MIX_DENOM}
          < CAST(floor(rate * {MIX_DENOM}) AS BIGINT)
    ORDER BY doc_id
    """
