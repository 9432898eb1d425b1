"""Intra-document repetition metrics and the quality-filter funnel (N4).

Standard web-corpus curation signals (the Gopher/MassiveText and C4
filter families, public literature): highly repetitive documents —
boilerplate, keyword stuffing, scraper loops — are poor training data,
and the canonical detectors are duplicate-token and duplicate-n-gram
fractions. ``quality_funnel`` composes them into the ordered
keep/drop pipeline every corpus pass runs, attributing each dropped
document to the FIRST rule it fails (so rule counts are disjoint and
sum to total − kept, like a real funnel report).

Scale: the per-document counters come out of one Arrow pass inside
each scan partition — no (doc, gram) explode and no exchange. The
funnel is a single conditional aggregation over the stats relation
(no per-rule passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def repetition_stats(df: DataFrame) -> DataFrame:
    """Per-document repetition profile → (id_col, n_words,
    dup_word_ratio, top_2gram_frac, dup_2gram_frac), ratios rounded to
    6 dp (oracle-portable int/int divisions).

    - ``dup_word_ratio``  = 1 − |distinct words| / |words|
    - ``top_2gram_frac``  = occurrences of the most frequent word
      2-gram / total 2-gram occurrences
    - ``dup_2gram_frac``  = fraction of 2-gram occurrences that are
      repeats (1 − distinct/total)

    Documents with fewer than 2 words have no 2-grams → null fracs.

    Words are ``split(lower(text), '\\s+')`` with Java's ASCII ``\\s``
    (leading/trailing empties count, as in the SQL oracle).  All five
    counters are exact per-document ints computed in ONE Python pass
    inside the row's partition — no exchange at all; the ratio
    arithmetic and rounding stay in the JVM.
    """
    import re
    from collections import Counter

    from fdf_spark.functions.kernels import arrow_kernel
    from fdf_spark.sources.tables import spread

    ws = re.compile(r"\s+", re.ASCII)

    def counters(batch):
        cols = {c: [] for c in ("n_words", "n_distinct_words", "total2", "top2", "distinct2")}
        for txt in batch["text"].to_pylist():
            w = [] if txt is None else ws.split(txt.lower())
            pairs = Counter(zip(w, w[1:]))
            row = (None, None) if txt is None else (len(w), len(set(w)))
            row += (len(w) - 1, max(pairs.values()), len(pairs)) if pairs else (None,) * 3
            for c, v in zip(cols.values(), row):
                c.append(v)
        return cols

    out = arrow_kernel(
        spread(df).select("doc_id", "text"),
        counters,
        "doc_id, n_words int, n_distinct_words int, total2 long, top2 long, distinct2 long",
    )
    return out.select(
        "doc_id",
        "n_words",
        F.round(1.0 - F.col("n_distinct_words") / F.col("n_words"), 6).alias("dup_word_ratio"),
        F.round(F.col("top2") / F.col("total2"), 6).alias("top_2gram_frac"),
        F.round(1.0 - F.col("distinct2") / F.col("total2"), 6).alias("dup_2gram_frac"),
    )


#: (rule_name, SQL-ish predicate doc) in funnel order — a doc is dropped
#: by the FIRST rule it fails. Thresholds sit inside the fixture's value
#: ranges so every stage is exercised (see SCALE.md for the 100 TB rationale).
FUNNEL_RULES = (
    ("too_short", "n_words < 20"),
    ("dup_words", "dup_word_ratio > 0.6"),
    ("dup_2grams", "dup_2gram_frac > 0.1"),
)


def quality_funnel(df: DataFrame) -> DataFrame:
    """Ordered keep/drop funnel over :func:`repetition_stats` →
    (stage, rule, n_dropped, n_remaining), one row per rule plus the
    final ``kept`` row. ``n_remaining`` is the survivor count after the
    stage; attribution is first-failing-rule, so ``sum(n_dropped) +
    kept == total``."""
    stats = repetition_stats(df)
    first_fail = (
        F.when(F.col("n_words") < 20, F.lit("too_short"))
        .when(F.col("dup_word_ratio") > 0.6, F.lit("dup_words"))
        .when(F.col("dup_2gram_frac") > 0.1, F.lit("dup_2grams"))
        .otherwise(F.lit("kept"))
    )
    counts = stats.select(first_fail.alias("rule")).groupBy("rule").agg(
        F.count(F.lit(1)).alias("n")
    )
    stages = [(i + 1, name) for i, (name, _) in enumerate(FUNNEL_RULES)] + [
        (len(FUNNEL_RULES) + 1, "kept")
    ]
    from fdf_spark.sources.tables import local_df

    order = local_df(df.sparkSession, stages, "stage int, rule string")
    joined = order.join(counts, "rule", "left").select(
        "stage",
        "rule",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    # total and running drops from the same 4-row relation — no driver
    # action, no second pass over the stats
    total = F.sum("n").over(W.partitionBy())
    dropped = F.when(F.col("rule") != "kept", F.col("n")).otherwise(0)
    running = F.sum(dropped).over(W.orderBy("stage").rowsBetween(W.unboundedPreceding, 0))
    return (
        joined.select(
            "stage",
            "rule",
            dropped.cast("bigint").alias("n_dropped"),
            (total - running).cast("bigint").alias("n_remaining"),
        )
        .orderBy("stage")
    )
