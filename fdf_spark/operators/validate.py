"""Data-quality validation (expectations): audit a relation against
declared row-level rules and key-uniqueness constraints in one pass.

Reference parity: none — north-star surface (SURVEY §2.11 N18). A
training-data pipeline gates every ingest/merge behind an expectations
audit ("no null doc_id, tokens within range, key unique") before the
data becomes visible to consumers; at 100 TB the audit must be one
scan, not one scan per rule.

Scale shape: all row rules evaluate as `sum(case when ...)` columns in
a SINGLE aggregate over one scan — map-side partials, a 1-row result.
Key-uniqueness needs a shuffle by definition (duplicate detection is a
groupBy on the key); it shares the same output schema so the audit is
one relation.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validate(
    df: DataFrame,
    rules: Mapping[str, Column],
    unique_keys: Sequence[str] | None = None,
) -> DataFrame:
    """→ (rule, n_violations), one row per rule, ordered by rule name.

    ``rules`` maps rule name → predicate that is TRUE for VALID rows;
    NULL predicate results count as violations (SQL three-valued logic
    must not hide bad rows). ``unique_keys`` adds a ``unique(<keys>)``
    rule counting rows beyond the first per duplicated key.
    """
    if not rules and not unique_keys:
        raise ValueError("validate() needs at least one rule or unique_keys")
    for name in rules:
        # rule names are spliced into the stack() SQL string literal:
        # quotes would terminate it, backslashes are escape-processed
        if "'" in name or "\\" in name:
            raise ValueError(f"rule name may not contain quotes/backslashes: {name!r}")
    aggs = [
        F.sum(F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)).alias(f"r{i}")
        for i, pred in enumerate(rules.values())
    ]
    row = df.agg(*aggs)
    # unpivot the 1-row audit with stack(): ONE select over ONE agg —
    # a union of per-rule selects would recompute the scan per rule
    stack = ", ".join(f"'{name}', r{i}" for i, name in enumerate(rules))
    long = row.select(
        F.expr(f"stack({len(rules)}, {stack}) as (rule, n_violations)")
    ) if rules else None
    if unique_keys:
        dup = (
            df.groupBy(*unique_keys)
            .agg((F.count("*") - 1).alias("extra"))
            .agg(F.sum("extra").alias("n_violations"))
            .select(
                F.lit(f"unique({','.join(unique_keys)})").alias("rule"), "n_violations"
            )
        )
        long = dup if long is None else long.unionByName(dup)
    return long.orderBy("rule")
