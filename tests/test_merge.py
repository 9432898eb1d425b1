"""CDC merge / upsert (operators/merge.py, SURVEY §2.11 N15).

Pins: (1) exact MERGE semantics on a hand-built frame (update, insert,
delete, not-matched-by-source), (2) ``merge_upsert`` and the
merge-on-read commit agree row for row, (3) the broadcast plan never
shuffles or sort-merges the base relation.
"""

from __future__ import annotations

import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from fdf_spark.operators.merge import merge_upsert
from tests.conftest import SMOKE_DIR


def _tiny(spark):
    base = spark.createDataFrame(
        [Row(k=1, v="a", w=10), Row(k=2, v="b", w=20), Row(k=3, v="c", w=30)]
    )
    changes = spark.createDataFrame(
        [
            Row(k=2, v="B", deleted=False),   # update v only (w kept)
            Row(k=3, v=None, deleted=True),   # delete
            Row(k=9, v="Z", deleted=False),   # insert (w -> NULL)
        ]
    )
    return base, changes


def test_merge_semantics_exact(spark):
    base, changes = _tiny(spark)
    out = merge_upsert(base, changes, ["k"], update_cols=["v"], delete_flag="deleted")
    rows = {r.k: (r.v, r.w) for r in out.collect()}
    assert rows == {1: ("a", 10), 2: ("B", 20), 9: ("Z", None)}
    assert out.columns == base.columns  # schema preserved, column order too


def test_merge_null_update_value_is_applied(spark):
    # an update that SETS a column to NULL must not fall back to base
    base = spark.createDataFrame([Row(k=1, v="a")])
    changes = spark.createDataFrame([Row(k=1, v=None)], schema="k bigint, v string")
    out = merge_upsert(base, changes, ["k"], update_cols=["v"])
    assert out.collect() == [Row(k=1, v=None)]


def test_strategies_agree_on_orders(spark, tmp_path):
    """The two physical merges — ``merge_upsert``'s relation and
    ``merge_on_read``'s tombstone-and-append commit on a versioned copy
    of orders — agree row for row."""
    from fdf_spark.sources.versioned import commit_version, merge_on_read, read_version

    orders = spark.read.parquet(f"{SMOKE_DIR}/orders.parquet")
    p = str(tmp_path / "orders")
    commit_version(orders, p)
    k = F.col("o_orderkey")
    changes = (
        orders.filter(k % 7 == 0)
        .select("o_orderkey", (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
                F.lit(False).alias("deleted"))
        .unionByName(
            orders.filter(k % 11 == 0)
            .select("o_orderkey", F.lit(None).cast("double").alias("o_totalprice"),
                    F.lit(True).alias("deleted"))
        )
    )
    a = merge_upsert(orders, changes, ["o_orderkey"], ["o_totalprice"], "deleted")
    merge_on_read(spark, p, changes, ["o_orderkey"], ["o_totalprice"], "deleted")
    b = read_version(spark, p)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # deletes include keys in BOTH %7 and %11 (e.g. 77): delete wins
    assert a.filter(F.col("o_orderkey") % 11 == 0).count() == 0


def test_broadcast_strategy_never_shuffles_base(spark):
    orders = spark.read.parquet(f"{SMOKE_DIR}/orders.parquet")
    changes = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    out = merge_upsert(orders, changes, ["o_orderkey"], ["o_totalprice"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastHashJoin") >= 3
    # the only allowed Exchange is the tiny matched-keys distinct
    # (change-set sized), never a base-relation hash partition
    n_ex = len(re.findall(r"\bExchange ", plan))
    assert n_ex <= 1, plan


# --- data-quality validation (operators/validate.py, N18) -------------------


def test_validate_null_counts_as_violation(spark):
    from fdf_spark.operators.validate import validate

    df = spark.createDataFrame(
        [Row(k=1, v=5), Row(k=2, v=None), Row(k=3, v=-1), Row(k=3, v=7)],
        "k bigint, v bigint",
    )
    audit = {r.rule: r.n_violations for r in validate(
        df, {"v_positive": F.col("v") > 0}, unique_keys=["k"]
    ).collect()}
    # NULL predicate (k=2) must count alongside the false one (k=3,-1)
    assert audit == {"v_positive": 2, "unique(k)": 1}


# --- duplicate-change-key contract (ADVICE r6: merge.py one-change-per-key) --


def test_duplicate_live_change_keys_raise(spark):
    base = spark.createDataFrame([Row(k=1, v="a")])
    changes = spark.createDataFrame([Row(k=1, v="X"), Row(k=1, v="Y")])
    try:
        merge_upsert(base, changes, ["k"], update_cols=["v"])
        raise AssertionError("expected ValueError on duplicate change keys")
    except ValueError as e:
        assert "multiple live change rows" in str(e)


def test_delete_plus_update_same_key_stays_legal(spark):
    # the documented delete-wins pair is NOT a duplicate-key violation
    base, changes = _tiny(spark)
    both = changes.unionByName(
        spark.createDataFrame(
            [Row(k=2, v=None, deleted=True)], schema="k bigint, v string, deleted boolean"
        )
    )
    out = merge_upsert(base, both, ["k"], update_cols=["v"], delete_flag="deleted")
    assert {r.k for r in out.collect()} == {1, 9}  # delete wins for k=2


def test_last_wins_reduces_to_latest_state(spark):
    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    changes = spark.createDataFrame(
        [
            Row(k=1, v="x1", seq=1, deleted=False),
            Row(k=1, v="x2", seq=2, deleted=False),   # latest for k=1 → wins
            Row(k=2, v="y1", seq=1, deleted=False),
            Row(k=2, v=None, seq=2, deleted=True),    # latest for k=2 → delete
            Row(k=3, v="z0", seq=1, deleted=True),
            Row(k=3, v="z1", seq=2, deleted=False),   # delete then re-insert → lives
        ]
    )
    out = merge_upsert(
        base, changes, ["k"], update_cols=["v"], delete_flag="deleted",
        on_duplicate_keys="last_wins", order_col="seq",
    )
    assert {r.k: r.v for r in out.collect()} == {1: "x2", 3: "z1"}


def test_last_wins_requires_order_col(spark):
    base, changes = _tiny(spark)
    try:
        merge_upsert(base, changes, ["k"], on_duplicate_keys="last_wins")
        raise AssertionError("expected ValueError without order_col")
    except ValueError as e:
        assert "order_col" in str(e)


def test_stream_merge_sink_last_wins_batch(spark, tmp_path):
    # a single micro-batch carrying two changes for one key must land
    # its LAST state, not duplicate the base row
    from fdf_spark.sources.versioned import merge_versioned, read_version

    p = str(tmp_path / "vt")
    spark.createDataFrame([Row(k=1, v=10)]).write.mode("overwrite").parquet(p + "/seed")
    from fdf_spark.sources.versioned import commit_version

    commit_version(spark.read.parquet(p + "/seed"), p)
    batch = spark.createDataFrame([Row(k=1, v=20, seq=1), Row(k=1, v=30, seq=2)])
    merge_versioned(
        spark, p, batch, ["k"], update_cols=["v"],
        on_duplicate_keys="last_wins", order_col="seq",
    )
    assert read_version(spark, p).collect() == [Row(k=1, v=30)]


def test_last_wins_tolerates_map_columns(spark):
    # map-typed payload columns are excluded from the tiebreak (maps
    # are unorderable); order_col still decides the survivor
    base = spark.createDataFrame([Row(k=1, v="a")])
    changes = spark.createDataFrame(
        [
            Row(k=1, v="x1", seq=1, attrs={"s": "1"}),
            Row(k=1, v="x2", seq=2, attrs={"s": "2"}),
        ],
        schema="k bigint, v string, seq bigint, attrs map<string,string>",
    )
    out = merge_upsert(
        base, changes, ["k"], update_cols=["v"],
        on_duplicate_keys="last_wins", order_col="seq",
    )
    assert out.collect() == [Row(k=1, v="x2")]


def test_last_wins_tolerates_nested_map_columns(spark):
    # maps NESTED inside arrays/structs are just as unorderable as
    # top-level maps — they must be excluded from the tiebreak too
    base = spark.createDataFrame([Row(k=1, v="a")])
    changes = spark.createDataFrame(
        [
            Row(k=1, v="x1", seq=1, tags=[{"s": "1"}], meta=Row(m={"a": 1})),
            Row(k=1, v="x2", seq=2, tags=[{"s": "2"}], meta=Row(m={"a": 2})),
        ],
        schema=(
            "k bigint, v string, seq bigint, "
            "tags array<map<string,string>>, meta struct<m: map<string,int>>"
        ),
    )
    out = merge_upsert(
        base, changes, ["k"], update_cols=["v"],
        on_duplicate_keys="last_wins", order_col="seq",
    )
    assert out.collect() == [Row(k=1, v="x2")]
