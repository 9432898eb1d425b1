"""CHECK constraints — Delta-style write-time enforcement on versioned
tables, gating every write seam (commit/WAP, CoW merge, MoR merge,
UPDATE images) before anything publishes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fdf_spark.sources.versioned import (
    ConstraintViolationError,
    add_check_constraint,
    commit_version,
    drop_check_constraint,
    list_check_constraints,
    list_versions,
    merge_on_read,
    merge_versioned,
    publish_staged,
    read_version,
    stage_commit,
    update_where,
)


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(1, 501).select(F.col("id").alias("k"), (F.col("id") % 9 + 1.0).alias("v"))
    commit_version(df, p)
    add_check_constraint(spark, p, "v_positive", "v > 0")
    return p


def test_add_rejects_preexisting_violations(spark, tmp_path):
    p = str(tmp_path / "t")
    commit_version(spark.createDataFrame([(1, -1.0)], "k long, v double"), p)
    with pytest.raises(ConstraintViolationError, match="existing rows"):
        add_check_constraint(spark, p, "v_positive", "v > 0")
    assert list_check_constraints(p) == {}


def test_commit_gated_and_nothing_published(spark, table):
    head = list_versions(table)[-1]
    bad = spark.createDataFrame([(9001, 1.0), (9002, -3.0)], "k long, v double")
    with pytest.raises(ConstraintViolationError, match=r"v_positive.*1 violating"):
        commit_version(bad, table, mode="append")
    assert list_versions(table)[-1] == head  # nothing landed
    good = spark.createDataFrame([(9001, 1.0)], "k long, v double")
    assert commit_version(good, table, mode="append") == head + 1


def test_null_counts_as_violation(spark, table):
    batch = spark.createDataFrame([(9001, None)], "k long, v double")
    with pytest.raises(ConstraintViolationError):
        commit_version(batch, table, mode="append")


def test_update_images_gated(spark, table):
    with pytest.raises(ConstraintViolationError):
        update_where(spark, table, "k = 7", {"v": F.lit(-1.0)})
    assert read_version(spark, table).filter("k = 7").first().v > 0
    update_where(spark, table, "k = 7", {"v": F.lit(42.0)})
    assert read_version(spark, table).filter("k = 7").first().v == 42.0


def test_merge_paths_gated(spark, table):
    head = list_versions(table)[-1]
    bad = spark.createDataFrame([(3, -5.0)], "k long, v double")
    with pytest.raises(ConstraintViolationError):
        merge_on_read(spark, table, bad, keys=["k"])
    with pytest.raises(ConstraintViolationError):
        merge_versioned(spark, table, bad, keys=["k"])
    assert list_versions(table)[-1] == head


def test_schema_evolution_append_evaluates_missing_as_null(spark, table):
    # constraint on a column the batch doesn't carry: readers will see
    # NULL for those rows, so the write must fail the CHECK
    add_check_constraint(spark, table, "v_small", "v < 100")
    batch = spark.createDataFrame([(9100,)], "k long")  # no v column
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        commit_version(batch, table, mode="append")


def test_publish_staged_rechecks(spark, table):
    bad = spark.createDataFrame([(9200, 5.0)], "k long, v double")
    stage_commit(bad, table, wap_id="w1")
    # existing rows (k <= 500) satisfy the new CHECK; the staged batch
    # predates it and must be re-gated at publish time
    add_check_constraint(spark, table, "k_small", "k < 9000")
    with pytest.raises(ConstraintViolationError, match="k_small"):
        publish_staged(spark, table, "w1")
    drop_check_constraint(table, "k_small")
    assert publish_staged(spark, table, "w1") > 0


def test_drop_column_blocked_by_constraint(spark, table):
    from fdf_spark.sources.versioned import drop_column

    with pytest.raises(ValueError, match="referenced by CHECK constraint"):
        drop_column(table, "v")
    drop_check_constraint(table, "v_positive")
    drop_column(table, "v")  # unblocked
    assert read_version(spark, table).columns == ["k"]


def test_drop_constraint_unblocks(spark, table):
    drop_check_constraint(table, "v_positive")
    bad = spark.createDataFrame([(9300, -1.0)], "k long, v double")
    commit_version(bad, table, mode="append")
    assert read_version(spark, table).filter("v < 0").count() == 1


def test_add_constraint_revalidates_racing_write(spark, tmp_path, monkeypatch):
    """TOCTOU close (ADVICE r11): a write landing between
    add_check_constraint's validation scan and the constraint file's
    publish is re-validated after publish — a violating racer rolls the
    constraint back (never attached over violating data); a clean racer
    leaves it attached."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    commit_version(spark.createDataFrame([(1, 1.0)], "k long, v double"), p)

    real_publish = V._publish_manifest_atomic
    state = {"raced": False}

    def racing_publish(staged, dst):
        # fires for the CONSTRAINT file's publish: sneak a violating
        # commit in just before it lands (the window the scan missed)
        if not state["raced"] and "_constraints" in dst:
            state["raced"] = True
            commit_version(
                spark.createDataFrame([(2, -5.0)], "k long, v double"), p,
                mode="append",
            )
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    with pytest.raises(ConstraintViolationError, match="existing rows"):
        add_check_constraint(spark, p, "v_positive", "v > 0")
    monkeypatch.undo()
    assert list_check_constraints(p) == {}  # rolled back

    # clean racer (fresh table — the violating racer's row above stays
    # in its table by design): constraint survives the re-validation
    p2 = str(tmp_path / "t2")
    commit_version(spark.createDataFrame([(1, 1.0)], "k long, v double"), p2)
    state2 = {"raced": False}

    def clean_racing_publish(staged, dst):
        if not state2["raced"] and "_constraints" in dst:
            state2["raced"] = True
            commit_version(
                spark.createDataFrame([(3, 7.0)], "k long, v double"), p2,
                mode="append",
            )
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", clean_racing_publish)
    add_check_constraint(spark, p2, "v_positive", "v > 0")
    assert list_check_constraints(p2) == {"v_positive": "v > 0"}


def test_overwrite_missing_constrained_column_is_violation(spark, table):
    """An overwrite batch that doesn't carry a constrained column is a
    loud ConstraintViolationError (the NULLs readers would see), not a
    raw AnalysisException (ADVICE r11)."""
    batch = spark.createDataFrame([(1,)], "k long")  # no v at all
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        commit_version(batch, table, mode="overwrite")


_RACED_WRITES = {
    "update_where": lambda spark, p: update_where(spark, p, "k <= 3", {"v": F.lit(500.0)}),
    "merge_on_read": lambda spark, p: merge_on_read(
        spark, p, spark.createDataFrame([(1, 500.0), (7001, 500.0)], "k long, v double"), ["k"]
    ),
    "commit_version": lambda spark, p: commit_version(
        spark.createDataFrame([(7001, 500.0)], "k long, v double"), p,
        mode="append", on_conflict="rebase",
    ),
}


@pytest.mark.parametrize("write", sorted(_RACED_WRITES))
def test_update_rebase_rechecks_constraint_added_during_race(
    spark, tmp_path, monkeypatch, write
):
    """A constraint landing DURING a write's race window gates the
    already-staged rows on the rebase path: the rebase re-reads the
    staged files and raises instead of publishing ungated rows — for
    UPDATE images, merge-on-read images and a rebasing append alike."""
    import fdf_spark.sources.versioned as V

    p = str(tmp_path / "t")
    df = spark.range(1, 101).select(F.col("id").alias("k"), (F.col("id") % 9 + 1.0).alias("v"))
    commit_version(df, p)

    real_publish = V._publish_manifest_atomic
    state = {"raced": False}

    def racing_publish(staged, dst):
        # fire on the write's manifest publish: land a blind append
        # (compatible head → rebase path) AND attach a constraint the
        # staged rows violate
        if not state["raced"] and "_versions" in dst and "v00000002" in dst:
            state["raced"] = True
            commit_version(
                spark.createDataFrame([(9001, 5.0)], "k long, v double"), p,
                mode="append",
            )
            add_check_constraint(spark, p, "v_small", "v < 100")
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    with pytest.raises(ConstraintViolationError, match="v_small"):
        _RACED_WRITES[write](spark, p)
    monkeypatch.undo()
    assert state["raced"]
    # nothing of the write landed; the racer's append did
    got = read_version(spark, p)
    assert got.filter("v >= 100").count() == 0
    assert got.filter("k = 9001").count() == 1


def test_add_constraint_rolls_back_on_unresolvable_revalidation(
    spark, tmp_path, monkeypatch
):
    """Code-review r12: the post-publish revalidation rolls the
    constraint back on ANY failure, not just a violation — e.g. a
    racing drop_column that makes the expression unresolvable."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.sources.versioned import drop_column

    p = str(tmp_path / "t")
    commit_version(spark.createDataFrame([(1, 1.0)], "k long, v double"), p)

    real_publish = V._publish_manifest_atomic
    state = {"raced": False}

    def racing_publish(staged, dst):
        if not state["raced"] and "_constraints" in dst:
            state["raced"] = True
            drop_column(p, "v")  # legal: the constraint file isn't live yet
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    with pytest.raises(Exception):
        add_check_constraint(spark, p, "v_positive", "v > 0")
    monkeypatch.undo()
    assert list_check_constraints(p) == {}  # rolled back, not leaked
