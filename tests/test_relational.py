"""Every SQL-expressible registry query hash-matches its DuckDB oracle
(the same check the driver runs at sf0.01; here at sf0.001 for speed,
with a small marked subset also run at sf0.01 in test_oracle_sf001)."""

from __future__ import annotations

import pytest

from fdf_spark.queries import load_all
from tests.conftest import SMOKE_DIR
from tests.oracle_utils import run_compare

REGISTRY = load_all()
SQL_QUERIES = [q for q in REGISTRY.values() if q.sql is not None]
NO_SQL_QUERIES = [q for q in REGISTRY.values() if q.sql is None]


@pytest.mark.parametrize("q", SQL_QUERIES, ids=[q.name for q in SQL_QUERIES])
def test_oracle_match(spark, duck, q):
    run_compare(spark, duck, q, SMOKE_DIR)


@pytest.mark.parametrize("q", NO_SQL_QUERIES, ids=[q.name for q in NO_SQL_QUERIES])
def test_rows_only(spark, q):
    df = q.fn(spark, SMOKE_DIR)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.schema.fields) > 0


def test_approx_distinct_error(spark):
    """q22 sketch within 5% of exact counts."""
    approx = REGISTRY["q22_approx_distinct_sketch"].fn(spark, SMOKE_DIR).collect()[0]
    exact = REGISTRY["q21_distinct_counts"].fn(spark, SMOKE_DIR).collect()[0]
    assert abs(approx["approx_parts"] - exact["n_parts"]) <= 0.05 * exact["n_parts"] + 2
    assert abs(approx["approx_orders"] - exact["n_orders"]) <= 0.05 * exact["n_orders"] + 2


def test_q46_pre_agg_matches_sql_text(spark):
    # r15: the pre-aggregate-then-groupingSets shape must equal the
    # shared SQL text (single Expand over fact rows) exactly — same
    # columns, dtypes, rows incl. NULL grouping rows
    from fdf_spark.queries import load_all
    from fdf_spark.queries.relational import _Q46_SQL
    from fdf_spark.sources.tables import register_views
    from tests.conftest import SMOKE_DIR

    register_views(spark, SMOKE_DIR)
    want = spark.sql(_Q46_SQL).toPandas()
    got = load_all()["q46_grouping_sets"].fn(spark, SMOKE_DIR).toPandas()
    assert list(want.columns) == list(got.columns)
    assert list(want.dtypes) == list(got.dtypes)
    assert want.equals(got)


def test_q01_q48_arrow_partials_match_dsum_form(spark):
    # r15: the Arrow partial-sum tier must reproduce the dsum aggregate
    # BITWISE (exact scaled-int64/decimal(38,0) accumulation, exact
    # decimal division, same correctly-rounded decimal->double)
    import struct

    from pyspark.sql import functions as F

    from fdf_spark.functions.scalar import davg, dsum
    from fdf_spark.queries import load_all
    from fdf_spark.sources.tables import load_table
    from tests.conftest import SMOKE_DIR

    packrow = lambda df: [
        tuple(struct.pack("<d", v) if isinstance(v, float) else v for v in r)
        for r in df.itertuples(index=False)
    ]
    li = load_table(spark, SMOKE_DIR, "lineitem")
    reg = load_all()
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    old01 = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    a, b = old01.toPandas(), reg["q01_pricing_summary"].fn(spark, SMOKE_DIR).toPandas()
    assert list(a.dtypes) == list(b.dtypes) and packrow(a) == packrow(b)
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), dsum(q).alias("sx"), dsum(q * q).alias("sxx"),
        dsum(p).alias("sy"), dsum(p * p).alias("syy"), dsum(q * p).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    vx, vy = sxx - sx * sx / n, syy - sy * sy / n
    old48 = m.select(
        "l_returnflag",
        F.round(F.sqrt(vx / (n - 1)), 6).alias("std_qty"),
        F.round(F.sqrt(vy / (n - 1)), 6).alias("std_price"),
        F.round((sxy - sx * sy / n) / F.sqrt(vx * vy), 6).alias("corr_qty_price"),
    ).orderBy("l_returnflag")
    a, b = old48.toPandas(), reg["q48_stats_moments"].fn(spark, SMOKE_DIR).toPandas()
    assert list(a.dtypes) == list(b.dtypes) and packrow(a) == packrow(b)


def test_dsum_partials_task_retry_is_exact(tmp_path):
    # a task that fails mid-way and is retried must leave the q01
    # partials bitwise-unchanged, and so must a clean run on the reused
    # Python workers after it: the kernel keeps no state outside one
    # attempt.  Retries need their own session (local[4,2]: two attempts).
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    script = """
import json, sys
from pathlib import Path
from pyspark import TaskContext
from pyspark.sql import functions as F
from fdf_spark.functions.scalar import dsum_partials
from fdf_spark.queries.relational import _Q01_KEYS, _q01_batch
from fdf_spark.session import get_spark
from fdf_spark.sources.tables import load_table

sf_dir, marker = sys.argv[1], Path(sys.argv[2])
spark = get_spark(
    "retry", master="local[4,2]",
    extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "200"},
)
src = load_table(spark, sf_dir, "lineitem").filter(
    F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
).select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax")

seen = []

def flaky(pdf):  # the first attempt of partition 0 dies on its third batch
    ctx = TaskContext.get()
    seen.append(1)
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and len(seen) == 3:
        marker.touch()
        raise RuntimeError("injected first-attempt failure")
    return _q01_batch(pdf)

rows = lambda fn: sorted(tuple(r) for r in dsum_partials(src, _Q01_KEYS, fn).collect())
retried, clean = rows(flaky), rows(_q01_batch)  # clean second: reused workers
print(json.dumps({"rows": len(clean), "equal": clean == retried}))
spark.stop()
"""
    marker = tmp_path / "failed_once"
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", script, SMOKE_DIR, str(marker)],
        cwd=Path(__file__).resolve().parents[1], env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert marker.exists() and got["rows"] > 0 and got["equal"]


def test_dsum_partials_arrow_rejects_nonfinite(spark):
    # the envelope must fail LOUDLY (dsum's ANSI discipline), never
    # silently diverge
    import pytest as _pytest

    from pyspark.sql.utils import PythonException

    from fdf_spark.functions.scalar import dsum_partials

    df = spark.createDataFrame(
        [("a", 1.0), ("a", float("nan"))], "k string, v double"
    )
    parts = dsum_partials(
        df, "k string",
        lambda b: [((b["k"].to_numpy(zero_copy_only=False),), b["v"].to_numpy()[:, None])],
    )
    with _pytest.raises(PythonException, match="non-finite"):
        parts.collect()
