"""Relational operator surface (SURVEY §2.2-2.8) as oracle-checked queries.

These queries exercise, on the driver's TPC-H-ish fixtures, every
relational primitive the engine declares: projection/filter (P1, P6,
P7), equi/semi/anti joins with broadcast dims (J2, J5, J6), grouped and
windowed aggregation (A1-A6, §2.5), sorts/limits (O1-O4), set ops
(U1-U3, §2.7), and the scalar function library (F1-F12).

Float discipline: every double aggregate uses the exact-decimal
``dsum``/``davg`` pattern (see fdf_spark.functions.scalar) so results
are bit-identical regardless of partitioning — the property that makes
a 1000-executor run hash-match a single-threaded DuckDB oracle.

Scale notes inline per query; the common ones:
- dimension joins (region/nation/customer at this ratio) are explicit
  ``F.broadcast`` so no shuffle of the fact side;
- fact-fact joins rely on AQE to pick sort-merge + skew splitting;
- all filters are plain Column predicates → parquet pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fdf_spark.functions.scalar import (
    davg,
    decode_shot_bytes,
    dsum,
    dsum_finish,
    dsum_partials,
    encode_shot_bytes,
    morton_key,
    sql_davg,
    sql_dsum,
    sql_morton_key,
)
from fdf_spark.queries import materialize_and_cleanup as _materialize_and_cleanup
from fdf_spark.queries import query
from fdf_spark.sources.tables import load_table as T
from fdf_spark.sources.tables import local_df

# ---------------------------------------------------------------------------
# Aggregation core
# ---------------------------------------------------------------------------


_Q01_KEYS = "l_returnflag string, l_linestatus string"


def _np(batch, col, dtype=None):
    """One column of an Arrow batch as a numpy array (``dtype``: cast)."""
    a = batch[col].to_numpy(zero_copy_only=False)
    return a if dtype is None else a.astype(dtype, copy=False)


def _q01_batch(batch):
    """q01's five measures per row (qty, price, disc_price, charge,
    disc), each with the IEEE op order of its Column expression."""
    import numpy as np

    p = _np(batch, "l_extendedprice", np.float64)
    d = _np(batch, "l_discount", np.float64)
    disc_price = p * (1.0 - d)
    charge = disc_price * (1.0 + _np(batch, "l_tax", np.float64))
    x = np.column_stack([_np(batch, "l_quantity", np.float64), p, disc_price, charge, d])
    return [((_np(batch, "l_returnflag"), _np(batch, "l_linestatus")), x)]


@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    operators=("A2", "A5", "A6", "P6", "P7"),
    doc="TPC-H Q1 shape: scan-filter-group-agg, the map-side-combine workhorse.",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The seven decimal accumulations as per-row BigDecimal casts inside
    # the aggregate cost ~0.5 s per dsum column at 600k rows; the exact
    # 6-dp partials kernel computes the same scaled integers in one
    # numpy pass per task and ships one narrow row per group per task.
    # The finish is exact decimal division + the same correctly-rounded
    # decimal→double (scalar.dsum_finish); bitwise-equal to the dsum
    # form (pinned in pytest).
    li = T(spark, sf_dir, "lineitem")
    src = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select(
        "l_returnflag", "l_linestatus",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    )
    measures = ("qty", "price", "disc_price", "charge", "disc")
    parts = dsum_partials(src, _Q01_KEYS, _q01_batch)
    comb = parts.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("n").alias("n"),
        *[F.sum(F.col("s")[i]).alias(f"s_{m}") for i, m in enumerate(measures)],
    )
    return comb.select(
        "l_returnflag",
        "l_linestatus",
        dsum_finish("qty").alias("sum_qty"),
        dsum_finish("price").alias("sum_base_price"),
        dsum_finish("disc_price").alias("sum_disc_price"),
        dsum_finish("charge").alias("sum_charge"),
        (dsum_finish("qty") / F.col("n")).alias("avg_qty"),
        (dsum_finish("price") / F.col("n")).alias("avg_price"),
        (dsum_finish("disc") / F.col("n")).alias("avg_disc"),
        F.col("n").alias("count_order"),
    ).orderBy("l_returnflag", "l_linestatus")


@query(
    "q02_filtered_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
    operators=("P6", "P7", "A2"),
    doc="TPC-H Q6 shape: pure pushdown filter + global agg (no shuffle but one partial-agg exchange).",
)
def q02_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "q03_revenue_by_nation",
    f"""
    SELECT n.n_name AS nation,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    ORDER BY nation
    """,
    operators=("J2", "J3", "P6"),
    doc="Star join: fact-fact sort-merge (lineitem⋈orders) + broadcast dims; "
    "region filter prunes before the big join (Catalyst pushes through).",
)
def q03_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    # dims are broadcast: nation/region bounded (25/5 rows at any SF);
    # customer⋈nation⋈region collapses to a small keyed side at this ratio.
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name").isin("ASIA", "EUROPE"))), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("nation")
    )


@query(
    "q04_top_orders",
    """
    SELECT o.o_orderkey, c.c_name, o.o_totalprice, o.o_orderdate
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 10
    """,
    operators=("O1", "O2", "O3", "J2", "S4"),
    doc="Global top-k: TakeOrderedAndProject (no full sort at scale); orderkey tiebreak for determinism.",
)
def q04_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q05_active_customers_by_segment",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    operators=("J5", "P8", "A6"),
    doc="Left-semi join (the reference's shot-set restriction, factory.py:287-293).",
)
def q05_active_customers_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "q06_idle_customers_by_nation",
    """
    SELECT n.n_name AS nation, COUNT(*) AS n_idle
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY n.n_name
    ORDER BY nation
    """,
    operators=("J6", "P8"),
    doc="Anti join (the reference's efit existence probe inverted, factory.py:495-512).",
)
def q06_idle_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_idle"))
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Distinct / set operations
# ---------------------------------------------------------------------------


@query(
    "q07_distinct_brands",
    """
    SELECT DISTINCT p_brand FROM part ORDER BY p_brand
    """,
    operators=("A3",),
    doc="SELECT DISTINCT (factory.py:537 shotlist dedup).",
)
def q07_distinct_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "part").select("p_brand").distinct().orderBy("p_brand")


@query(
    "q08_union_dedup_custkeys",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    ORDER BY c_custkey
    """,
    operators=("U1", "U2", "U3", "A3"),
    doc="Union of shot sources + dedup (factory.py:232-242: explicit ∪ xp ∪ date).",
)
def q08_union_dedup_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.unionByName(b).distinct().orderBy("c_custkey")


@query(
    "q09_nation_set_ops",
    """
    WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT nationkey, 'both' AS membership FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
    UNION ALL
    SELECT nationkey, 'customer_only' AS membership FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
    ORDER BY membership, nationkey
    """,
    operators=("U1", "A3"),
    doc="intersect / except surface (§2.7 declared ops).",
)
def q09_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    sn = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cn.intersect(sn).withColumn("membership", F.lit("both"))
    conly = cn.exceptAll(sn.intersect(cn)).withColumn("membership", F.lit("customer_only"))
    return both.unionByName(conly).orderBy("membership", "nationkey")


# ---------------------------------------------------------------------------
# Window functions (§2.5)
# ---------------------------------------------------------------------------


@query(
    "q10_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    operators=("P2", "O4"),
    doc="row_number top-k per group — the positional-slice primitive (fdf_signal.py:182-231) in relational form.",
)
def q10_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


@query(
    "q11_running_customer_spend",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    operators=("A1", "A5"),
    doc="Cumulative frame aggregate (the prefix-window pattern behind USXR baseline, usxr/_postprocess.py:11).",
)
def q11_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        o.withColumn("running_spend", F.round(F.sum("o_totalprice").over(w), 4))
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q12_order_gaps",
    """
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS INTEGER) AS gap_days
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    operators=("P2",),
    doc="lag/lead analytics — sample-spacing on non-uniform grids (§2.5 declared).",
)
def q12_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("gap_days", F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)))
        .select("o_custkey", "o_orderkey", "gap_days")
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Grouped filters / conditional aggregation / correlated shapes
# ---------------------------------------------------------------------------


@query(
    "q13_brand_stats_having",
    f"""
    SELECT p_brand, COUNT(*) AS n_parts, {sql_davg('p_retailprice')} AS avg_price
    FROM part
    GROUP BY p_brand
    HAVING COUNT(*) >= 3
    ORDER BY p_brand
    """,
    operators=("A2", "A6", "P6"),
    doc="GROUP BY + HAVING.",
)
def q13_brand_stats_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"), davg("p_retailprice").alias("avg_price"))
        .filter(F.col("n_parts") >= 3)
        .orderBy("p_brand")
    )


@query(
    "q14_promo_share_by_month",
    f"""
    SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
           {sql_dsum("CASE WHEN p.p_type LIKE 'PROMO%' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")}
             AS promo_revenue,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY date_trunc('month', l.l_shipdate)
    ORDER BY ship_month
    """,
    operators=("J3", "A2", "F5"),
    doc="TPC-H Q14 shape: conditional aggregation over a fact-dim join (part is broadcast).",
)
def q14_promo_share_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(dsum(promo).alias("promo_revenue"), dsum(rev).alias("total_revenue"))
        .orderBy("ship_month")
    )


@query(
    "q15_small_quantity_parts",
    f"""
    WITH pa AS (
      SELECT l_partkey, {sql_davg('l_quantity')} AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_dsum('l.l_extendedprice')} / 7.0 AS yearly_loss,
           COUNT(*) AS n_small
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.5 * pa.avg_qty
    """,
    operators=("J3", "A2", "A5"),
    doc="TPC-H Q17 shape: per-key average via an unbounded window instead of "
    "agg + re-join — the fact shuffles ONCE by l_partkey and the join "
    "disappears (r14, guide §2.4: agg+join re-shuffled the fact for the "
    "join anyway at scale, plus the agg exchange; measured 0.67 → 0.46 s "
    "min-of-5 interleaved at sf0.1 with bit-identical output — the window "
    "avg is the same decimal sum/count). Per-partkey groups are ~30 rows "
    "at any SF (uniform), so the window partition cannot skew.",
)
def q15_small_quantity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.functions.scalar import SUM_DECIMAL

    li = T(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_partkey")
    avg_qty = (
        F.sum(F.col("l_quantity").cast(SUM_DECIMAL)).over(w).cast("double")
        / F.count("l_quantity").over(w)
    )
    return (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("yearly_loss"),
            F.count("*").alias("n_small"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar function library (§2.8)
# ---------------------------------------------------------------------------


@query(
    "q16_scalar_functions",
    """
    SELECT o_orderkey,
           upper(o_orderpriority) AS prio_upper,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
           substring(o_orderpriority, 1, 1) AS prio_code,
           ROUND(o_totalprice / 1000.0, 6) AS price_k,
           ABS(o_totalprice - 100000.0) AS dist_from_100k
    FROM orders
    ORDER BY o_orderkey
    """,
    operators=("F1", "F2", "F3", "F6", "F7", "F8", "F10"),
    doc="Scalar library: case transform, zero-pad (factory.py:951-959), date parts, "
    "unit scaling (ip/plot.py:19), abs-distance (fdf_signal.py:298).",
)
def q16_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.upper("o_orderpriority").alias("prio_upper"),
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.substring("o_orderpriority", 1, 1).alias("prio_code"),
            F.round(F.col("o_totalprice") / 1000.0, 6).alias("price_k"),
            F.abs(F.col("o_totalprice") - 100000.0).alias("dist_from_100k"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q17_rundate_roundtrip",
    """
    SELECT DISTINCT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS rundate,
           CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS decoded
    FROM orders
    ORDER BY rundate
    """,
    operators=("F5", "A3"),
    doc="YYYYMMDD int ↔ DATE decode, the logbook rundate codec (factory.py:589-593,619-623).",
)
def q17_rundate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    rundate = F.date_format("o_orderdate", "yyyyMMdd").cast("int")
    return (
        o.select(
            rundate.alias("rundate"),
            F.to_date(rundate.cast("string"), "yyyyMMdd").alias("decoded"),
        )
        .distinct()
        .orderBy("rundate")
    )


@query(
    "q18_shot_byte_codec",
    """
    SELECT event_id,
           CAST(((event_id >> 0) & 255)
              + ((event_id >> 8) & 255) * 256
              + ((event_id >> 16) & 255) * 65536
              + ((event_id >> 24) & 255) * 16777216 AS BIGINT) AS decoded
    FROM events
    WHERE event_id < 4294967296
    ORDER BY event_id
    """,
    operators=("F9", "A7"),
    doc="Base-256 shot-number codec from the event bus (factory.py:298-299 encode, :317 decode), "
    "as a JVM-side array fold (F.aggregate).",
)
def q18_shot_byte_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id") < 2**32)
        .select(
            "event_id",
            decode_shot_bytes(encode_shot_bytes(F.col("event_id"))).alias("decoded"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Multi-dim aggregation (rollup / pivot) + approx sketches
# ---------------------------------------------------------------------------


@query(
    "q19_rollup_revenue",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_extendedprice')} AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    operators=("A2", "A6", "A8"),
    doc="ROLLUP hierarchy totals (declared OLAP surface). Plan: the "
    "fact table pre-aggregates to the base (flag, status) cells FIRST "
    "(decomposable measures: decimal sum-of-sums, sum of counts), and "
    "the x3 Expand runs over ~9 rows instead of the corpus — measured "
    "2x at sf0.1 (1.34 -> 0.70 s), and at 100 TB the Expand multiply "
    "never touches fact-table rows.",
)
def q19_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All-JVM on purpose: the dsum_partials form q01 (7 measures) and
    # q48 (5) use, built here and proven bitwise-equal, measured at
    # parity interleaved (mins 0.51 vs 0.52 s): with only ONE decimal
    # measure the Python-boundary cost cancels the BigDecimal saving.
    from fdf_spark.functions.scalar import SUM_DECIMAL

    li = T(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast(SUM_DECIMAL)).alias("d"),
        F.count("*").alias("n"),
    )
    return (
        pre.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("d").cast("double").alias("sum_price"), F.sum("n").alias("n_rows"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "q20_pivot_status",
    f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    operators=("A2", "A8"),
    doc="Pivot (wide) aggregation; oracle written as conditional aggs with matching names.",
)
def q20_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
    )
    return (
        piv.select(
            "l_returnflag",
            F.col("O").alias("qty_O"),
            F.col("F").alias("qty_F"),
        ).orderBy("l_returnflag")
    )


@query(
    "q21_distinct_counts",
    """
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
    operators=("A3", "N5"),
    doc="Exact distinct counts (oracle twin of the approx sketch q22). "
    "r14: three single-column distinct aggregates cross-joined instead of "
    "one multi-distinct agg — the multi-distinct plan Expands every fact "
    "row 3x before the partial agg; three independent subtrees each "
    "partial-dedup ONE column map-side and shuffle only distinct values "
    "(same bytes, no Expand; columnar scans read the same 3 columns "
    "either way, and the subtrees schedule concurrently). Measured "
    "0.64 → 0.33 s min-of-5 interleaved at sf0.1, identical result.",
)
def q21_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    # count(col), not count(*): distinct() keeps an all-NULL row that
    # COUNT(DISTINCT col) must not count
    parts = li.select("l_partkey").distinct().agg(F.count("l_partkey").alias("n_parts"))
    supps = li.select("l_suppkey").distinct().agg(F.count("l_suppkey").alias("n_supps"))
    orders = li.select("l_orderkey").distinct().agg(F.count("l_orderkey").alias("n_orders"))
    return parts.crossJoin(supps).crossJoin(orders)


@query(
    "q22_approx_distinct_sketch",
    None,  # HLL implementations differ engine-to-engine → rows-only check
    operators=("N5",),
    doc="approx_count_distinct (HyperLogLog++) — the 100 TB path where exact distinct "
    "would shuffle every key; pytest asserts <5%% error vs exact.",
)
def q22_approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
    )


@query(
    "q23_salted_distinct_users",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_user_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    operators=("A3", "N5"),
    doc="Exact per-key distinct via two salted phases (hash(value)%n "
    "sub-keys partition the distinct space, per-bucket counts add up) — "
    "the skew-safe plan for hot keys that AQE cannot split; result is "
    "salt-invariant, which is exactly what the oracle checks.",
)
def q23_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.operators.skew import salted_count_distinct

    ev = T(spark, sf_dir, "events")
    return salted_count_distinct(ev, ["event_type"], "user_id", salt_n=16).orderBy(
        "event_type"
    )


@query(
    "q24_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    operators=("N5", "A2"),
    doc="Exact continuous percentiles per group (Spark percentile == "
    "DuckDB quantile_cont, both linear-interpolation); the approximate "
    "twin at scale is approx_percentile (t-digest) — pytest checks its "
    "error envelope.",
)
def q24_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    # r14: ONE percentile aggregate with an array of percentages — the
    # three separate F.percentile calls each built and shuffled their
    # own ObjectHashAggregate buffer holding every group value (3x the
    # per-task state and 3x the exchange bytes for identical sorted
    # buffers). Same Percentile evaluator, same interpolation, same
    # values — just one buffer. Measured 2.9 -> 1.1 s steady at sf0.1.
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("ps"))
        .select(
            "l_returnflag",
            F.col("ps")[0].alias("p50"),
            F.col("ps")[1].alias("p90"),
            F.col("ps")[2].alias("p99"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q25_value_tier_range_join",
    """
    WITH tiers(tier, lo, hi) AS (VALUES
      ('t0', 0.0, 50.0), ('t1', 50.0, 100.0), ('t2', 100.0, 150.0),
      ('t3', 150.0, 250.0), ('t4', 250.0, 400.0), ('t5', 400.0, 500.0)),
    j AS (
      SELECT t.tier, e.value FROM events e
      JOIN tiers t ON e.value >= t.lo AND e.value < t.hi)
    SELECT tier, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM j GROUP BY tier ORDER BY tier
    """,
    operators=("J3", "J7"),
    doc="Point-in-interval join via domain bucketing (equi-join on "
    "floor(value/width) + exact re-check) instead of the "
    "BroadcastNestedLoopJoin Spark would plan for the raw theta join.",
)
def q25_value_tier_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.functions.scalar import dsum
    from fdf_spark.operators.rangejoin import range_join

    ev = T(spark, sf_dir, "events").select("event_id", "value")
    tiers = local_df(
        spark,
        [("t0", 0.0, 50.0), ("t1", 50.0, 100.0), ("t2", 100.0, 150.0),
         ("t3", 150.0, 250.0), ("t4", 250.0, 400.0), ("t5", 400.0, 500.0)],
        "tier string, lo double, hi double",
    )
    joined = range_join(ev, "value", tiers, "lo", "hi", bucket_width=50.0)
    return (
        joined.groupBy("tier")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .orderBy("tier")
    )


@query(
    "q26_sql_text_surface",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    ORDER BY o_custkey, o_orderkey
    LIMIT 500
    """,
    operators=("S4", "P6", "O1", "O3"),
    doc="The engine's raw-SQL surface: the same ANSI text runs through "
    "spark.sql over registered views — parity for the reference's "
    "hand-written logbook SQL (factory.py:537-542, SET ROWCOUNT 500 "
    "guard :572). DataFrame and SQL entry points share one Catalyst plan.",
)
def q26_sql_text_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 100000
        ORDER BY o_custkey, o_orderkey
        LIMIT 500
        """
    )


@query(
    "q27_full_outer_spend",
    f"""
    WITH buyers AS (
      SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS spend
      FROM orders GROUP BY o_custkey),
    evens AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0)
    SELECT COALESCE(e.c_custkey, b.o_custkey) AS custkey,
           e.c_name AS name,
           COALESCE(b.n_orders, 0) AS n_orders,
           COALESCE(b.spend, 0.0) AS spend,
           (e.c_custkey IS NOT NULL) AS known_customer,
           (b.o_custkey IS NOT NULL) AS has_orders
    FROM evens e FULL OUTER JOIN buyers b ON e.c_custkey = b.o_custkey
    ORDER BY custkey
    """,
    operators=("J2", "J3", "P6"),
    doc="Full outer join with genuine nulls on BOTH sides (even-key "
    "customers vs order aggregate): coalesced key, null-safe flags. "
    "Evidence for the declared general-join surface (SURVEY §2.3); "
    "left/right outer are restrictions of this plan.",
)
def q27_full_outer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    buyers = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("spend")
    )
    evens = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    j = evens.join(buyers, evens["c_custkey"] == buyers["o_custkey"], "full_outer")
    return (
        j.select(
            F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
            F.col("c_name").alias("name"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
            F.col("c_custkey").isNotNull().alias("known_customer"),
            F.col("o_custkey").isNotNull().alias("has_orders"),
        )
        .orderBy("custkey")
    )


@query(
    "q28_rank_suite",
    """
    SELECT o_orderkey,
           o_orderpriority,
           CAST(RANK() OVER wt AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER wt AS INTEGER) AS drnk,
           round(CUME_DIST() OVER wt, 6) AS cdist,
           LEAD(o_orderkey) OVER wu AS next_orderkey,
           CAST(NTILE(4) OVER wu AS INTEGER) AS quartile
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-02-01'
    WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_orderdate),
           wu AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_orderpriority, o_orderdate, o_orderkey
    """,
    operators=("P2",),
    doc="Ranking-window family declared in SURVEY §2.5: rank/dense_rank/"
    "cume_dist over a tied key (deterministic under ties), lead/ntile "
    "over a unique key. One hash exchange on the partition key serves "
    "all five functions (same window frame group).",
)
def q28_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1997-02-01"))
    )
    wt = W.partitionBy("o_orderpriority").orderBy("o_orderdate")
    wu = W.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(wt).alias("rnk"),
            F.dense_rank().over(wt).alias("drnk"),
            F.round(F.cume_dist().over(wt), 6).alias("cdist"),
            F.lead("o_orderkey").over(wu).alias("next_orderkey"),
            F.ntile(4).over(wu).alias("quartile"),
        )
        .orderBy("o_orderpriority", F.col("rnk"), "o_orderkey")
    )


_Q29_SQL = """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    ORDER BY c_custkey
    """


@query(
    "q29_correlated_exists",
    _Q29_SQL,
    operators=("J5", "J6", "P6"),
    doc="Correlated EXISTS / NOT EXISTS subqueries, identical ANSI text on "
    "both engines: Catalyst decorrelates to a left-semi + left-anti join "
    "pair — the declared general-subquery surface beyond the reference's "
    "hand-written SQL.",
)
def q29_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q29_SQL)


_Q30_SQL = f"""
    WITH spend AS (
      SELECT o_custkey, {sql_dsum('o_totalprice')} AS total FROM orders GROUP BY o_custkey)
    SELECT s.o_custkey AS custkey, s.total
    FROM spend s
    WHERE s.total > (SELECT {sql_davg('total')} FROM spend)
    ORDER BY custkey
    """


@query(
    "q30_scalar_subquery",
    _Q30_SQL,
    operators=("A2", "P6"),
    doc="Uncorrelated scalar subquery (spend above corpus average), "
    "identical text both engines; Catalyst plans the scalar as a "
    "broadcast single-row subquery, no per-row re-evaluation.",
)
def q30_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q30_SQL)


# ---------------------------------------------------------------------------
# Multi-dim aggregation, continued: CUBE / UNPIVOT / range-frame windows
# ---------------------------------------------------------------------------


@query(
    "q31_cube_grouping",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    operators=("A2", "A6", "A8"),
    doc="CUBE with grouping_id disambiguation — completes the multi-dim "
    "OLAP family next to ROLLUP (q19) and PIVOT (q20). grouping_id() "
    "distinguishes a real NULL group key from a subtotal row; at scale "
    "CUBE is one Expand + one shuffle-agg (partial map-side combine), "
    "not 4 scans.",
)
def q31_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.functions.scalar import SUM_DECIMAL

    li = T(spark, sf_dir, "lineitem")
    # same pre-aggregate-then-Expand shape as q19: the x4 cube Expand
    # runs over the ~9 base cells, never the fact rows
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(SUM_DECIMAL)).alias("d"),
        F.count("*").alias("n"),
    )
    return (
        pre.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum("d").cast("double").alias("sum_qty"),
            F.sum("n").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_rows")
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "q32_unpivot_status",
    f"""
    WITH piv AS (
      SELECT l_returnflag,
             {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
             {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, status, qty FROM (
      SELECT l_returnflag, 'O' AS status, qty_O AS qty FROM piv
      UNION ALL
      SELECT l_returnflag, 'F' AS status, qty_F AS qty FROM piv)
    WHERE qty IS NOT NULL
    ORDER BY l_returnflag, status
    """,
    operators=("A2", "U2", "A8"),
    doc="UNPIVOT (wide→long melt) — the inverse of q20's pivot, as the "
    "native DataFrame.unpivot/melt operator (one Expand node, no "
    "shuffle beyond the feeding agg; null cells dropped per UNPIVOT "
    "semantics). Oracle spells it as the UNION ALL it desugars to.",
)
def q32_unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
    )
    return (
        piv.unpivot("l_returnflag", ["O", "F"], "status", "qty")
        .filter(F.col("qty").isNotNull())
        .orderBy("l_returnflag", "status")
    )


@query(
    "q33_trailing_spend_window",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
                 PARTITION BY o_custkey
                 ORDER BY date_diff('day', DATE '1992-01-01', o_orderdate)
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 4) AS trailing_30d
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    operators=("A1", "A5"),
    doc="RANGE-frame window: per-customer trailing-30-day spend over a "
    "non-uniform date grid — the value-window analog of q11's ROWS "
    "frame (SURVEY §2.5; the reference's value-based windows are P4). "
    "Ordering key is days-since-epoch so the frame is numeric and "
    "tie rows are frame peers in both engines. One shuffle on "
    "o_custkey; sort within partitions, no join.",
)
def q33_trailing_spend_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    days = F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-30, W.currentRow)
    )
    return (
        o.withColumn("trailing_30d", F.round(F.sum("o_totalprice").over(w), 4))
        .select("o_custkey", "o_orderkey", "trailing_30d")
        .orderBy("o_custkey", "o_orderkey")
    )


_Q46_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """


@query(
    "q46_grouping_sets",
    _Q46_SQL,
    operators=("A2", "A6", "A8"),
    doc="Explicit GROUPING SETS (two disjoint single-column sets + grand "
    "total) via the shared SQL-text surface — the irregular-lattice "
    "member of the q19/q31 family, identical text in both engines. "
    "Catalyst compiles it to the same single Expand + shuffled agg as "
    "CUBE, just with 3 projections instead of 4.",
)
def q46_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.functions.scalar import SUM_DECIMAL

    # r15: same pre-aggregate-then-Expand shape as q19/q31 — the ×3
    # grouping-sets Expand (and its per-copy decimal cast) runs over
    # the ~6 base cells, never the fact rows; decomposable measures
    # (exact decimal sum-of-sums, sum of counts) make it identical.
    # Measured 1.05 → 0.66 s at sf0.1; output equality asserted in
    # pytest against the shared SQL text, oracle green.
    li = T(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(SUM_DECIMAL)).alias("d"),
        F.count("*").alias("n"),
    )
    return (
        pre.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
        )
        .agg(F.sum("d").cast("double").alias("sum_qty"), F.sum("n").alias("n_rows"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "q47_price_histogram",
    f"""
    SELECT CAST(FLOOR(l_extendedprice / 10000) + 1 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY 1
    ORDER BY bucket
    """,
    operators=("A2", "A6", "A9"),
    doc="Equi-width histogram via width_bucket(price, 0, 120000, 12) — "
    "the one-pass distributed binning primitive (profiling a 100 TB "
    "column costs one map-side bucket expr + one 12-key shuffle). "
    "DuckDB has no width_bucket; the oracle spells out the identical "
    "floor((x-lo)/width)+1 arithmetic (width 10000 is exactly "
    "representable, so the doubles divide identically).",
)
def q47_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.width_bucket("l_extendedprice", F.lit(0.0), F.lit(120000.0), F.lit(12))
            .alias("bucket")
        )
        .agg(F.count("*").alias("n_rows"), dsum("l_extendedprice").alias("sum_price"))
        .orderBy("bucket")
    )


@query(
    "q48_stats_moments",
    f"""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             {sql_dsum('l_quantity')} AS sx,
             {sql_dsum('l_quantity * l_quantity')} AS sxx,
             {sql_dsum('l_extendedprice')} AS sy,
             {sql_dsum('l_extendedprice * l_extendedprice')} AS syy,
             {sql_dsum('l_quantity * l_extendedprice')} AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std_qty,
           round(sqrt((syy - sy * sy / n) / (n - 1)), 6) AS std_price,
           round((sxy - sx * sy / n)
                 / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS corr_qty_price
    FROM m
    ORDER BY l_returnflag
    """,
    operators=("A2", "A5", "A9"),
    doc="Statistical aggregates (stddev_samp, Pearson corr) derived from "
    "decimal-exact raw moments (n, Σx, Σx², Σy, Σy², Σxy) instead of "
    "the engines' one-pass stddev/corr kernels, whose float "
    "accumulation is partitioning-dependent. The moment sums are "
    "order-independent (associative decimal adds), so a 1000-partition "
    "cluster run reproduces a single-threaded oracle bit-for-bit; one "
    "shuffle of 6 numbers per group.",
)
def q48_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same exact 6-dp partials kernel as q01, one row per group per
    # task, instead of five per-row BigDecimal casts (≈ 0.5 s each at
    # 600k rows).  The products (q*q, p*p, q*p) are double math in BOTH
    # engines (the decimal wraps only the sum), computed here with the
    # identical IEEE ops; bitwise-equal to the dsum form (pinned).
    li = T(spark, sf_dir, "lineitem")
    src = li.select("l_returnflag", "l_quantity", "l_extendedprice")
    measures = ("sx", "sxx", "sy", "syy", "sxy")

    def batch(b):
        import numpy as np

        q, p = _np(b, "l_quantity", np.float64), _np(b, "l_extendedprice", np.float64)
        return [((_np(b, "l_returnflag"),), np.column_stack([q, q * q, p, p * p, q * p]))]

    parts = dsum_partials(src, "l_returnflag string", batch)
    m = (
        parts.groupBy("l_returnflag")
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(F.col("s")[i]).alias(f"s_{k}") for i, k in enumerate(measures)],
        )
        .select(
            "l_returnflag",
            F.col("n"),
            dsum_finish("sx").alias("sx"),
            dsum_finish("sxx").alias("sxx"),
            dsum_finish("sy").alias("sy"),
            dsum_finish("syy").alias("syy"),
            dsum_finish("sxy").alias("sxy"),
        )
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    vx, vy = sxx - sx * sx / n, syy - sy * sy / n
    return m.select(
        "l_returnflag",
        F.round(F.sqrt(vx / (n - 1)), 6).alias("std_qty"),
        F.round(F.sqrt(vy / (n - 1)), 6).alias("std_price"),
        F.round((sxy - sx * sy / n) / F.sqrt(vx * vy), 6).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "q49_calendar_spine",
    f"""
    WITH spine AS (
      SELECT CAST(make_timestamp(1992, 1, 1, 0, 0, 0) + INTERVAL (m) MONTH AS TIMESTAMP) AS month
      FROM (SELECT unnest(range(84)) AS m)),
    rev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             {sql_dsum('o_totalprice')} AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1)
    SELECT s.month,
           COALESCE(r.revenue, 0.0) AS revenue,
           COALESCE(r.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN rev r ON s.month = r.month
    ORDER BY s.month
    """,
    operators=("A2", "F5", "J3", "F11"),
    doc="Gap-filling calendar spine: generate an 84-month series "
    "(F.sequence — the linspace primitive F11, applied to time), left "
    "join monthly revenue onto it, zero-fill the holes. The standard "
    "fix for 'missing months silently vanish from time-series output'. "
    "The spine is 84 rows from one generator row — broadcast side of "
    "the join; the fact side aggregates down to ≤84 rows before "
    "joining, so the join moves kilobytes regardless of input scale.",
)
def q49_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1992-01-01 00:00:00").cast("timestamp"),
                F.lit("1998-12-01 00:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month")
    )
    rev = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(dsum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
    )
    return (
        spine.join(rev, "month", "left")
        .select(
            "month",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("month")
    )


@query(
    "q57_date_functions",
    """
    SELECT o_orderkey,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS DATE) AS plus_3m,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr
    FROM orders
    WHERE o_orderkey < 200
    ORDER BY o_orderkey
    """,
    operators=("F5", "F13"),
    doc="Calendar function suite on the order-date column: last_day, "
    "add_months, day-of-week, ISO week, quarter — the civil-calendar "
    "edge cases (leap months, year-start ISO weeks) that YYYYMMDD int "
    "arithmetic (factory.py:589-593) cannot express. Convention trap "
    "pinned by the oracle: Spark's dayofweek is 1-based Sunday, "
    "DuckDB's is 0-based. All codegen'd date expressions, no shuffle.",
)
def q57_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).alias("plus_3m"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("iso_week"),
        F.quarter(d).alias("qtr"),
    ).orderBy("o_orderkey")


@query(
    "q56_frame_analytics",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey, o_orderkey
    """,
    operators=("P2",),
    doc="Positional frame analytics (first_value/last_value/nth_value "
    "over the full-partition frame) — completes the §2.5 window "
    "family next to ranking (q28) and lag (q12). The explicit "
    "UNBOUNDED FOLLOWING frame matters: the default frame ends at "
    "CURRENT ROW, which silently turns last_value into 'this row' in "
    "both engines. One shuffle on o_custkey.",
)
def q56_frame_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    ).orderBy("o_custkey", "o_orderkey")


_Q88_SQL = f"""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity < 10) AS n_small,
           COUNT(*) FILTER (WHERE l_quantity >= 40) AS n_large,
           {sql_dsum('l_extendedprice')} AS sum_price_all,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6)))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS sum_price_discounted
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """


@query(
    "q88_filtered_agg",
    _Q88_SQL,
    operators=("A2", "P7"),
    doc="Conditional aggregation with the SQL:2003 FILTER clause — one "
    "scan computing several differently-filtered aggregates (the "
    "segmented-metrics pattern that otherwise becomes N scans or N "
    "CASE-wrapped columns). Shared SQL text runs verbatim in both "
    "engines; Catalyst folds every FILTER into the same partial agg, "
    "so the plan is identical to q01's single-pass shape.",
)
def q88_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q88_SQL)


@query(
    "q89_multiset_ops",
    """
    SELECT c_nationkey, COUNT(*) AS n FROM (
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT ALL
      SELECT c_nationkey FROM customer WHERE c_acctbal > 0
    ) GROUP BY c_nationkey
    UNION ALL
    SELECT -1 - c_nationkey AS c_nationkey, COUNT(*) AS n FROM (
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT ALL
      SELECT c_nationkey FROM customer WHERE c_acctbal > 0
    ) GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    operators=("U1", "A3"),
    doc="Multiset set operations (INTERSECT ALL / EXCEPT ALL) — "
    "bag semantics with per-row multiplicity, vs the distinct "
    "variants in q09. intersectAll/exceptAll compile to a "
    "count-and-replicate aggregation (one shuffle each), not a "
    "nested-loop; the negative-key branch keeps the two result "
    "sets disjoint in one relation.",
)
def q89_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    positive = c.filter(F.col("c_acctbal") > 0).select("c_nationkey")
    inter = (
        building.intersectAll(positive)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
    )
    diff = (
        building.exceptAll(positive)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .select((F.lit(-1) - F.col("c_nationkey")).alias("c_nationkey"), "n")
    )
    return inter.unionByName(diff).orderBy("c_nationkey")


@query(
    "q90_null_discipline",
    """
    SELECT o_orderkey,
           COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'top') AS prio,
           GREATEST(o_totalprice, 100000.0) AS floored_price,
           LEAST(o_custkey, 500) AS cust_cap,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS size_tier,
           (o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL) AS has_meta
    FROM orders
    WHERE o_orderkey < 300
    ORDER BY o_orderkey
    """,
    operators=("F8", "P6"),
    doc="Null/conditional expression suite: NULLIF→COALESCE chaining, "
    "GREATEST/LEAST clamping, searched CASE tiers, null-safe boolean "
    "composition — the scrubbing idioms every ETL layer leans on. "
    "All codegen'd expressions; identical three-valued-logic "
    "behavior pinned against the oracle.",
)
def q90_null_discipline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderpriority", F.lit("1-URGENT")), F.lit("top")).alias("prio"),
        F.greatest("o_totalprice", F.lit(100000.0)).alias("floored_price"),
        F.least("o_custkey", F.lit(500)).alias("cust_cap"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_tier"),
        (F.col("o_orderstatus").isNotNull() & F.col("o_orderpriority").isNotNull()).alias("has_meta"),
    ).orderBy("o_orderkey")


@query(
    "q97_zorder_key",
    f"""
    SELECT l_orderkey, l_linenumber,
           {sql_morton_key('(l_partkey % 4096)', '(l_suppkey % 4096)', 12)} AS zkey
    FROM lineitem
    WHERE l_orderkey % 50 = 1
    ORDER BY zkey, l_orderkey, l_linenumber
    """,
    operators=("F9", "S10"),
    doc="Z-order (Morton) clustering key: bit-interleave of two bounded "
    "dimensions as a pure codegen expression — sort_by this key in the "
    "table sink and parquet row-group min/max stats stay tight in BOTH "
    "dimensions (lakehouse Z-ORDER). tests/test_sinks.py measures the "
    "stat-tightness win against a single-column sort.",
)
def q97_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        morton_key(F.col("l_partkey") % 4096, F.col("l_suppkey") % 4096, bits=12).alias("zkey"),
    ).orderBy("zkey", "l_orderkey", "l_linenumber")


@query(
    "q110_upsert_merge",
    """
    WITH upd AS (
      SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice,
             'R' AS o_orderstatus
      FROM orders WHERE o_orderkey % 50 = 0),
    del AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey % 97 = 0 AND o_orderkey % 50 <> 0),
    ins AS (
      -- key 0 excluded: -0 = 0 would collide with upd's key-0 row
      -- (two live change rows for one key — the merge contract forbids it)
      SELECT -o_orderkey AS o_orderkey, o_totalprice * 0.5 AS o_totalprice,
             'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 71 = 0 AND o_orderkey <> 0),
    basem AS (
      SELECT b.o_orderkey,
             CASE WHEN u.o_orderkey IS NULL THEN b.o_totalprice ELSE u.o_totalprice END AS o_totalprice,
             CASE WHEN u.o_orderkey IS NULL THEN b.o_orderstatus ELSE u.o_orderstatus END AS o_orderstatus
      FROM orders b
      LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
      WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM del)),
    allm AS (
      SELECT * FROM basem
      UNION ALL SELECT o_orderkey, o_totalprice, o_orderstatus FROM ins)
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price,
           CAST(SUM(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
    FROM allm GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    operators=("N15", "J2", "U2", "S10"),
    doc="CDC MERGE INTO emulation (SURVEY §2.11 N15): a deterministic "
    "change batch (price updates on keys%50, deletes on keys%97, "
    "inserts on negated keys%71) merged into orders via "
    "operators.merge.merge_upsert, then a full-table audit aggregate "
    "(status, count, exact-decimal price sum, inserted-row count) so "
    "any mis-applied update/insert/delete flips the hash. Plan: the "
    "merge never shuffles the base relation — broadcast joins "
    "(anti/inner/anti) + union, with only change-set-sized exchanges "
    "(tests/test_merge.py pins the plan).",
)
def q110_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.operators.merge import merge_upsert

    orders = T(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    updates = orders.filter(k % 50 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
        F.lit(False).alias("deleted"),
    )
    deletes = orders.filter((k % 97 == 0) & (k % 50 != 0)).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(True).alias("deleted"),
    )
    inserts = orders.filter((k % 71 == 0) & (k != 0)).select(
        (-k).alias("o_orderkey"),
        (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(False).alias("deleted"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = merge_upsert(
        orders,
        changes,
        ["o_orderkey"],
        update_cols=["o_totalprice", "o_orderstatus"],
        delete_flag="deleted",
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
            F.sum(F.when(F.col("o_orderkey") < 0, 1).otherwise(0)).alias("n_inserted"),
        )
        .orderBy("o_orderstatus")
    )


def _pagerank_sql(iters: int = 3, d: float = 0.85, dec: int = 9) -> str:
    """DuckDB replay of operators.graph.pagerank: unrolled power
    iterations, per-edge contributions rounded at ``dec`` dp, decimal
    sums — the fixed-point arithmetic makes both engines agree exactly."""
    it_cte = ""
    prev = "r0"
    for i in range(1, iters + 1):
        it_cte += f""",
    c{i} AS (SELECT e.dst AS node, round(r.rank / g.deg, {dec}) AS c
             FROM edges e JOIN {prev} r ON e.src = r.node JOIN deg g ON e.src = g.src),
    s{i} AS (SELECT node, CAST(SUM(CAST(c AS DECIMAL(25,{dec}))) AS DOUBLE) AS s
             FROM c{i} GROUP BY node),
    r{i} AS (SELECT n.node,
                    round(round((1.0 - {d}e0) / nn.n, {dec}) + {d}e0 * COALESCE(s.s, 0.0), {dec}) AS rank
             FROM nodes n CROSS JOIN ncount nn LEFT JOIN s{i} s ON n.node = s.node)"""
        prev = f"r{i}"
    return f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 50 AS dst
      FROM orders WHERE o_custkey % 50 <> o_orderkey % 50),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    ncount AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, round(1.0 / nn.n, {dec}) AS rank FROM nodes CROSS JOIN ncount nn){it_cte}
    SELECT node, rank FROM {prev} ORDER BY rank DESC, node
    """


@query(
    "q115_pagerank",
    _pagerank_sql(iters=3),
    operators=("N16",),
    doc="Fixed-point PageRank (3 power iterations, damping 0.85) over a "
    "deterministic 50-node link graph derived from orders. Per-edge "
    "contributions round at 9 dp and sum in exact decimal, so the "
    "iterative loop replays bit-for-bit in the unrolled DuckDB oracle "
    "regardless of partitioning. Scale: each iteration is one |V|-row "
    "rank-to-edges hash join plus one dst aggregate — the canonical "
    "iterative-graph shape (see also connected_components/q74); "
    "lineage stays shallow at small iters, localCheckpoint for deep "
    "runs.",
)
def q115_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.operators.graph import pagerank

    o = T(spark, sf_dir, "orders")
    edges = (
        o.select(
            (F.col("o_custkey") % 50).alias("src"), (F.col("o_orderkey") % 50).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return pagerank(edges, iters=3).orderBy(F.desc("rank"), "node")


@query(
    "q116_time_travel",
    """
    SELECT 1 AS version, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT 2, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    UNION ALL
    SELECT 3, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
    FROM orders WHERE o_orderkey % 4 = 2
    ORDER BY version
    """,
    operators=("N17", "S10", "U2"),
    doc="Table versioning / time travel (SURVEY §2.11 N17): three "
    "commits to a manifest-versioned table (base, append, overwrite), "
    "then every historical version read back by snapshot and audited "
    "(count + exact-decimal sum). The manifest model (atomic publish, "
    "explicit file lists) is what gives snapshot isolation and "
    "pinned-reader immunity at 100 TB — asserted structurally in "
    "tests/test_versioned.py; this query pins the data plane: each "
    "snapshot returns exactly its commit-time relation, bit-for-bit.",
)
def q116_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import commit_version, read_version

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_versioned_")
    commit_version(orders.filter(k % 4 == 0), path)
    commit_version(orders.filter(k % 4 == 1), path, mode="append")
    commit_version(orders.filter(k % 4 == 2), path, mode="overwrite")
    audits = [
        read_version(spark, path, v)
        .agg(F.count("*").alias("n_rows"), dsum("o_totalprice").alias("total_price"))
        .select(F.lit(v).alias("version"), "n_rows", "total_price")
        for v in (1, 2, 3)
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return _materialize_and_cleanup(out.orderBy("version"), path)


@query(
    "q159_deletion_vector_merge",
    """
    WITH afterdel AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderkey % 97 <> 0),
    upd AS (
      SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice, 'R' AS o_orderstatus
      FROM orders WHERE o_orderkey % 50 = 0 AND o_orderkey % 97 <> 0),
    merged AS (
      SELECT b.o_orderkey,
             CASE WHEN u.o_orderkey IS NULL THEN b.o_totalprice ELSE u.o_totalprice END AS o_totalprice,
             CASE WHEN u.o_orderkey IS NULL THEN b.o_orderstatus ELSE u.o_orderstatus END AS o_orderstatus
      FROM afterdel b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
      WHERE NOT (b.o_orderkey % 89 = 0 AND b.o_orderkey % 50 <> 0)),
    ins AS (
      SELECT -o_orderkey AS o_orderkey, o_totalprice * 0.5 AS o_totalprice,
             'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 71 = 0 AND o_orderkey <> 0),
    final AS (SELECT * FROM merged UNION ALL SELECT * FROM ins),
    a1 AS (
      SELECT 1 AS stage, o_orderstatus, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price,
             CAST(SUM(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
      FROM afterdel GROUP BY o_orderstatus),
    a2 AS (
      SELECT 2 AS stage, o_orderstatus, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price,
             CAST(SUM(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
      FROM final GROUP BY o_orderstatus)
    SELECT * FROM a1 UNION ALL SELECT * FROM a2 ORDER BY stage, o_orderstatus
    """,
    operators=("N15", "N17", "S10", "U2"),
    doc="Deletion vectors / merge-on-read (SURVEY §2.11 N15+N17, VERDICT "
    "r9 #1): a versioned orders table takes a row-level DELETE "
    "(delete_where — a tombstone commit, ZERO data files rewritten) and "
    "then a CDC batch via merge_on_read (updates on keys%50, flagged "
    "deletes on %89, inserts on negated %71 — old images tombstoned by "
    "position, new images appended, one atomic manifest). Both "
    "snapshots are audited (status, count, exact-decimal price sum, "
    "inserted-row count), so a wrong mask, a double-tombstone, or a "
    "lost append flips the hash. The oracle replays the delete and the "
    "merge relationally. Scale: the write is O(changed rows) — the "
    "whole point vs copy-on-write at 100 TB (write amplification); the "
    "read-side anti-join touches only files WITH deletes and the "
    "tombstones broadcast; OPTIMIZE folds the debt (pinned in "
    "tests/test_versioned.py, measured in tools/stress.py).",
)
def q159_deletion_vector_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import (
        commit_version,
        delete_where,
        merge_on_read,
        read_version,
    )

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_dv_")
    commit_version(orders.filter(k % 2 == 0), path)                  # v1
    commit_version(orders.filter(k % 2 == 1), path, mode="append")   # v2
    v_del = delete_where(spark, path, "o_orderkey % 97 = 0")         # v3: DV only
    updates = orders.filter((k % 50 == 0) & (k % 97 != 0)).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit("R").alias("o_orderstatus"),
        F.lit(False).alias("deleted"),
    )
    dels = orders.filter((k % 89 == 0) & (k % 50 != 0) & (k % 97 != 0)).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(True).alias("deleted"),
    )
    ins = orders.filter((k % 71 == 0) & (k != 0)).select(
        (-k).alias("o_orderkey"),
        (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(False).alias("deleted"),
    )
    changes = updates.unionByName(dels).unionByName(ins)
    v_mor = merge_on_read(
        spark, path, changes, ["o_orderkey"],
        update_cols=["o_totalprice", "o_orderstatus"], delete_flag="deleted",
    )

    def audit(v: int, stage: int) -> DataFrame:
        return (
            read_version(spark, path, v)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                dsum("o_totalprice").alias("total_price"),
                F.sum(F.when(F.col("o_orderkey") < 0, 1).otherwise(0)).alias("n_inserted"),
            )
            .select(F.lit(stage).alias("stage"), "o_orderstatus", "n_orders",
                    "total_price", "n_inserted")
        )

    out = audit(v_del, 1).unionByName(audit(v_mor, 2)).orderBy("stage", "o_orderstatus")
    return _materialize_and_cleanup(out, path)


@query(
    "q160_metadata_aggregates",
    """
    SELECT 'metadata' AS source, COUNT(*) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM orders WHERE o_orderkey % 3 <> 2
    """,
    operators=("N17", "A6"),
    doc="Metadata-only aggregates (VERDICT r9 #5): count/min/max over a "
    "two-commit versioned table answered from the MANIFEST (per-file "
    "row counts + [min,max] stats) with ZERO data-file reads — the "
    "result row carries the source tag, so a regression to the scan "
    "fallback flips the hash, and the values must still equal the "
    "oracle's full scan. Scale: the Iceberg/Delta trade — O(files) "
    "metadata at commit time buys O(1)-job answers to the queries "
    "humans run most (`SELECT count(*)`), at any table size.",
)
def q160_metadata_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import commit_version, metadata_aggregate

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_meta_")
    commit_version(orders.filter(k % 3 == 0), path)
    commit_version(orders.filter(k % 3 == 1), path, mode="append")
    agg = metadata_aggregate(spark, path, ["o_orderkey", "o_totalprice"])
    row = [(
        agg["source"], agg["count"],
        agg["min"]["o_orderkey"], agg["max"]["o_orderkey"],
        agg["min"]["o_totalprice"], agg["max"]["o_totalprice"],
    )]
    out = spark.createDataFrame(
        row,
        "source string, n_rows long, min_key long, max_key long, "
        "min_price double, max_price double",
    )
    return _materialize_and_cleanup(out, path)


@query(
    "q161_timestamp_time_travel",
    """
    SELECT 1 AS stage, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT 2, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    ORDER BY stage
    """,
    operators=("N17",),
    doc="TIMESTAMP AS OF time travel (VERDICT r9 #3): two commits, then "
    "the table read back at a wall-clock instant BETWEEN their publish "
    "stamps (resolves to v1) and after both (resolves to v2) — the "
    "form humans actually use ('the table as of last night's run'). "
    "Resolution is monotonic by version under clock skew "
    "(resolve_as_of; skew pinned in tests/test_versioned.py). The "
    "oracle replays both snapshots relationally.",
)
def q161_timestamp_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import _read_manifest, commit_version, read_version

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_asof_")
    commit_version(orders.filter(k % 4 == 0), path)
    commit_version(orders.filter(k % 4 == 1), path, mode="append")
    ts1, ts2 = _read_manifest(path, 1)["ts"], _read_manifest(path, 2)["ts"]
    if not ts2 > ts1:
        # coarse-clock tick: both commits stamped identically, so no
        # instant lies strictly between them — (ts1+ts2)/2 would
        # resolve stage 1 to v2 and flake the oracle hash (ADVICE
        # r10).  Restamp v2 1 ms later: resolution order is unchanged
        # (monotonic by version) and a strict, float-representable
        # midpoint exists again.
        import json as _json
        import os as _os
        import tempfile as _tempfile

        from fdf_spark.sources.versioned import _manifest_path

        ts2 = ts1 + 1e-3
        mp = _manifest_path(path, 2)
        m2 = _json.load(open(mp))
        m2["ts"] = ts2
        # atomic replace, and the marker key guarantees the stored SIZE
        # changes — the decoded-manifest cache is keyed on (mtime_ns,
        # size), and a same-tick same-length rewrite would otherwise
        # keep serving the pre-restamp decode (code-review finding)
        m2["restamped"] = True
        fd, tmp = _tempfile.mkstemp(dir=_os.path.dirname(mp), suffix=".tmp")
        with _os.fdopen(fd, "w") as fh:
            _json.dump(m2, fh)
        _os.replace(tmp, mp)
    mid = (ts1 + ts2) / 2.0  # strictly between the two publishes

    def audit(as_of: float, stage: int) -> DataFrame:
        return (
            read_version(spark, path, as_of_ts=as_of)
            .agg(F.count("*").alias("n_rows"), dsum("o_totalprice").alias("total_price"))
            .select(F.lit(stage).alias("stage"), "n_rows", "total_price")
        )

    out = audit(mid, 1).unionByName(audit(ts2, 2)).orderBy("stage")
    return _materialize_and_cleanup(out, path)


@query(
    "q162_equality_delete",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0),
    final AS (
      SELECT * FROM base WHERE o_custkey % 50 <> 7
      UNION ALL
      SELECT * FROM base WHERE o_custkey % 50 = 7 AND o_orderkey % 5 = 0),
    agg AS (
      SELECT o_orderpriority, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      FROM final WHERE o_totalprice <= 150000
      GROUP BY o_orderpriority)
    SELECT 'eq' AS path, o_orderpriority, n_orders, total_price FROM agg
    UNION ALL
    SELECT 'pos' AS path, o_orderpriority, n_orders, total_price FROM agg
    ORDER BY path, o_orderpriority
    """,
    operators=("N15", "N17", "J6"),
    doc="Equality deletes (VERDICT r10 #6; Iceberg's equality-delete "
    "tier): delete-by-KEY writes the key relation itself — ZERO base "
    "scan, O(keys) bytes — and readers apply it as a broadcast "
    "anti-join scoped to the files present at delete time. Two twin "
    "tables run the SAME logical sequence — key delete (delete_keys "
    "vs delete_where on the same predicate), an append that "
    "re-introduces some deleted keys (the Iceberg sequence rule: "
    "later appends are NOT masked), then a positional delete "
    "composing on top — and both paths' audits must agree with the "
    "relational oracle AND each other (same hash rows, different "
    "path tag). Scale: the eq write never reads the table, so a CDC "
    "delete stream lands at key-arrival rate; the read-side "
    "anti-join broadcasts keys and attaches only to stat-overlapping "
    "files; OPTIMIZE folds the mask (pinned in tests).",
)
def q162_equality_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile

    from fdf_spark.sources.versioned import (
        commit_version,
        delete_keys,
        delete_where,
        read_version,
    )

    orders = (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .filter(F.col("o_orderkey") % 3 == 0)
    )
    keys = orders.filter(F.col("o_custkey") % 50 == 7).select("o_custkey").distinct()
    reapp = orders.filter(
        (F.col("o_custkey") % 50 == 7) & (F.col("o_orderkey") % 5 == 0)
    )
    root = tempfile.mkdtemp(prefix="fdf_eqdel_")
    outs = []
    for tag in ("eq", "pos"):
        p = _os.path.join(root, tag)
        commit_version(orders.repartitionByRange(4, "o_custkey"), p)
        if tag == "eq":
            delete_keys(spark, p, keys, ["o_custkey"])
        else:
            delete_where(spark, p, "o_custkey % 50 = 7")
        commit_version(reapp, p, mode="append")
        delete_where(spark, p, "o_totalprice > 150000")
        outs.append(
            read_version(spark, p)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_orders"),
                dsum("o_totalprice").alias("total_price"),
            )
            .select(F.lit(tag).alias("path"), "o_orderpriority", "n_orders", "total_price")
        )
    out = outs[0].unionByName(outs[1]).orderBy("path", "o_orderpriority")
    return _materialize_and_cleanup(out, root)


@query(
    "q163_wap_audit_publish",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 4 = 0),
    batch AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CASE WHEN o_orderkey % 7 = 0 THEN -o_totalprice ELSE o_totalprice END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 4 = 1),
    audit_bad AS (
      SELECT 'audit_bad' AS stage, o_orderpriority,
             COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      FROM batch WHERE o_totalprice <= 0 GROUP BY o_orderpriority),
    head_during AS (
      SELECT 'head_during_stage' AS stage, 'ALL' AS o_orderpriority,
             COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      FROM base),
    final AS (
      SELECT 'final' AS stage, o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      FROM (SELECT * FROM base
            UNION ALL
            SELECT * FROM batch WHERE o_totalprice > 0)
      GROUP BY o_orderpriority)
    SELECT * FROM audit_bad
    UNION ALL SELECT * FROM head_during
    UNION ALL SELECT * FROM final
    ORDER BY stage, o_orderpriority
    """,
    operators=("N17", "N18", "S10"),
    doc="WRITE-AUDIT-PUBLISH over the versioned-table substrate "
    "(Iceberg's WAP pattern; engine-native preventive form of the "
    "reference's logbook 'voided' soft-delete, factory.py:537): an "
    "ingest batch with planted violations (negated totalprice on "
    "orderkey%7) is STAGED as a full invisible snapshot "
    "(stage_commit), audited by reading exactly the bytes that would "
    "land (read_staged — the audit_bad rows), and dropped; the "
    "head_during_stage row proves readers never saw it. The "
    "violation-filtered batch stages, audits clean, publishes "
    "(publish_staged — a manifest-only fast-forward, zero data bytes "
    "moved), and a TAG pins the published snapshot for the final "
    "read (read_version(ref=...)). Scale: audit cost is one read of "
    "the staged batch's files (the parent's are already trusted); "
    "publish is O(1) metadata regardless of batch size; the tag "
    "survives vacuum, so a training run's exact input is "
    "reproducible forever.",
)
def q163_wap_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile

    from fdf_spark.sources.versioned import (
        commit_version,
        create_tag,
        drop_staged,
        publish_staged,
        read_staged,
        read_version,
        stage_commit,
    )

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 4 == 0)
    batch = orders.filter(F.col("o_orderkey") % 4 == 1).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ),
    )
    root = tempfile.mkdtemp(prefix="fdf_wap_")
    p = _os.path.join(root, "t")
    commit_version(base, p)  # v1, the trusted head
    # stage the raw batch: a full snapshot NO reader sees
    stage_commit(batch, p, "ingest-1")
    agg = lambda df, stage: df.groupBy("o_orderpriority").agg(  # noqa: E731
        F.count("*").alias("n_rows"), dsum("o_totalprice").alias("total_price")
    ).select(F.lit(stage).alias("stage"), "o_orderpriority", "n_rows", "total_price")
    # the AUDIT: validate exactly the bytes that would land — only the
    # staged batch needs checking, the parent snapshot is already
    # trusted, so filter to the batch's keyspace before the rule scan
    staged_batch = read_staged(spark, p, "ingest-1").filter(F.col("o_orderkey") % 4 == 1)
    audit_bad = agg(staged_batch.filter(F.col("o_totalprice") <= 0), "audit_bad")
    # materialize NOW: drop_staged below deletes the very files this
    # lazy plan reads (audit relations are a handful of rows)
    audit_bad = local_df(spark, audit_bad.collect(), audit_bad.schema)
    # readers at the head never saw the staged rows
    head_during = (
        read_version(spark, p)
        .agg(F.count("*").alias("n_rows"), dsum("o_totalprice").alias("total_price"))
        .select(
            F.lit("head_during_stage").alias("stage"),
            F.lit("ALL").alias("o_orderpriority"),
            "n_rows",
            "total_price",
        )
    )
    # audit failed -> drop the staged snapshot, files and all; re-stage
    # the violation-filtered batch, audit clean, fast-forward publish
    drop_staged(p, "ingest-1")
    stage_commit(batch.filter(F.col("o_totalprice") > 0), p, "ingest-1-fix")
    assert (
        read_staged(spark, p, "ingest-1-fix").filter(F.col("o_totalprice") <= 0).count() == 0
    )
    publish_staged(spark, p, "ingest-1-fix")
    create_tag(p, "published")  # the reproducibility pin
    final = agg(read_version(spark, p, ref="published"), "final")
    out = audit_bad.unionByName(head_during).unionByName(final).orderBy(
        "stage", "o_orderpriority"
    )
    return _materialize_and_cleanup(out, root)


@query(
    "q164_restore_rollback",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0),
    appended AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 5 = 1),
    v3 AS (
      SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM appended)
      WHERE o_totalprice <= 200000),
    agg AS (
      SELECT o_orderpriority, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      FROM v3 GROUP BY o_orderpriority)
    SELECT 'restored' AS stage, o_orderpriority, n_orders, total_price FROM agg
    UNION ALL
    SELECT 'timetravel_v3' AS stage, o_orderpriority, n_orders, total_price FROM agg
    ORDER BY stage, o_orderpriority
    """,
    operators=("N17",),
    doc="RESTORE / rollback-as-new-commit (Delta RESTORE analog): a "
    "table builds up base + append + a deletion-vector delete (v3), "
    "then a BAD overwrite lands (v4); restore_table(version=3) resets "
    "the head to v3's exact state — files, schema AND delete mask — "
    "as a new commit, MANIFEST-ONLY (zero data bytes move; the "
    "restored head's file list is v3's verbatim, asserted in pytest). "
    "The query proves restored-head == time-travel-to-v3 row-for-row "
    "(same hash rows under two stage tags). Scale: rolling back a "
    "100 TB table after a bad pipeline run costs one manifest write; "
    "history stays time-travelable until vacuum.",
)
def q164_restore_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile

    from fdf_spark.sources.versioned import (
        commit_version,
        delete_where,
        read_version,
        restore_table,
    )

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="fdf_restore_")
    p = _os.path.join(root, "t")
    commit_version(orders.filter(F.col("o_orderkey") % 5 == 0), p)                  # v1
    commit_version(orders.filter(F.col("o_orderkey") % 5 == 1), p, mode="append")   # v2
    delete_where(spark, p, "o_totalprice > 200000")                                 # v3
    commit_version(
        orders.filter(F.col("o_orderkey") % 5 == 2).limit(7), p, mode="overwrite"
    )                                                                               # v4: bad
    restore_table(p, version=3)                                                     # v5

    def agg(df, stage):
        return (
            df.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
            .select(F.lit(stage).alias("stage"), "o_orderpriority", "n_orders", "total_price")
        )

    out = agg(read_version(spark, p), "restored").unionByName(
        agg(read_version(spark, p, 3), "timetravel_v3")
    ).orderBy("stage", "o_orderpriority")
    return _materialize_and_cleanup(out, root)


@query(
    "q165_bucket_pruned_lookup",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           TRUE AS pruned
    FROM orders
    WHERE o_custkey IN (7, 419, 1000)
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    operators=("N17", "S10", "P6"),
    doc="Hidden BUCKET partitioning (Iceberg's bucket(N, col) "
    "transform; sources/transforms.py): the table's partition spec is "
    "bucket(8, o_custkey), so each committed file carries tight "
    "manifest stats on a HIDDEN derived column pmod(hash(key), 8) — "
    "written into the bytes, never in the logical schema — and a "
    "point/IN probe prunes through the transform via a driver-side "
    "Murmur3 port (functions/spark_hash.py, property-tested "
    "bit-for-bit against F.hash). This is the lookup shape range "
    "stats fundamentally cannot prune: a high-cardinality key nothing "
    "is sorted by routes every value to 1/N of the files regardless "
    "of distribution. The query pins the pruning itself in the hash "
    "gate: `pruned` is computed engine-side as files_read < "
    "files_total (the oracle hardcodes TRUE), so a regression that "
    "silently reads everything flips the hash, and the value columns "
    "prove the probe lost no rows. At 100 TB: a 3-key lookup opens "
    "3 buckets' files, not 100 TB of footers; delete_keys / "
    "merge_on_read scope their match scans by the same membership "
    "(tests/test_transforms.py).",
)
def q165_bucket_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import (
        _read_manifest,
        commit_version,
        list_versions,
        read_version,
        set_partition_spec,
    )

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="fdf_bucket_")
    commit_version(orders.filter(F.col("o_orderkey") % 4 == 0), path)       # v1 unclustered
    set_partition_spec(path, ["bucket(8, o_custkey)"])                      # v2
    commit_version(orders.filter(F.col("o_orderkey") % 4 != 0), path, mode="append")  # v3
    keys = [7, 419, 1000]
    probe = read_version(spark, path, prune=("o_custkey", keys))
    n_total = len(_read_manifest(path, list_versions(path)[-1])["files"])
    pruned = len(probe.inputFiles()) < n_total
    out = (
        probe.filter(F.col("o_custkey").isin(keys))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
        .withColumn("pruned", F.lit(pruned))
        .orderBy("o_custkey")
    )
    return _materialize_and_cleanup(out, path)


@query(
    "q166_metadata_history",
    """
    WITH s1 AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 3 = 0),
         s2 AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 3 = 1),
         s3 AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 3 = 2),
         d  AS (SELECT COUNT(*) AS c FROM orders
                WHERE o_orderkey % 3 IN (0, 1) AND o_totalprice > 180000)
    SELECT * FROM (
      SELECT 1 AS version, 'append' AS mode,
             (SELECT c FROM s1) AS n_rows, (SELECT c FROM s1) AS rows_added,
             CAST(0 AS BIGINT) AS delete_debt
      UNION ALL
      SELECT 2, 'append', (SELECT c FROM s1) + (SELECT c FROM s2),
             (SELECT c FROM s2), 0
      UNION ALL
      SELECT 3, 'delete', (SELECT c FROM s1) + (SELECT c FROM s2), 0,
             (SELECT c FROM d)
      UNION ALL
      SELECT 4, 'append',
             (SELECT c FROM s1) + (SELECT c FROM s2) + (SELECT c FROM s3),
             (SELECT c FROM s3), (SELECT c FROM d)
    ) ORDER BY version
    """,
    operators=("N17", "S5"),
    doc="METADATA TABLES (Iceberg history/snapshots parity; "
    "sources/metatables.py): the table's own write history as a "
    "relation — one row per commit with mode, physical row totals, "
    "per-commit added rows and outstanding DELETE DEBT (tombstoned "
    "positions still masking live files — what OPTIMIZE would fold), "
    "derived purely from the manifest chain + tombstone footers, "
    "ZERO data pages read. The oracle recomputes every number "
    "relationally from the same commit subsets, so a manifest that "
    "misattributes rows_added or loses a tombstone flips the hash. "
    "At 100 TB this is the operability surface: 'what landed last "
    "night' / 'how much MoR debt is outstanding' are metadata "
    "queries, never scans (table_files / table_refs / "
    "table_eq_deletes give the per-file and per-ref views; "
    "tests/test_versioned.py).",
)
def q166_metadata_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.metatables import table_history
    from fdf_spark.sources.versioned import commit_version, delete_where

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_hist_")
    commit_version(orders.filter(k % 3 == 0), path)                      # v1
    commit_version(orders.filter(k % 3 == 1), path, mode="append")      # v2
    delete_where(spark, path, "o_totalprice > 180000")                   # v3
    commit_version(orders.filter(k % 3 == 2), path, mode="append")      # v4
    out = table_history(spark, path).select(
        "version", "mode",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("rows_added").cast("long").alias("rows_added"),
        F.col("delete_debt").cast("long").alias("delete_debt"),
    ).orderBy("version")
    return _materialize_and_cleanup(out, path)


@query(
    "q167_update_where",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0),
    upd AS (
      SELECT o_orderkey,
             CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 10 < 5
                  THEN '5-LOW' ELSE o_orderpriority END AS o_orderpriority,
             CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 10 < 5
                  THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      FROM base)
    SELECT stage, o_orderpriority, n_orders, total_price FROM (
      SELECT 'after' AS stage, o_orderpriority, COUNT(*) AS n_orders,
             {sql_dsum('o_totalprice')} AS total_price
      FROM upd GROUP BY o_orderpriority
      UNION ALL
      SELECT 'before', o_orderpriority, COUNT(*),
             {sql_dsum('o_totalprice')}
      FROM base GROUP BY o_orderpriority
    ) ORDER BY stage, o_orderpriority
    """,
    operators=("N15", "N17"),
    doc="Row-level UPDATE (update_where — Delta's UPDATE … SET verb, "
    "merge-on-read): matched rows' old images are position-tombstoned "
    "and the updated images (SET expressions over any logical column, "
    "cast to the declared type so the schema never drifts) land as "
    "appended files — ONE atomic manifest, data files untouched, "
    "write O(matched rows). The audit aggregates the same snapshot "
    "before and after against a relational CASE-WHEN oracle, so a row "
    "double-counted (tombstone lost) or an un-updated image flips the "
    "hash; the pre-update version stays pinned for time travel. At "
    "100 TB this is the restatement verb: the match scan prunes via "
    "predicate bounds against manifest stats (incl. through bucket "
    "transforms — tests/test_update.py), the change feed emits "
    "CoW-identical delete+insert pairs, OPTIMIZE folds the debt.",
)
def q167_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import commit_version, read_version, update_where

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="fdf_upd_")
    commit_version(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), path)
    update_where(
        spark,
        path,
        "o_orderpriority = '1-URGENT' and o_orderkey % 10 < 5",
        {"o_orderpriority": F.lit("5-LOW"), "o_totalprice": "o_totalprice * 2"},
    )

    def agg(df, stage):
        return (
            df.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
            .select(F.lit(stage).alias("stage"), "o_orderpriority", "n_orders", "total_price")
        )

    out = agg(read_version(spark, path), "after").unionByName(
        agg(read_version(spark, path, 1), "before")
    ).orderBy("stage", "o_orderpriority")
    return _materialize_and_cleanup(out, path)


@query(
    "q168_check_constraint_gate",
    f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           TRUE AS rejected
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    operators=("N17", "N18"),
    doc="CHECK constraints (Delta parity): add_check_constraint gates "
    "EVERY write seam — commit/WAP staging, both CDC merge strategies, "
    "UPDATE images — with one combined agg over the new rows BEFORE "
    "anything publishes; NULL evaluates as a violation (Delta's rule) "
    "and schema-evolution appends are checked as the NULLs readers "
    "will see. The query lands a clean batch, offers a batch with "
    "negated prices (rejected — ConstraintViolationError, table "
    "untouched), and pins BOTH facts in the driver hash: the final "
    "aggregate proves the bad batch never landed, and the engine-"
    "computed `rejected` flag (oracle hardcodes TRUE) proves the gate "
    "actually fired rather than the batch being silently skipped. At "
    "100 TB this is the write-side data-quality contract: bad data "
    "never becomes a readable version, at the cost of one extra pass "
    "over each batch's new rows (tests/test_constraints.py).",
)
def q168_check_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import (
        ConstraintViolationError,
        add_check_constraint,
        commit_version,
        read_version,
    )

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_check_")
    commit_version(orders.filter(k % 3 == 0), path)
    add_check_constraint(spark, path, "price_positive", "o_totalprice > 0")
    commit_version(orders.filter(k % 3 == 1), path, mode="append")  # clean
    bad = orders.filter(k % 3 == 2).withColumn(
        "o_totalprice",
        F.when(k % 97 == 0, -F.col("o_totalprice")).otherwise(F.col("o_totalprice")),
    )
    try:
        commit_version(bad, path, mode="append")
        rejected = False
    except ConstraintViolationError:
        rejected = True
    out = (
        read_version(spark, path)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
        .withColumn("rejected", F.lit(rejected))
        .orderBy("o_orderpriority")
    )
    return _materialize_and_cleanup(out, path)


@query(
    "q169_sql_snapshot_view",
    f"""
    SELECT 0 AS stage, 'history' AS priority, CAST(2 AS BIGINT) AS n_orders,
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 0)
              + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 IN (0, 1))
                AS DOUBLE) AS total_val
    UNION ALL
    SELECT 1, o_orderpriority, COUNT(*), {sql_dsum('o_totalprice')}
    FROM orders WHERE o_orderkey % 4 = 0 GROUP BY o_orderpriority
    UNION ALL
    SELECT 2, o_orderpriority, COUNT(*), {sql_dsum('o_totalprice')}
    FROM orders WHERE o_orderkey % 4 IN (0, 1) GROUP BY o_orderpriority
    ORDER BY stage, priority
    """,
    operators=("N17", "S4"),
    doc="SQL surface over the versioned substrate (VERDICT r11 #3): "
    "register_versioned_view pins snapshots as catalog temp views so "
    "plain spark.sql answers against them — here a TIME-TRAVEL view at "
    "v1 (stage 1), the v2 head (stage 2), and the <name>_snapshots "
    "metadata view (stage 0: commit count + per-snapshot row totals, "
    "zero data reads). A THIRD commit lands AFTER registration and "
    "before the SQL runs — the views' explicit pinned file lists must "
    "not leak it, so snapshot immutability itself is inside the driver "
    "hash gate (the oracle replays only v1/v2). Reference parity: the "
    "logbook is the reference's SQL surface (factory.py:537-542); this "
    "gives the engine's own tables the same interface. Scale: a view "
    "is one manifest read — downstream BI/SQL tooling reads a 100 TB "
    "snapshot without the engine's Python API in the loop.",
)
def q169_sql_snapshot_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import commit_version, register_versioned_view

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_sqlview_")
    commit_version(orders.filter(k % 4 == 0), path)                   # v1
    commit_version(orders.filter(k % 4 == 1), path, mode="append")    # v2
    assert register_versioned_view(spark, path, "q169_v1", version=1) == 1
    assert register_versioned_view(spark, path, "q169_head") == 2
    # lands AFTER registration: the pinned views must not see it
    commit_version(orders.filter(k % 4 == 2), path, mode="append")    # v3
    out = spark.sql(
        """
        SELECT 0 AS stage, 'history' AS priority, COUNT(*) AS n_orders,
               CAST(SUM(n_rows) AS DOUBLE) AS total_val
        FROM q169_head_snapshots
        UNION ALL
        SELECT 1, o_orderpriority, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
        FROM q169_v1 GROUP BY o_orderpriority
        UNION ALL
        SELECT 2, o_orderpriority, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
        FROM q169_head GROUP BY o_orderpriority
        ORDER BY stage, priority
        """
    )
    try:
        return _materialize_and_cleanup(out, path)
    finally:
        for v in ("q169_v1", "q169_head", "q169_head_snapshots", "q169_v1_snapshots"):
            spark.catalog.dropTempView(v)


@query(
    "q170_sql_dml_lifecycle",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 6 = 0),
    t1 AS (
      SELECT * FROM base
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 6 = 1),
    t2 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice
      FROM t1),
    t3 AS (SELECT * FROM t2 WHERE o_custkey % 7 <> 3),
    src AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 5 AS o_totalprice,
             o_custkey % 11 = 0 AS is_del
      FROM orders WHERE o_orderkey % 6 IN (0, 2)),
    merged AS (
      SELECT
        CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
        CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice
      FROM t3 t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
      WHERE NOT COALESCE(s.is_del, FALSE))
    SELECT o_custkey % 5 AS bucket, COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price
    FROM merged GROUP BY bucket ORDER BY bucket
    """,
    operators=("N17", "N15", "S4"),
    doc="SQL DML router (sources/sqldml.py, r12): the four ANSI write "
    "verbs as plain SQL strings against one versioned table — INSERT "
    "INTO … SELECT (append commit), UPDATE … SET … WHERE (merge-on-read "
    "images), DELETE … WHERE (deletion vectors), and canonical MERGE "
    "INTO … USING (merge_on_read CDC with update/insert/delete clauses) "
    "— then one aggregate over the final snapshot, hash-compared to the "
    "oracle's relational replay of all four steps. Statement SHAPE is "
    "parsed with a quote/paren-aware scanner; expressions pass verbatim "
    "to Spark, and every verb lands through the SAME engine seams as "
    "the Python API (constraints, optimistic concurrency, manifest "
    "stats, change feed). Scale: SQL-speaking pipelines drive the 100 TB "
    "substrate without bespoke Python in the loop.",
)
def q170_sql_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml
    from fdf_spark.sources.versioned import commit_version, read_version

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    orders.createOrReplaceTempView("q170_orders")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_dml_")
    try:
        commit_version(orders.filter(k % 6 == 0), path)
        execute_dml(
            spark, path,
            "INSERT INTO t SELECT o_orderkey, o_custkey, o_totalprice "
            "FROM q170_orders WHERE o_orderkey % 6 = 1",
        )
        execute_dml(
            spark, path,
            "UPDATE t SET o_totalprice = o_totalprice + 1000 WHERE o_orderkey % 10 = 0",
        )
        execute_dml(spark, path, "DELETE FROM t WHERE o_custkey % 7 = 3")
        execute_dml(
            spark, path,
            """
            MERGE INTO t USING (
              SELECT o_orderkey, o_custkey, o_totalprice + 5 AS o_totalprice,
                     o_custkey % 11 = 0 AS is_del
              FROM q170_orders WHERE o_orderkey % 6 IN (0, 2)
            ) s ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND is_del THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """,
        )
        out = (
            read_version(spark, path)
            .groupBy((F.col("o_custkey") % 5).alias("bucket"))
            .agg(F.count("*").alias("n_rows"), dsum("o_totalprice").alias("total_price"))
            .orderBy("bucket")
        )
        return _materialize_and_cleanup(out, path)
    finally:
        spark.catalog.dropTempView("q170_orders")


@query(
    "q171_bloom_point_lookup",
    f"""
    SELECT o_orderkey, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price, TRUE AS pruned
    FROM orders WHERE o_orderkey IN (1, 7, 32) GROUP BY o_orderkey
    UNION ALL
    SELECT CAST(10000000 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0.0 AS DOUBLE), TRUE
    ORDER BY o_orderkey
    """,
    operators=("N17", "P6"),
    doc="Per-file BLOOM skipping (sources/bloomskip.py, r12): the "
    "compute-stats maintenance action builds <file>.bloom.json "
    "sidecars (vectorized splitmix64/md5, ~10 bits/row), and "
    "read_version(prune=(col, values)) then drops files whose bloom "
    "rejects every probed value — the point-lookup shape range stats "
    "and bucket transforms CANNOT prune (a hash-scattered key on an "
    "UNclustered layout overlaps every file's [min,max]). The "
    "engine-computed `pruned` flags (oracle hardcodes TRUE) pin that "
    "files were actually skipped for both present keys and an absent "
    "key; values must still equal the oracle's full scan — the "
    "superset/no-false-negative guarantee inside the driver hash "
    "gate. Scale: finding one doc by id in a 100 TB date-clustered "
    "corpus reads ~1 file instead of all of them, for a one-time "
    "O(rows) sidecar build that re-runs incrementally per ingest.",
)
def q171_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.bloomskip import build_blooms
    from fdf_spark.sources.versioned import (
        _read_manifest,
        commit_version,
        list_versions,
        read_version,
    )

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="fdf_bloom_")
    # round-robin files: every file's [min, max] spans the whole key
    # range, so ONLY the blooms can skip anything
    commit_version(orders.repartition(8), path)
    build_blooms(spark, path, ["o_orderkey"])
    n_total = len(_read_manifest(path, list_versions(path)[-1])["files"])
    keys = [1, 7, 32]
    probe = read_version(spark, path, prune=("o_orderkey", keys))
    pruned = len(probe.inputFiles()) < n_total
    absent = read_version(spark, path, prune=("o_orderkey", [10_000_000]))
    absent_pruned = len(absent.inputFiles() or []) < n_total
    out = (
        probe.filter(F.col("o_orderkey").isin(keys))
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
        .withColumn("pruned", F.lit(pruned))
        .unionByName(
            local_df(
                spark,
                [(10_000_000, 0, 0.0)],
                "o_orderkey long, n_orders long, total_price double",
            ).withColumn("pruned", F.lit(absent_pruned))
        )
        .orderBy("o_orderkey")
    )
    return _materialize_and_cleanup(out, path)


@query(
    "q172_shallow_clone_fork",
    f"""
    SELECT 'clone' AS side, o_orderpriority, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'src', o_orderpriority, COUNT(*), {sql_dsum('o_totalprice')}
    FROM orders WHERE o_orderkey % 5 IN (0, 1)
    GROUP BY o_orderpriority
    ORDER BY side, o_orderpriority
    """,
    operators=("N17",),
    doc="Shallow CLONE (clone_table, r12 — Delta CLONE analog): a "
    "manifest-only zero-copy fork of a snapshot, pinned at the source "
    "by an auto-created immutable tag (vacuum-safe both ways: the tag "
    "protects shared files from source-side vacuum; the ownership "
    "guard stops clone-side vacuum from ever deleting source bytes). "
    "The query forks a table, DELETEs on the clone and APPENDs to the "
    "source, then aggregates BOTH — the hash proves full write "
    "isolation over shared immutable bytes. Scale: a 100 TB dev/test "
    "fork costs one metadata write.",
)
def q172_shallow_clone_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fdf_spark.sources.versioned import (
        clone_table,
        commit_version,
        delete_where,
        read_version,
    )

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")
    root = tempfile.mkdtemp(prefix="fdf_clone_")
    src, dst = f"{root}/src", f"{root}/fork"
    try:
        commit_version(orders.filter(k % 5 == 0), src)
        clone_table(src, dst)
        delete_where(spark, dst, "o_orderkey % 10 = 0")           # clone diverges
        commit_version(orders.filter(k % 5 == 1), src, mode="append")  # src diverges

        def agg(df: DataFrame, side: str) -> DataFrame:
            return (
                df.groupBy("o_orderpriority")
                .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
                .select(F.lit(side).alias("side"), "o_orderpriority", "n_orders", "total_price")
            )

        out = (
            agg(read_version(spark, dst), "clone")
            .unionByName(agg(read_version(spark, src), "src"))
            .orderBy("side", "o_orderpriority")
        )
        rows = out.limit(100_001).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark, rows, out.schema)


@query(
    "q173_sql_merge_clauses",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 0),
    src AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 10 AS p
      FROM orders WHERE o_orderkey % 4 IN (0, 1)),
    j AS (
      SELECT t.o_orderkey AS tk, s.o_orderkey AS sk,
             t.o_custkey AS tc, s.o_custkey AS sc,
             t.o_totalprice AS tp, s.p AS sp
      FROM base t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey),
    merged AS (
      SELECT
        CASE WHEN sk IS NULL THEN tc
             WHEN tk IS NOT NULL AND sp > 50000 THEN tc + 1
             WHEN tk IS NOT NULL THEN tc
             ELSE sc END AS o_custkey,
        CASE WHEN sk IS NULL THEN tp
             WHEN tk IS NOT NULL AND sp > 50000 THEN sp
             WHEN tk IS NOT NULL THEN tp + 1
             ELSE sp END AS o_totalprice,
        CASE WHEN sk IS NULL THEN 1
             WHEN tk IS NOT NULL AND sp > tp * 2 THEN 0
             WHEN tk IS NOT NULL THEN 1
             WHEN sp < 100000 THEN 1 ELSE 0 END AS keep
      FROM j)
    SELECT o_custkey % 5 AS bucket, COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price
    FROM merged WHERE keep = 1 GROUP BY bucket ORDER BY bucket
    """,
    operators=("N15", "N17", "S4"),
    doc="General SQL MERGE (sqldml._general_merge, r13 — VERDICT r12 "
    "#3): multiple conditional WHEN clauses with explicit assignments "
    "and Delta's first-matching-clause-wins precedence — a DELETE "
    "guarded by a cross-side condition (s.p > t.price*2), an UPDATE "
    "SET col = expr clause, an unconditional UPDATE fallthrough, and "
    "a conditional INSERT (cols) VALUES (...) — compiled onto ONE "
    "merge_on_read commit (the source left-joins the file-pruned "
    "target snapshot; a chained CASE picks each row's winning clause; "
    "rows matching no clause drop out before the merge). The oracle "
    "replays the clause lattice as a FULL OUTER JOIN + CASE in "
    "DuckDB. Scale: the conditional-CDC shape real Delta users write "
    "lands through the same O(changed rows) merge-on-read seam as the "
    "canonical form, constraints/race-rebase/change-feed included.",
)
def q173_sql_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml
    from fdf_spark.sources.versioned import commit_version, read_version

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    orders.createOrReplaceTempView("q173_orders")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_gmerge_")
    try:
        commit_version(orders.filter(k % 4 == 0), path)
        execute_dml(
            spark, path,
            """
            MERGE INTO t AS t USING (
              SELECT o_orderkey, o_custkey, o_totalprice + 10 AS p
              FROM q173_orders WHERE o_orderkey % 4 IN (0, 1)
            ) AS s ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.p > t.o_totalprice * 2 THEN DELETE
            WHEN MATCHED AND s.p > 50000 THEN UPDATE
              SET o_totalprice = s.p, o_custkey = t.o_custkey + 1
            WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 1
            WHEN NOT MATCHED AND s.p < 100000 THEN INSERT
              (o_orderkey, o_custkey, o_totalprice)
              VALUES (s.o_orderkey, s.o_custkey, s.p)
            """,
        )
        out = (
            read_version(spark, path)
            .groupBy((F.col("o_custkey") % 5).alias("bucket"))
            .agg(F.count("*").alias("n_rows"), dsum("o_totalprice").alias("total_price"))
            .orderBy("bucket")
        )
        return _materialize_and_cleanup(out, path)
    finally:
        spark.catalog.dropTempView("q173_orders")


@query(
    "q175_plan_maintenance",
    """
    WITH appended AS (SELECT * FROM orders WHERE o_orderkey % 8 = 3),
    live AS (
      SELECT * FROM orders WHERE o_orderkey % 8 IN (0, 1, 2)
      UNION ALL SELECT * FROM appended)
    SELECT 'build_blooms' AS action, 'o_orderkey' AS target,
           CAST(1 AS INTEGER) AS files,
           (SELECT COUNT(*) FROM appended) AS n_rows
    UNION ALL
    SELECT 'optimize', 'bin-pack', CAST(7 AS INTEGER),
           (SELECT COUNT(*) FROM live)
    UNION ALL
    SELECT 'optimize', 'fold-deletes', CAST(NULL AS INTEGER),
           (SELECT COUNT(*) FROM live WHERE o_custkey % 5 = 0)
    UNION ALL
    SELECT 'vacuum', '', CAST(1 AS INTEGER), CAST(NULL AS BIGINT)
    ORDER BY action, target
    """,
    operators=("N17", "S5"),
    doc="Maintenance planner (metatables.plan_maintenance, r13 — "
    "VERDICT r12 #6): ONE metadata-only relation recommending every "
    "outstanding action for a table engineered to need all four — "
    "bin-pack (7 small live files), fold-deletes (20% dv debt > the "
    "10% threshold), a bloom coverage gap (the post-build append), "
    "and a vacuum reclaim estimate computed by the SAME retention "
    "rule the destructive op applies (the overwritten v1 file). The "
    "oracle derives the expected file counts and row magnitudes "
    "relationally; byte columns are excluded (compression-dependent). "
    "Scale: a 100 TB operator reads this relation per table instead "
    "of eyeballing table_files/table_blooms — zero data reads, "
    "answerable even after files are gone (sizes ride the manifest).",
)
def q175_plan_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.bloomskip import build_blooms
    from fdf_spark.sources.metatables import plan_maintenance
    from fdf_spark.sources.versioned import commit_version, delete_where

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_plan_")
    commit_version(orders.filter(k % 8 == 7).coalesce(1), path)          # v1: vacuum bait
    commit_version(
        orders.filter(k % 8 < 3).repartition(6), path, mode="overwrite"  # v2: 6 small files
    )
    build_blooms(spark, path, ["o_orderkey"])                            # cover v2
    commit_version(orders.filter(k % 8 == 3).coalesce(1), path, mode="append")  # v3: gap
    delete_where(spark, path, "o_custkey % 5 = 0")                       # v4: 20% debt
    plan = plan_maintenance(
        spark, path, small_file_bytes=32 << 20, min_small_files=4,
        max_debt_ratio=0.10, keep=1, retain_last_s=0.0,
    )
    out = plan.select(
        "action", "target",
        # fold-deletes file counts depend on how deleted keys scatter
        # across files — not relationally derivable, nulled for the gate
        F.when(F.col("target") == "fold-deletes", F.lit(None))
        .otherwise(F.col("files")).alias("files"),
        F.col("rows").alias("n_rows"),
    ).orderBy("action", "target")
    return _materialize_and_cleanup(out, path)


@query(
    "q176_sql_ddl_lifecycle",
    f"""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS total
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1)
    SELECT k % 4 AS bucket, COUNT(*) AS n_rows,
           {sql_dsum('total')} AS total_price,
           COUNT(CASE WHEN total > 200000 THEN 1 END) AS n_flagged
    FROM t GROUP BY bucket ORDER BY bucket
    """,
    operators=("N17", "S4"),
    doc="SQL DDL lifecycle (sqldml._ddl_statement, r13; ADD COLUMN r14): "
    "CREATE TABLE AS SELECT bootstraps the versioned table, ALTER "
    "TABLE RENAME COLUMN is a manifest-only column-mapping commit "
    "(the physical file column keeps its name; later INSERTs and "
    "reads resolve through the mapping), ADD COLUMN appends a field "
    "manifest-only (pre-add files read NULL; zero bytes rewritten), "
    "SET PARTITION SPEC changes the layout of future writes only, "
    "and ADD CONSTRAINT gates them — an UPDATE then fills the added "
    "column and one aggregate over the final snapshot replays "
    "relationally in the oracle. Scale: the full evolve-in-place "
    "story (no table rewrite for ANY of these) driven entirely from "
    "SQL strings.",
)
def q176_sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml
    from fdf_spark.sources.versioned import read_version

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    orders.createOrReplaceTempView("q176_orders")
    path = tempfile.mkdtemp(prefix="fdf_ddl_")
    try:
        execute_dml(
            spark, path,
            "CREATE TABLE t AS SELECT o_orderkey AS k, o_totalprice AS price "
            "FROM q176_orders WHERE o_orderkey % 3 = 0",
        )
        execute_dml(spark, path, "ALTER TABLE t RENAME COLUMN price TO total")
        execute_dml(spark, path, "ALTER TABLE t ADD COLUMN flag string")
        execute_dml(spark, path, "ALTER TABLE t SET PARTITION SPEC (bucket(8, k))")
        execute_dml(
            spark, path,
            "ALTER TABLE t ADD CONSTRAINT total_pos CHECK (total >= 0)",
        )
        execute_dml(
            spark, path,
            "INSERT INTO t (k, total) SELECT o_orderkey, o_totalprice "
            "FROM q176_orders WHERE o_orderkey % 3 = 1",
        )
        execute_dml(spark, path, "UPDATE t SET flag = 'hi' WHERE total > 200000")
        out = (
            read_version(spark, path)
            .groupBy((F.col("k") % 4).alias("bucket"))
            .agg(
                F.count("*").alias("n_rows"),
                dsum("total").alias("total_price"),
                F.count("flag").alias("n_flagged"),
            )
            .orderBy("bucket")
        )
        return _materialize_and_cleanup(out, path)
    finally:
        spark.catalog.dropTempView("q176_orders")


@query(
    "q177_bloom_date_lookup",
    f"""
    WITH t AS (
      SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0),
    probe AS (
      SELECT (SELECT MIN(d) FROM t) AS d0)
    SELECT t.d, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS total_price,
           TRUE AS pruned
    FROM t, probe WHERE t.d = probe.d0 OR t.d = probe.d0 + INTERVAL 3 DAY
    GROUP BY t.d ORDER BY t.d
    """,
    operators=("N17", "P6", "F13"),
    doc="DATE-keyed bloom point lookup (bloomskip temporal keys, r13 — "
    "VERDICT r12 #5, the q171 variant): date columns map losslessly "
    "onto epoch-day int64 on BOTH the vectorized executor build and "
    "the driver probe, so read_version(prune=('d', [date, date])) "
    "skips files whose bloom rejects both probed days — on a "
    "round-robin layout where every file's [min,max] date range "
    "spans the table and range stats prune nothing. The "
    "engine-computed `pruned` flag (oracle hardcodes TRUE) probes an "
    "ABSENT day — every file's bloom must reject it (dates are "
    "low-cardinality, so at larger SFs every file contains most "
    "PRESENT days and correctly keeps them: the present-day probes "
    "here pin the no-false-negative side, the absent probe pins real "
    "skipping). Scale: 'did day X land yet' against a 100 TB "
    "unclustered corpus without reading it.",
)
def q177_bloom_date_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt
    import tempfile

    from fdf_spark.sources.bloomskip import build_blooms
    from fdf_spark.sources.versioned import (
        _read_manifest,
        commit_version,
        list_versions,
        read_version,
    )

    orders = T(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"), "o_totalprice"
    ).filter(F.col("o_orderkey") % 2 == 0)
    path = tempfile.mkdtemp(prefix="fdf_bloomdate_")
    # round-robin files: every file's [min, max] date spans the table,
    # so ONLY the blooms can skip anything
    commit_version(orders.repartition(8), path)
    build_blooms(spark, path, ["d"])
    n_total = len(_read_manifest(path, list_versions(path)[-1])["files"])
    d0 = read_version(spark, path).agg(F.min("d")).first()[0]
    keys = [d0, d0 + dt.timedelta(days=3)]
    probe = read_version(spark, path, prune=("d", keys))
    # the ABSENT-day probe is the deterministic skipping evidence: a
    # present day may legitimately live in every file (dates are
    # low-cardinality), but no file's bloom may claim a day a decade
    # before the data starts
    absent = read_version(
        spark, path, prune=("d", [d0 - dt.timedelta(days=3650)])
    )
    pruned = len(absent.inputFiles() or []) < n_total
    out = (
        probe.filter(F.col("d").isin(keys))
        .groupBy("d")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
        .withColumn("pruned", F.lit(pruned))
        .orderBy("d")
    )
    return _materialize_and_cleanup(out, path)


@query(
    "q178_sql_time_travel",
    f"""
    WITH t AS (
      SELECT c_custkey AS k, c_acctbal AS bal
      FROM customer WHERE c_custkey % 2 = 0)
    SELECT k % 5 AS bucket, COUNT(*) AS n_gone,
           {sql_dsum('bal')} AS gone_bal
    FROM t WHERE k % 10 = 0
    GROUP BY bucket ORDER BY bucket
    """,
    operators=("N17", "S4"),
    doc="Inline SQL time travel (sqldml.execute_sql, r14 — VERDICT r13 "
    "missing #3): SELECT … FROM t VERSION AS OF 1 pins the pre-delete "
    "snapshot INSIDE the statement, and a cross-version self-join "
    "(pinned LEFT ANTI JOIN head) recovers exactly the deleted rows — "
    "the audit query every reproducibility pipeline runs ('what did "
    "last night's job see that today's doesn't').  The oracle replays "
    "the delete predicate relationally.  Scale: both sides are "
    "manifest-pinned file lists — no copy, no restore, one statement.",
)
def q178_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml, execute_sql

    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cust.createOrReplaceTempView("q178_cust")
    path = tempfile.mkdtemp(prefix="fdf_tt_")
    try:
        execute_dml(
            spark, path,
            "CREATE TABLE t AS SELECT c_custkey AS k, c_acctbal AS bal "
            "FROM q178_cust WHERE c_custkey % 2 = 0",
        )
        execute_dml(spark, path, "DELETE FROM t WHERE k % 10 = 0")
        out = execute_sql(
            spark, path,
            """
            SELECT a.k % 5 AS bucket, COUNT(*) AS n_gone,
                   CAST(SUM(CAST(a.bal AS DECIMAL(25,6))) AS DOUBLE) AS gone_bal
            FROM t VERSION AS OF 1 a LEFT ANTI JOIN t b ON a.k = b.k
            GROUP BY a.k % 5 ORDER BY bucket
            """,
        )
        return _materialize_and_cleanup(out, path)
    finally:
        spark.catalog.dropTempView("q178_cust")


@query(
    "q179_event_time_range_scan",
    f"""
    WITH t AS (
      SELECT CAST(o_orderdate AS TIMESTAMP)
               + (o_orderkey % 86400) * INTERVAL 1 SECOND AS ts,
             o_totalprice
      FROM orders)
    SELECT MONTH(ts) AS mon, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           TRUE AS pruned
    FROM t
    WHERE ts >= TIMESTAMP '1995-01-01 00:00:00'
      AND ts <  TIMESTAMP '1995-07-01 00:00:00'
    GROUP BY mon ORDER BY mon
    """,
    operators=("N17", "P6", "F13"),
    doc="Event-time RANGE scan through timestamp manifest stats (r14 — "
    "VERDICT r13 missing #4, THE most common 100 TB predicate shape): "
    "the table is range-clustered on an event timestamp, every file's "
    "manifest [min, max] is recorded as exact epoch-micros instants "
    "(the engine writes TIMESTAMP_MICROS, whose footer stats are "
    "isAdjustedToUTC), and read_version(prune=('ts', lo, hi)) with "
    "timezone-AWARE bounds skips every file outside thehalf-year window "
    "BEFORE Spark lists it.  The engine-computed `pruned` flag "
    "(oracle hardcodes TRUE) asserts files were actually skipped; "
    "row values pin that pruning lost nothing.  Scale: a six-month "
    "slice of a decade-long 100 TB event table reads ~5% of the "
    "files from metadata alone.",
)
def q179_event_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt
    import tempfile

    from fdf_spark.sources.versioned import (
        _read_manifest,
        commit_version,
        list_versions,
        read_version,
    )

    orders = T(spark, sf_dir, "orders").select(
        # timestamp built from epoch arithmetic (unix_date/timestamp_seconds)
        # so the stored INSTANT is session-timezone-independent and matches
        # the oracle's naive wall clock under the UTC test sessions
        F.timestamp_seconds(
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long") * 86400
            + F.col("o_orderkey") % 86400
        ).alias("ts"),
        "o_totalprice",
    )
    path = tempfile.mkdtemp(prefix="fdf_tsrange_")
    commit_version(orders.repartitionByRange(8, "ts"), path)
    n_total = len(_read_manifest(path, list_versions(path)[-1])["files"])
    lo = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
    hi = dt.datetime(1995, 7, 1, tzinfo=dt.timezone.utc)
    probe = read_version(spark, path, prune=("ts", lo, hi))
    pruned = len(probe.inputFiles() or []) < n_total
    out = (
        probe.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        .groupBy(F.month("ts").alias("mon"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
        .withColumn("pruned", F.lit(pruned))
        .orderBy("mon")
    )
    return _materialize_and_cleanup(out, path)


@query(
    "q117_data_quality",
    """
    WITH dirty AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 97 = 0 THEN NULL ELSE l_quantity END AS l_quantity,
             CASE WHEN l_orderkey % 89 = 0 THEN -l_extendedprice ELSE l_extendedprice END AS l_extendedprice,
             CASE WHEN l_orderkey % 83 = 0 THEN 'Z' ELSE l_returnflag END AS l_returnflag,
             CASE WHEN l_orderkey % 79 = 0 THEN 1 ELSE l_linenumber END AS ln2
      FROM lineitem),
    audit AS (
      SELECT 'price_positive' AS rule,
             CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
      FROM dirty
      UNION ALL
      SELECT 'quantity_range',
             CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT)
      FROM dirty
      UNION ALL
      SELECT 'returnflag_domain',
             CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT)
      FROM dirty
      UNION ALL
      SELECT 'unique(l_orderkey,ln2)',
             (SELECT CAST(SUM(c - 1) AS BIGINT)
              FROM (SELECT COUNT(*) AS c FROM dirty GROUP BY l_orderkey, ln2)))
    SELECT rule, n_violations FROM audit ORDER BY rule
    """,
    operators=("N18", "A6", "P7"),
    doc="Data-quality expectations audit (SURVEY §2.11 N18): row rules "
    "(positive price, quantity range, flag domain — NULL counts as a "
    "violation) evaluate as sum-case columns in ONE aggregate over one "
    "scan; key uniqueness is the one rule that legitimately shuffles "
    "(groupBy the key). Violations are PLANTED deterministically "
    "(null quantity on keys%97, negated price on %89, bad flag on "
    "%83, collided line number on %79) so a broken rule evaluator "
    "cannot pass with an all-zero audit; the oracle replays the "
    "planting and the counts.",
)
def q117_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.operators.validate import validate

    li = T(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    dirty = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(k % 97 == 0, F.lit(None)).otherwise(F.col("l_quantity")).alias("l_quantity"),
        F.when(k % 89 == 0, -F.col("l_extendedprice"))
        .otherwise(F.col("l_extendedprice"))
        .alias("l_extendedprice"),
        F.when(k % 83 == 0, F.lit("Z")).otherwise(F.col("l_returnflag")).alias("l_returnflag"),
        F.when(k % 79 == 0, F.lit(1)).otherwise(F.col("l_linenumber")).alias("ln2"),
    )
    return validate(
        dirty,
        {
            "price_positive": F.col("l_extendedprice") > 0,
            "quantity_range": F.col("l_quantity").between(1, 50),
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
        unique_keys=["l_orderkey", "ln2"],
    )


# ---------------------------------------------------------------------------
# Record linkage + incremental view maintenance (N22, N23)
# ---------------------------------------------------------------------------


@query(
    "q121_fuzzy_match",
    """
    WITH sides AS (
      SELECT p_partkey AS id, p_name AS name,
             split_part(lower(p_name), ' ', 1) AS block
      FROM part)
    SELECT a.id AS a_id, b.id AS b_id,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
           round(1.0 - levenshtein(a.name, b.name) * 1.0
                       / greatest(length(a.name), length(b.name)), 6) AS sim
    FROM sides a JOIN sides b ON a.block = b.block AND a.id < b.id
    ORDER BY dist, a_id, b_id LIMIT 20
    """,
    operators=("N22", "J5", "P6"),
    doc="Record linkage / entity resolution: block part names on their "
    "first word (cheap deterministic key), score only within-block "
    "pairs by edit distance, return the 20 closest candidate matches. "
    "Candidate generation is a self-EQUI-join on the block key — "
    "linear in corpus + output, no CartesianProduct (plan-pinned); "
    "a_id < b_id dedups the pair space inside the join condition; "
    "levenshtein is a JVM builtin (whole-stage codegen, zero Python). "
    "block_profile (operators/linkage.py) audits per-block pair cost "
    "before running the comparator at a new scale.",
)
def q121_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.operators.linkage import blocked_fuzzy_pairs, first_words_block
    from fdf_spark.sources.tables import spread

    # r14: part ships as ONE small parquet file whose single row group
    # lands in one scan task — and the ~2M-pair levenshtein stage runs
    # inside that task's broadcast-join stream, serializing the whole
    # comparator on one core (measured 34.9 s at sf0.1). spread() round-
    # robins the 20k probe rows across the session's cores (1.3 s); on
    # a real cluster a fact scan already has >= parallelism splits and
    # spread() is a no-op, so the exchange exists only where the
    # one-file fixture shape does.
    part = spread(T(spark, sf_dir, "part"))
    pairs = blocked_fuzzy_pairs(
        part, "p_partkey", "p_name", first_words_block(F.col("p_name"), 1)
    )
    return (
        pairs.select("a_id", "b_id", "dist", "sim")
        .orderBy("dist", "a_id", "b_id")
        .limit(20)
    )


_IVM_CUTOFF = "TIMESTAMP '1997-01-01'"


@query(
    "q122_incremental_view",
    f"""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_val,
           COUNT(*) AS n_rows
    FROM orders
    WHERE (o_orderdate < {_IVM_CUTOFF} AND o_orderkey % 97 <> 0)
       OR (o_orderdate >= {_IVM_CUTOFF} AND o_orderkey % 3 = 0)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    operators=("N23", "A2", "A6", "U2"),
    doc="Incremental materialized-view maintenance: a revenue-by-"
    "priority view built over pre-1997 orders is refreshed by folding "
    "in a signed CDC delta (post-1997 inserts on keys%3, deletes of "
    "base keys%97) WITHOUT rescanning the base — the delta aggregates "
    "map-side to one row per touched key, then full-outer-merges with "
    "the |groups|-row view; refresh cost is O(|delta|+|view|) at any "
    "base size. Decimal accumulators survive the merge, so the "
    "incrementally-maintained sums are bit-identical to the oracle's "
    "from-scratch recompute of the post-change state — the IVM "
    "correctness property itself is what the driver hash-checks.",
)
def q122_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.operators.ivm import agg_view, finish_view, incremental_refresh

    orders = T(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cutoff)
    view = agg_view(base, ["o_orderpriority"], "o_totalprice")
    inserts = orders.filter(
        (F.col("o_orderdate") >= cutoff) & (F.col("o_orderkey") % 3 == 0)
    ).withColumn("sign", F.lit(1))
    deletes = base.filter(F.col("o_orderkey") % 97 == 0).withColumn("sign", F.lit(-1))
    delta = inserts.unionByName(deletes)
    refreshed = incremental_refresh(view, delta, ["o_orderpriority"], "o_totalprice")
    return finish_view(refreshed, ["o_orderpriority"]).orderBy("o_orderpriority")


@query(
    "q123_snapshot_diff_refresh",
    f"""
    SELECT o_orderpriority,
           CAST(SUM(CAST(p AS DECIMAL(25,6))) AS DOUBLE) AS sum_val,
           COUNT(*) AS n_rows
    FROM (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS p
      FROM orders
      WHERE (o_orderkey % 2 = 0 AND o_orderkey % 10 <> 6)
         OR o_orderkey % 10 = 7)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    operators=("N17", "N23", "N15", "U2"),
    doc="The incremental pipeline end-to-end: commit a versioned base "
    "(v1: even keys), land a CDC batch via merge_versioned (updates on "
    "keys%10=4 at 1.1x price, deletes on %10=6, inserts on %10=7 -> "
    "v2), then consume the change stream with diff_versions (file-"
    "level pruning + exceptAll row refinement; updates surface as "
    "delete+insert pairs) and fold it into a revenue-by-priority view "
    "with incremental_refresh — never rescanning the base. The oracle "
    "recomputes the v2 state from scratch; the driver hash-check "
    "proves snapshot-diff + IVM together reproduce it exactly.",
)
def q123_snapshot_diff_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.operators.ivm import agg_view, finish_view, incremental_refresh
    from fdf_spark.sources.versioned import (
        commit_version,
        diff_versions,
        merge_versioned,
        read_version,
    )

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="fdf_diff_")
    base = orders.filter(k % 2 == 0)
    commit_version(base, path)  # v1
    updates = base.filter(k % 10 == 4).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit(False).alias("deleted"),
    )
    deletes = base.filter(k % 10 == 6).select(
        "o_orderkey", "o_orderpriority", "o_totalprice", F.lit(True).alias("deleted")
    )
    inserts = orders.filter(k % 10 == 7).select(
        "o_orderkey", "o_orderpriority", "o_totalprice", F.lit(False).alias("deleted")
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merge_versioned(spark, path, changes, ["o_orderkey"], delete_flag="deleted")  # v2
    delta = diff_versions(spark, path, 1, 2).select(
        "o_orderpriority",
        "o_totalprice",
        F.when(F.col("change") == "insert", F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
    )
    view1 = agg_view(read_version(spark, path, 1), ["o_orderpriority"], "o_totalprice")
    refreshed = incremental_refresh(view1, delta, ["o_orderpriority"], "o_totalprice")
    out = finish_view(refreshed, ["o_orderpriority"]).orderBy("o_orderpriority")
    return _materialize_and_cleanup(out, path)


@query(
    "q148_bucketed_colocated_join",
    f"""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY priority
    ORDER BY priority
    """,
    operators=("S10", "J2", "J3"),
    doc="Bucketed (storage-partitioned) fact-fact join: lineitem and "
    "orders are REWRITTEN through write_table(bucket_by=(orderkey, 8)) "
    "— hash-clustered into co-located, key-sorted bucket files — and "
    "the join then compiles as a SortMergeJoin with ZERO Exchange on "
    "either side (pinned in tests/test_bucketing.py): the scan itself "
    "satisfies the join's distribution requirement, and the residual "
    "per-side Sort is a local pass over one key-sorted file per "
    "bucket, never the network. This "
    "is the layout contract SURVEY §4 promises ('bucketed by channel "
    "for high-channel diagnostics'): at 100 TB every REPEATED join on "
    "the bucket key — the reference's per-(tree, shot) access pattern, "
    "factory.py:149-167 — stops paying its shuffle forever after one "
    "write. The oracle is the plain join+agg on the original parquet: "
    "the bucketed layout must be a pure physical change, so a row "
    "lost/duplicated by the bucketed writer or a bucket-misrouted key "
    "flips the hash.",
)
def q148_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.operators.bucketed import bucketed_fact_join, write_bucketed_pair

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority"
    )
    with write_bucketed_pair(spark, (li, "l_orderkey"), (o, "o_orderkey"), n_buckets=8) as (bl, bo):
        joined = bucketed_fact_join(bl, bo, "l_orderkey", "o_orderkey")
        out = (
            joined.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count("*").alias("n_items"),
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            )
            .orderBy("priority")
        )
        rows = out.collect()
    return local_df(spark, rows, out.schema)


@query(
    "q180_copy_into_idempotent",
    f"""
    WITH t AS (
      SELECT c_custkey AS k, c_acctbal AS bal
      FROM customer WHERE c_custkey % 4 = 1)
    SELECT k % 3 AS bucket, COUNT(*) AS n_rows, {sql_dsum('bal')} AS total_bal,
           1 AS n_loads
    FROM t GROUP BY bucket ORDER BY bucket
    """,
    operators=("N15", "S4", "N7"),
    doc="COPY INTO with idempotent replay (r14): the same landing "
    "directory is COPY'd twice under one IDEMPOTENT id — the replay "
    "is a NO-OP (meta.ingest_id + expected_parent serializability "
    "loop), so the table holds exactly one load; the oracle replays "
    "the single load relationally and the engine-computed n_loads "
    "(commits that landed data) pins the no-op.  Scale: at-least-once "
    "ingest pipelines (Airflow retries, stream replays) land exactly "
    "once without any external ledger.",
)
def q180_copy_into_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml
    from fdf_spark.sources.versioned import list_versions, read_version

    landing = tempfile.mkdtemp(prefix="fdf_landing_")
    path = tempfile.mkdtemp(prefix="fdf_copyinto_")
    T(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 1).select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    ).write.mode("overwrite").parquet(landing)
    try:
        v1 = execute_dml(
            spark, path, f"COPY INTO t FROM '{landing}' IDEMPOTENT 'q180-batch'"
        )
        v2 = execute_dml(
            spark, path, f"COPY INTO t FROM '{landing}' IDEMPOTENT 'q180-batch'"
        )
        n_loads = len(list_versions(path))  # replay landed NO new version
        assert v1 == v2 == n_loads == 1
        out = (
            read_version(spark, path)
            .groupBy((F.col("k") % 3).alias("bucket"))
            .agg(F.count("*").alias("n_rows"), dsum("bal").alias("total_bal"))
            .withColumn("n_loads", F.lit(n_loads))
            .orderBy("bucket")
        )
        return _materialize_and_cleanup(out, path)
    finally:
        import shutil

        shutil.rmtree(landing, ignore_errors=True)


@query(
    "q181_event_time_watermark",
    """
    WITH t AS (
      SELECT CAST(o_orderdate AS TIMESTAMP)
               + (o_orderkey % 86400) * INTERVAL 1 SECOND AS ts
      FROM orders)
    SELECT MIN(ts) AS lo_ts, MAX(ts) AS hi_ts,
           COUNT(*) AS n_rows, 'metadata' AS source
    FROM t
    """,
    operators=("N17", "A9", "F13"),
    doc="Event-time WATERMARK from metadata (r14): min/max of a "
    "timestamp column answered from the manifest's exact epoch-micros "
    "stats through pyspark's own fromInternal — bit-identical to a "
    "scan's collect, zero data pages read; the engine-computed "
    "`source` tag (oracle hardcodes 'metadata') pins that the scan "
    "fallback did NOT fire.  Scale: 'how fresh is this 100 TB event "
    "table' becomes a manifest read.",
)
def q181_event_time_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.versioned import commit_version, metadata_aggregate

    orders = T(spark, sf_dir, "orders").select(
        F.timestamp_seconds(
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long") * 86400
            + F.col("o_orderkey") % 86400
        ).alias("ts"),
    )
    path = tempfile.mkdtemp(prefix="fdf_wm_")
    commit_version(orders.repartition(6), path)
    agg = metadata_aggregate(spark, path, ["ts"])
    out = spark.createDataFrame(
        [(agg["min"]["ts"], agg["max"]["ts"], agg["count"], agg["source"])],
        "lo_ts timestamp, hi_ts timestamp, n_rows bigint, source string",
    )
    return _materialize_and_cleanup(out, path)


@query(
    "q182_change_data_feed",
    f"""
    WITH base AS (
      SELECT c_custkey AS k, c_acctbal AS bal
      FROM customer WHERE c_custkey % 2 = 0),
    upd AS (SELECT k, bal FROM base WHERE k % 10 = 0),
    del AS (
      SELECT k, CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal
      FROM base WHERE k % 14 = 0),
    ins AS (
      SELECT c_custkey AS k, c_acctbal AS bal
      FROM customer WHERE c_custkey % 2 = 1 AND c_custkey % 9 = 0)
    SELECT cv, ct, n, bal_sum FROM (
      SELECT CAST(2 AS BIGINT) AS cv, 'update_preimage' AS ct,
             COUNT(*) AS n, {sql_dsum('bal')} AS bal_sum FROM upd
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'update_postimage',
             COUNT(*), {sql_dsum('bal + 100')} FROM upd
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'delete', COUNT(*), {sql_dsum('bal')} FROM del
      UNION ALL
      SELECT CAST(4 AS BIGINT), 'insert', COUNT(*), {sql_dsum('bal')} FROM ins)
    ORDER BY cv, ct
    """,
    operators=("N17", "N15", "S4"),
    doc="PER-COMMIT change data feed (table_changes, Delta CDF parity, "
    "r14): a table takes an UPDATE, a DELETE and an INSERT commit (all "
    "through the SQL DML router), and table_changes(path, 2, keys=['k']) "
    "replays them as a keyed feed — delete+insert pairs on the same key "
    "within one commit reclassified as update_preimage/update_postimage, "
    "each row stamped with _commit_version.  The oracle replays all "
    "three commits relationally (the delete CTE applies the preceding "
    "update's effect before aggregating).  Scale: each commit "
    "contributes a diff_versions step — O(that commit's changed files), "
    "never O(table) — so a downstream consumer catching up on N commits "
    "of a 100 TB table reads only the bytes those commits touched.",
)
def q182_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml
    from fdf_spark.sources.versioned import table_changes

    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cust.createOrReplaceTempView("q182_cust")
    path = tempfile.mkdtemp(prefix="fdf_cdf182_")
    try:
        execute_dml(
            spark, path,
            "CREATE TABLE t AS SELECT c_custkey AS k, c_acctbal AS bal "
            "FROM q182_cust WHERE c_custkey % 2 = 0",
        )
        execute_dml(spark, path, "UPDATE t SET bal = bal + 100 WHERE k % 10 = 0")
        execute_dml(spark, path, "DELETE FROM t WHERE k % 14 = 0")
        execute_dml(
            spark, path,
            "INSERT INTO t SELECT c_custkey AS k, c_acctbal AS bal "
            "FROM q182_cust WHERE c_custkey % 2 = 1 AND c_custkey % 9 = 0",
        )
        feed = table_changes(spark, path, 2, keys=["k"])
        out = (
            feed.groupBy(
                F.col("_commit_version").alias("cv"),
                F.col("_change_type").alias("ct"),
            )
            .agg(F.count("*").alias("n"), dsum("bal").alias("bal_sum"))
            .orderBy("cv", "ct")
        )
        return _materialize_and_cleanup(out, path)
    finally:
        spark.catalog.dropTempView("q182_cust")


@query(
    "q183_analyze_table_stats",
    """
    WITH t AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderpriority END AS prio
      FROM orders)
    SELECT col, ndv, nulls, avg_len, max_len, n_rows FROM (
      SELECT 'prio' AS col, COUNT(DISTINCT prio) AS ndv,
             COUNT(*) - COUNT(prio) AS nulls,
             AVG(LENGTH(prio)) AS avg_len,
             CAST(MAX(LENGTH(prio)) AS BIGINT) AS max_len,
             COUNT(*) AS n_rows
      FROM t
      UNION ALL
      SELECT 'k', COUNT(DISTINCT k), COUNT(*) - COUNT(k),
             CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), COUNT(*) FROM t
      UNION ALL
      SELECT 'st', COUNT(DISTINCT st), COUNT(*) - COUNT(st),
             AVG(LENGTH(st)), CAST(MAX(LENGTH(st)) AS BIGINT), COUNT(*) FROM t)
    ORDER BY col
    """,
    operators=("N17", "A9", "S4"),
    doc="ANALYZE TABLE … COMPUTE STATISTICS (r14): table-level column "
    "statistics — NDV, null count, string lengths — computed in ONE "
    "aggregate pass, recorded as a metadata-only commit every later "
    "commit inherits, and read back as the DESCRIBE STATS relation "
    "through the SQL router.  EXACT mode here so the oracle can replay "
    "it as COUNT(DISTINCT …); the 100 TB default is mode='approx' "
    "(HyperLogLog++, one pass, bounded mergeable state — pytest-pinned "
    "within rsd bounds).  The stats drive plan_maintenance's "
    "NDV-nominated bloom candidates and staleness recommendations.",
)
def q183_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml, execute_sql
    from fdf_spark.sources.versioned import commit_version

    t = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.when(F.col("o_orderkey") % 10 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
    )
    path = tempfile.mkdtemp(prefix="fdf_analyze_")
    commit_version(t, path)
    execute_dml(spark, path, "ANALYZE TABLE t COMPUTE STATISTICS EXACT")
    out = (
        execute_sql(spark, path, "DESCRIBE STATS t")
        .select("col", "ndv", "nulls", "avg_len", "max_len",
                F.col("rows").alias("n_rows"))
        .orderBy("col")
    )
    return _materialize_and_cleanup(out, path)


@query(
    "q184_table_properties_audit",
    """
    SELECT key, value FROM (
      SELECT 'owner' AS key, 'data-eng' AS value
      UNION ALL SELECT 'fdf.appendOnly', 'true'
      UNION ALL SELECT '__delete_blocked', 'true'
      UNION ALL SELECT '__n_rows_intact', CAST(
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS VARCHAR))
    ORDER BY key
    """,
    operators=("N17", "S4", "N18"),
    doc="Table properties + append-only enforcement (r14, Delta's "
    "delta.appendOnly): SET TBLPROPERTIES lands as a metadata-only "
    "commit every later commit inherits; with fdf.appendOnly='true' "
    "the publish seam — the ONE chokepoint every write passes through "
    "— rejects any commit that removes live files or touches delete "
    "state.  The query sets the flag, PROVES a DELETE bounces "
    "(engine-caught ValueError -> '__delete_blocked'; oracle hardcodes "
    "true) and that the row count is intact, then reads the properties "
    "back via SHOW TBLPROPERTIES.  Scale: write-discipline enforcement "
    "is O(1) metadata at commit time — on a 1000-writer cluster no "
    "coordinator is needed; the optimistic-commit seam carries it.",
)
def q184_table_properties_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml, execute_sql
    from fdf_spark.sources.versioned import read_version

    t = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    ).filter(F.col("o_orderkey") % 2 == 0)
    t.createOrReplaceTempView("q184_orders")
    path = tempfile.mkdtemp(prefix="fdf_props_")
    try:
        execute_dml(
            spark, path, "CREATE TABLE t AS SELECT * FROM q184_orders"
        )
        execute_dml(
            spark, path,
            "ALTER TABLE t SET TBLPROPERTIES "
            "('owner' = 'data-eng', 'fdf.appendOnly' = 'true')",
        )
        try:
            execute_dml(spark, path, "DELETE FROM t WHERE k < 1000")
            blocked = "false"
        except ValueError:
            blocked = "true"
        n_intact = read_version(spark, path).count()
        props = execute_sql(spark, path, "SHOW TBLPROPERTIES t")
        out = (
            props.unionByName(
                local_df(
                    spark,
                    [("__delete_blocked", blocked),
                     ("__n_rows_intact", str(n_intact))],
                    "key string, value string",
                )
            ).orderBy("key")
        )
        return _materialize_and_cleanup(out, path)
    finally:
        spark.catalog.dropTempView("q184_orders")


@query(
    "q185_feed_consumer_offsets",
    f"""
    WITH base AS (
      SELECT c_custkey AS k, c_acctbal AS bal
      FROM customer WHERE c_custkey % 2 = 0)
    SELECT phase, ct, n, bal_sum FROM (
      SELECT 1 AS phase, 'insert' AS ct, COUNT(*) AS n,
             {sql_dsum('bal')} AS bal_sum FROM base
      UNION ALL
      SELECT 2, 'delete', COUNT(*), {sql_dsum('bal')}
      FROM base WHERE k % 6 = 0
      UNION ALL
      SELECT 2, 'insert', COUNT(*), {sql_dsum('c_acctbal')}
      FROM customer WHERE c_custkey % 2 = 1 AND c_custkey % 15 = 0)
    ORDER BY phase, ct
    """,
    operators=("N17", "N23", "S4"),
    doc="Change-feed CONSUMER OFFSETS (poll/ack, r14): a downstream "
    "ETL consumes the table incrementally — poll 1 delivers the whole "
    "history (the v1 inserts), the ack persists the offset under "
    "_consumers/, and after a DELETE and an INSERT land, poll 2 "
    "delivers ONLY those two commits' row-level changes.  Kafka's "
    "poll/commit discipline on a versioned table: at-least-once "
    "(unacked polls re-deliver, pytest-pinned), per-consumer O(1) "
    "metadata offsets, no coordinator.  The oracle replays both "
    "phases relationally.  Scale: catching up on N commits reads "
    "exactly the files those commits touched — never O(table).",
)
def q185_feed_consumer_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml
    from fdf_spark.sources.versioned import ack_changes, poll_changes

    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cust.createOrReplaceTempView("q185_cust")
    path = tempfile.mkdtemp(prefix="fdf_poll_")
    try:
        execute_dml(
            spark, path,
            "CREATE TABLE t AS SELECT c_custkey AS k, c_acctbal AS bal "
            "FROM q185_cust WHERE c_custkey % 2 = 0",
        )

        def _agg(feed, phase):
            return (
                feed.groupBy(
                    F.lit(phase).alias("phase"),
                    F.col("_change_type").alias("ct"),
                )
                .agg(F.count("*").alias("n"), dsum("bal").alias("bal_sum"))
            )

        feed1, thru1 = poll_changes(spark, path, "etl")
        phase1 = _agg(feed1, 1)
        ack_changes(path, "etl", thru1)
        execute_dml(spark, path, "DELETE FROM t WHERE k % 6 = 0")
        execute_dml(
            spark, path,
            "INSERT INTO t SELECT c_custkey AS k, c_acctbal AS bal "
            "FROM q185_cust WHERE c_custkey % 2 = 1 AND c_custkey % 15 = 0",
        )
        feed2, _ = poll_changes(spark, path, "etl")
        out = phase1.unionByName(_agg(feed2, 2)).orderBy("phase", "ct")
        return _materialize_and_cleanup(out, path)
    finally:
        spark.catalog.dropTempView("q185_cust")


@query(
    "q186_scoped_optimize",
    f"""
    WITH t AS (
      SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d, o_totalprice
      FROM orders),
    live AS (SELECT * FROM t WHERE NOT (d < DATE '1993-01-01' AND k % 5 = 0))
    SELECT YEAR(d) AS yr, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           TRUE AS scoped
    FROM live GROUP BY yr ORDER BY yr
    """,
    operators=("N17", "A8", "F13"),
    doc="SCOPED OPTIMIZE (r14, Databricks' `OPTIMIZE t WHERE …`): the "
    "table is range-clustered on order date; a delete lands tombstones "
    "in the oldest year, and `OPTIMIZE t WHERE d < '1993-01-01' ZORDER "
    "BY (d, k)` folds that debt by rewriting ONLY the files whose "
    "manifest stats overlap the predicate — the engine-computed "
    "`scoped` flag (oracle hardcodes TRUE) asserts most files were "
    "carried over untouched, and the per-year aggregate pins that the "
    "partial rewrite lost nothing.  Scale: a 100 TB table re-clusters "
    "its hot range in O(that range) — the full-table rewrite OPTIMIZE "
    "would otherwise cost is the difference between a nightly job and "
    "an impossible one.",
)
def q186_scoped_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.sources.sqldml import execute_dml
    from fdf_spark.sources.versioned import (
        _read_manifest,
        commit_version,
        list_versions,
        read_version,
    )

    t = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("d"),
        "o_totalprice",
    )
    path = tempfile.mkdtemp(prefix="fdf_soptq_")
    commit_version(t.repartitionByRange(8, "d"), path)
    execute_dml(
        spark, path, "DELETE FROM t WHERE d < '1993-01-01' AND k % 5 = 0"
    )
    before = set(_read_manifest(path, list_versions(path)[-1])["files"])
    v = execute_dml(
        spark, path, "OPTIMIZE t WHERE d < DATE '1993-01-01' ZORDER BY (d, k)"
    )
    after = _read_manifest(path, v)
    kept = len(before & set(after["files"]))
    scoped = kept >= len(before) // 2 and not any(
        after.get("delete_files", {}).values()
    )
    out = (
        read_version(spark, path)
        .groupBy(F.year("d").alias("yr"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
        .withColumn("scoped", F.lit(scoped))
        .orderBy("yr")
    )
    return _materialize_and_cleanup(out, path)
