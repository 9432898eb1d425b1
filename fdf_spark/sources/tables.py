"""Parquet table loaders for the driver fixture schema (TESTDATA.md).

Maps to SURVEY §2.1: S1 (signal scan) and S4 (logbook SQL scan) both
become ``spark.read.parquet`` — Catalyst gives predicate pushdown and
column pruning for free, which is the Spark analog of the reference's
server-side TDI / SQL-WHERE pushdown (factory.py:177,187-191,537-542).

At 100 TB these tables would be directory-partitioned (fact tables by a
coarse key such as shot/date) so partition pruning kicks in before file
listing; the loader API is path-based so that layout change is
transparent to every operator above it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: all driver-provided tables (TESTDATA.md + FIXTURES.md Group B)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at ANY scale factor —
#: region/nation are bounded by geography (25 nations) the way the
#: reference's machine list is bounded (fdf_globals.py machine aliases).
BROADCAST_DIMS = ("region", "nation")


def set_events_session_confs(spark: SparkSession) -> None:
    """Runtime confs the events adapter depends on, settable on ANY
    caller-owned session (the driver builds its own SparkSession
    without our defaults):

    - ``nanosAsLong`` so a TIMESTAMP(NANOS) encoding surfaces as int64
      instead of erroring;
    - session timezone UTC — NOT for decoding correctness (the
      normalize below is session-independent via ``convert_timezone``)
      but for RENDERING parity: wall-clock SQL functions
      (date_trunc/window/...) and ``toPandas`` render instants in the
      session tz, and the engine's events contract (matching a DuckDB
      naive-as-UTC oracle bit-for-bit) is defined in UTC. Documented
      side effect on the caller's session; settable back by the caller
      after events work if they prefer local rendering of other data.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # no fallback arg: conf.get(key, default) VALIDATES the default
    # (Spark 4), so an invalid placeholder like "" raises on any
    # session where the key is unset — exactly the driver's plain
    # session. get(key) returns the effective value instead.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond TIMESTAMP whatever the
    fixture's physical parquet encoding — the SINGLE place both the
    batch loader and the streaming source (streaming/events.py) decode
    time, so a fixture re-encode can never desynchronize them.

    - int64 nanos (TIMESTAMP(NANOS) under ``nanosAsLong``): floor-divide
      to micros — exactly DuckDB's NS→US coercion.
    - timestamp_ntz (TIMESTAMP(MICROS/MILLIS), isAdjustedToUTC=false):
      ``convert_timezone('UTC', current_timezone(), ts)`` then cast —
      the naive wall time is interpreted as UTC *whatever the session
      timezone is at execution time* (a bare ntz→timestamp cast
      interprets the wall in the session tz, so a caller flipping the
      tz conf between plan build and action would silently shift every
      instant; this expression cannot).
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer `div`, NOT `/`: double division loses precision on
        # int64 nanos (~1.7e18 > 2^53) and shifts timestamps by ±1 µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn(
            "ts",
            F.expr("cast(convert_timezone('UTC', current_timezone(), ts) as timestamp)"),
        )
    return df


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-local DataFrame via the Arrow path (r14).

    ``createDataFrame(list_of_rows)`` builds a PICKLE-serialized Python
    RDD: every downstream execution runs its partitions through Python
    workers (~0.15 s handshake each), and a ``coalesce(1)`` on top
    computes all of them SEQUENTIALLY in one task — measured ~5 s per
    execution for a 16-row frame, repeatedly, in the sidecar/audit
    paths. Routing the same rows through pandas + Arrow yields a
    JVM-local relation: bitwise-identical doubles (pinned in
    test_llm), no Python at execution, ~0.1 s.

    Falls back to the classic path when the exactness envelope is not
    guaranteed symmetric: NESTED temporal columns (arrays/structs of
    datetimes — the classic path's per-element localization rules are
    not replicated there) and float NaN payloads (an object-dtype NaN
    can arrive as null through Arrow). Empty inputs stay classic too —
    plan-only, already cheap.

    TOP-LEVEL temporal columns go through Arrow since r15 (VERDICT r14
    #10): each value is normalized to the exact internal micros the
    CLASSIC ingest would store — naive datetimes through
    ``time.mktime`` (OS-local, the classic ``TimestampType.toInternal``
    rule, independent of the session timezone), aware ones through
    ``utctimetuple`` — and handed to Arrow as a tz-aware UTC timestamp,
    which Spark stores verbatim regardless of session tz.  Bitwise
    equality incl. a non-UTC session tz is pinned in
    tests/test_transforms.py.
    """
    from pyspark.sql.types import DataType, DateType, StructType, TimestampType, TimestampNTZType

    if isinstance(schema, StructType):
        st = schema
    else:
        try:
            st = DataType.fromDDL(schema)
        except Exception:
            return spark.createDataFrame(rows, schema)
    rows = list(rows)
    if not rows or not isinstance(st, StructType):
        return spark.createDataFrame(rows, st)

    def temporal(dt) -> bool:
        if isinstance(dt, (DateType, TimestampType, TimestampNTZType)):
            return True
        for child in getattr(dt, "fields", []) or []:
            if temporal(child.dataType):
                return True
        et = getattr(dt, "elementType", None)
        if et is not None and temporal(et):
            return True
        kt, vt = getattr(dt, "keyType", None), getattr(dt, "valueType", None)
        return (kt is not None and temporal(kt)) or (vt is not None and temporal(vt))

    def nested_temporal(dt) -> bool:
        # temporal anywhere BELOW the top level (the classic fallback's
        # remaining scope)
        return temporal(dt) and not isinstance(
            dt, (DateType, TimestampType, TimestampNTZType)
        )

    def has_nan(v) -> bool:
        if isinstance(v, float):
            return v != v
        if isinstance(v, (list, tuple)):
            return any(has_nan(x) for x in v)
        if isinstance(v, dict):
            return any(has_nan(x) for x in v.values())
        return False

    if any(nested_temporal(f.dataType) for f in st.fields) or any(
        has_nan(v) for row in rows for v in row
    ):
        return spark.createDataFrame(rows, st)
    try:
        import pandas as pd

        def col_series(i: int, f):
            vals = [row[i] for row in rows]
            if isinstance(f.dataType, TimestampType):
                import calendar
                import time as _time

                def to_utc(v):
                    if v is None:
                        return None
                    # the classic TimestampType.toInternal rule, replayed
                    sec = (
                        calendar.timegm(v.utctimetuple())
                        if v.tzinfo is not None
                        else _time.mktime(v.timetuple())
                    )
                    return pd.Timestamp(
                        int(sec) * 10**6 + v.microsecond, unit="us", tz="UTC"
                    )

                return pd.Series([to_utc(v) for v in vals], dtype="datetime64[us, UTC]")
            if isinstance(f.dataType, TimestampNTZType):
                # wall-clock semantics: stored as-is on both paths
                return pd.Series(
                    [None if v is None else pd.Timestamp(v) for v in vals],
                    dtype="datetime64[us]",
                )
            # DateType carries no tz: date objects round-trip exactly
            return pd.Series(vals, dtype=object)

        pdf = pd.DataFrame(
            {f.name: col_series(i, f) for i, f in enumerate(st.fields)}
        )
        return spark.createDataFrame(pdf, st)
    except Exception:
        return spark.createDataFrame(rows, st)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Lazy: no job runs until an action.

    Schema normalization happens here (the "source adapter" layer):
    ``events.ts`` arrives as whatever encoding the fixture generator
    chose (int64 nanos or timestamp_ntz); :func:`normalize_events_ts`
    maps either to microsecond TIMESTAMP so both engines agree.
    """
    if name == "events":
        set_events_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


#: analyzed-plan nodes that keep a plan "scan-shaped": projections and
#: filters over a single file relation. Anything else (Join, Aggregate,
#: Window, Union, ...) already owns its output partitioning.
_SCAN_NODES = frozenset({"Project", "Filter", "SubqueryAlias", "LogicalRelation", "Relation"})


def _is_scan_like(df: DataFrame) -> bool:
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() not in _SCAN_NODES:
            return False
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return True


def spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow RAW SCAN up to the session's parallelism.

    Small fixture tables arrive as ONE parquet file → one input split →
    CPU-heavy per-row stages (hashing, shingling, vector math) run on a
    single core no matter how many are available. A round-robin
    repartition of the (small) raw rows unlocks the map side. On a real
    cluster wide inputs already have >= defaultParallelism splits, so
    this is a no-op there.

    Guarded to scan-shaped plans only (projections/filters over one
    file relation): derived inputs — joins, aggregates — pass through
    untouched, both because their post-shuffle partitioning is already
    meaningful and because probing ``df.rdd`` on an arbitrary plan
    forces an extra non-AQE physical-planning pass per call. On a leaf
    scan the probe is a cheap file-split count (and, unlike a raw
    ``inputFiles()`` length, counts a big file once per SPLIT — so a
    single large file that already parallelizes is left alone).
    """
    if not _is_scan_like(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(prefix + name)
    return dfs
