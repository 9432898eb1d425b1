"""SparkSession bootstrap.

The reference eagerly opens network connections at ``Machine`` init
(factory.py:83-105: MDSplus pool + SQL Server logbook). Our analog is a
single tuned SparkSession; "connections" are executor slots Spark
manages itself (SURVEY §2.1 S3 — the 2-connection MRU pool maps to
nothing we must hand-roll).

Scale posture (100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion decisions move with data size, so the same
  code runs at sf0.001 and at 100 TB.
- shuffle.partitions is a *local* default (~cores); on a real cluster it
  is expected to be overridden (or left to AQE's coalescing with a high
  initial value).
- Arrow enabled: every pandas-interop path (grouped-map FFT, multimodal
  UDFs, toPandas for plot sinks) is batch-columnar, never per-row.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: State-store configuration for UNBOUNDED-state streaming workloads
#: (the ``running_dedup`` class of operators, whose first-seen state
#: grows with corpus key cardinality). The default
#: HDFSBackedStateStoreProvider keeps every store's working set
#: ON-HEAP — at 100 TB-corpus hash cardinality that is an executor-OOM
#: ceiling, not a tuning knob. RocksDB spills state to local SSD with
#: an off-heap block cache, and changelog checkpointing commits only
#: per-batch deltas (snapshot upload moves to background maintenance).
#: Bounded-state operators (``watermark_dedup``, windowed aggs — state
#: expires with the watermark) run fine on either provider; pass
#: ``extra_conf=ROCKSDB_STATE_CONF`` to :func:`get_spark` for the
#: unbounded tier.
#: No conf here changes query SEMANTICS — only where state lives.
ROCKSDB_STATE_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def get_spark(
    app_name: str = "fdf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    Defaults suit single-node local[N]; on a cluster, pass ``master=None``
    with a pre-configured spark-submit and only the SQL confs apply.
    """
    cpus = int(DEFAULT_LOCAL_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (Spark's legacy default) records no footer statistics
        # and round-trips through pyarrow as naive datetimes; int64
        # micros is what every modern table format writes
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type,
        # so read as long and convert in the source adapter (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    env_master = os.environ.get("SPARK_MASTER", "")
    local = master.startswith("local") if master else (not env_master or env_master.startswith("local"))
    if local:
        # Parallelism FLOOR for scans: the local fixtures are single
        # parquet files far below maxPartitionBytes, so without this a
        # 600k-row scan runs as 1-3 tasks on 32 cores. On a cluster the
        # conf is left default — there, split count comes from file
        # count/size and a floor this low is a no-op.
        builder = builder.config("spark.sql.files.minPartitionNum", str(cpus))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
