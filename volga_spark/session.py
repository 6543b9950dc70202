"""SparkSession factory.

Local test/bench runs use local[$SPARK_GRAFT_CPUS]; on a real cluster the
same builder config applies (AQE on, Arrow on, UTC). Shuffle partitions
default to the core count locally — on a 1000-executor cluster this should
be raised to ~2-3x total cores (AQE coalesces the excess at runtime, so
over-provisioning is the safe direction at 100 TB).

Python workers run the volga daemon (``volga_spark.pydaemon``) instead of
``pyspark.daemon``: before Python 3.13 every Python task otherwise opens by
re-reading the central directories of ``pyspark.zip``, the spark-core jar
and py4j (about 0.2 s per task, most of a one-task ``mapInPandas`` job and
of a small request batch). ``spark.executorEnv.PYTHONPATH`` carries the
directory holding ``volga_spark`` so workers find the daemon from any
working directory; ``extra_conf`` can override both settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the directory that holds the volga_spark package, for the workers' daemon
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "volga_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    AQE is enabled for runtime re-planning (partition coalescing, skew-join
    splitting, dynamic broadcast) — essential at 100 TB where static plans
    mis-size shuffles. Arrow is enabled for the Pandas-UDF slow path.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    # Streaming state store provider. Local default: the HDFS-backed map
    # provider with checkpoints on tmpfs — measured FASTER than RocksDB on
    # local[32] at sf0.1 (tiled window: 10.4s vs 14.4s; RocksDB pays
    # per-batch instance open/commit that tmpfs-backed snapshots don't).
    # CLUSTER default: flip SPARK_GRAFT_STATE_STORE=rocksdb — with millions
    # of keys per partition the map provider holds the whole state in
    # executor heap and snapshots it wholesale per commit, while RocksDB
    # spills to local disk and ships changelogs (see SCALING.md).
    state_store = os.environ.get("SPARK_GRAFT_STATE_STORE", "hdfs").lower()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata timestamps are parquet timestamp[us] without isAdjustedToUTC;
        # read them as plain TIMESTAMP (UTC session) rather than TIMESTAMP_NTZ so
        # epoch arithmetic (unix_micros) stays valid engine-wide
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as INT64 micros, not legacy INT96: INT96 columns
        # carry no parquet min/max footer stats, which silently disables
        # zone-map file skipping on every timestamp-clustered table
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # the streaming memory-sink harness (run_available_now_to_memory)
        # collects whole result sets to the driver; at the 100x scale probe
        # that sits right at the 1g default (measured 1116 MiB). Harness
        # headroom only — production sinks (parquet/upsert/foreachBatch)
        # never collect.
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "volga_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if state_store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            # changelog checkpointing: per-commit upload is O(delta), not
            # O(state) — the right shape for long-window tiled state
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
