"""SparkSession factory — the one config surface of the engine.

Two environment variables describe the deployment, and both are read only
here:

- ``SPARK_GRAFT_CPUS``: the local core count (``local[N]``), a positive
  integer; default ``os.cpu_count()``. Anything else raises ``ValueError``
  before a session is built.
- ``SPARK_GRAFT_SF_DIR``: the default dataset directory
  (``DEFAULT_SF_DIR``) for ``bench.py`` and ``scale_probe.py``.

Everything else is Spark conf, set through ``get_spark(extra_conf=...)``,
which overrides the defaults below. Shuffle partitions default to the core
count locally — on a 1000-executor cluster pass ``shuffle_partitions`` at
~2-3x total cores (AQE coalesces the excess at runtime, so
over-provisioning is the safe direction at 100 TB). Driver memory defaults
to 60% of physical RAM, capped at 48g. The streaming state store stays
Spark's HDFS-backed map provider, measured faster than RocksDB locally
(tiled window at sf0.1 on local[32]: 10.4 s vs 14.4 s, RocksDB pays a
per-batch instance open and commit); a cluster with millions of keys per
partition switches to RocksDB with changelog checkpointing through
``extra_conf`` (see README "Configuration").

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


def _env_cpus() -> int:
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 4
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def _driver_memory() -> str:
    """60% of physical RAM, capped at 48g: the driver heap of a local run
    must leave room for the Python workers and the page cache."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(ram_mb * 6 // 10, 48 * 1024)}m"


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
        cpus = _env_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
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
        .config("spark.driver.memory", _driver_memory())
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
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
