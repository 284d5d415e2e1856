"""SparkSession factory tuned for this engine.

Local mode here is a stand-in for a multi-executor cluster: every config
below is chosen to also make sense at 1000-executor / 100 TB scale
(AQE on, skew-join handling on, Arrow for the Python boundary, UTC
timestamps for cross-engine determinism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "watermill-kinesis-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Notes on knobs:
    - ``spark.sql.shuffle.partitions``: sized to cores locally; on a real
      cluster AQE coalescing makes the initial number less critical.
    - ``spark.sql.adaptive.*``: runtime re-planning — skew-join splitting
      and partition coalescing are essential at 100 TB.
    - ``spark.sql.mapKeyDedupPolicy=LAST_WIN``: the unmarshal path merges
      wire ``headers`` with system keys (``partitionKey``, ``shardID``,
      ``approximateArrivalTimestamp``) and the system value wins, matching
      the reference's map-overwrite semantics (marshaller.go:35-40).
    - UTC session timezone: parquet timestamps compare bit-identically
      against the DuckDB oracle.
    """
    n = cpus or default_parallelism()
    # the fastdaemon worker entry point (see fastdaemon.py: CPython 3.12
    # zipimport-invalidation backport, ~115 ms fixed cost off EVERY
    # Python task) must be importable by the worker python, whose
    # sys.path comes from the PYTHONPATH the JVM/daemon inherit — make
    # sure the repo root is on it before the gateway launches
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + os.pathsep + pp if pp else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # wide aggregates (e.g. the 128-column MinHash signature) must
        # stay inside whole-stage codegen; the default 100-field limit
        # silently drops them to interpreted eval (~10× slower)
        .config("spark.sql.codegen.maxFields", "256")
        # Python Data Source readers that implement pushFilters()
        # (the kinesis_aws batch reader's shard pruning) fail without this
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # stock pyspark.daemon plus the CPython 3.12 zipimport
        # cache-invalidation backport (fastdaemon.py): on 3.11 every
        # Python task re-parses pyspark.zip+py4j.zip central
        # directories inside setup_spark_files — ~115 ms/task of pure
        # fixed latency, the dominant cost of every small Python stage
        .config("spark.python.daemon.module", "watermill_kinesis_spark.fastdaemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
