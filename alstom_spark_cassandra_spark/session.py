"""SparkSession factory.

The reference creates sessions ad hoc per job with Cassandra connection
config (reference: Java/.../DataLoader.java:19-26, Scala/.../
Retrieve_field.scala:11-15, master("local[2]")). Here one factory owns
the tuning that matters for both the local[N] test runs and a real
cluster:

- AQE on (runtime coalesce, skew-join splitting, join re-planning).
- shuffle.partitions sized to cores locally; on a cluster AQE's
  coalescePartitions makes the initial number mostly moot.
- UTC session timezone so results compare exactly against the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for the few pandas-UDF operators (similarity,
  multimodal) so batches transfer vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Cluster-driver heap ceiling; a smaller host gets half its memory.
_MAX_DRIVER_MIB = 24 * 1024


def default_driver_memory() -> str:
    """spark.driver.memory when SPARK_GRAFT_DRIVER_MEM is unset: half
    the host's physical memory, capped at 24g. A heap the host cannot
    back lets G1 grow past the host's free memory and get the JVM
    OOM-killed instead of collecting."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(_MAX_DRIVER_MIB, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "alstom_spark_cassandra_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    On a real cluster, drop the ``master`` call and submit with
    ``spark-submit``; every other setting still applies.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Older testdata generations wrote events.ts as parquet
        # TIMESTAMP(NANOS), which vanilla Spark rejects; reading it as
        # a long keeps that encoding loadable. The loader canonicalizes
        # either encoding (long-ns or timestamp[us]) to epoch-ms —
        # sources/loader.normalize_event_time.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
