"""SparkSession factory.

Scale-minded defaults: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (vectorized pandas-UDF transfer),
UTC session timezone (deterministic timestamp semantics vs the DuckDB
oracle). Shuffle partitions default to the local core count rather than
200 — on a real cluster this would be sized to ~2-3× total cores /
target ~128 MB shuffle blocks; AQE coalesces down from there. The
driver heap defaults to half the host's RAM, at most 16g. Python
workers run from the engine's daemon (``pydaemon``), so the package
must be importable on the workers' path, as its UDFs already require.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half the host's physical RAM, capped at 16g, so a local session
    never asks for more heap than the host has."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "map_reduce_engine_cdps_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Local mode is for tests/bench only; every default below is chosen
    to also be correct on a 1000-executor cluster (AQE does the
    runtime sizing; nothing here pins plans to local assumptions).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "map_reduce_engine_cdps_spark.pydaemon")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # bucketed saveAsTable targets (keep scratch tables out of the repo)
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
