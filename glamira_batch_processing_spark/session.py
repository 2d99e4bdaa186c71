"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship on a multi-executor cluster (AQE, adaptive skew join,
sane shuffle partitioning). Nothing here is local-mode-specific except
the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the bench harness: 32 local cores, ~600k-row sf0.1 inputs.
# On a real cluster these same settings scale: AQE coalesces the 2x-cores
# starting shuffle partitioning down (or splits skewed partitions up) at
# runtime, so the static number only has to be a reasonable upper bound.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's stock 10 MB. 64 MB looked tempting for dim joins, but it
    # lets mid-sized nested relations (e.g. a carts rollup) broadcast:
    # the hash relation builds single-threaded and its humongous
    # allocations stall G1 — measured 2x slower and 3x noisier than the
    # shuffle join on the warehouse e2e. Genuinely small dims still
    # broadcast; anything near the limit is better shuffled.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # local managed-table location (bucketed tables in tests/benchmarks)
    "spark.sql.warehouse.dir": "/tmp/glamira-spark-warehouse",
}


def get_spark(app_name: str = "glamira-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
