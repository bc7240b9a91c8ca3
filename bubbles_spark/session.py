"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same config block is what we'd
ship on a 1000-executor cluster (AQE, skew-join handling, Arrow).
Only the master / memory knobs are environment-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bubbles_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the cluster posture we design for:
      - AQE on (runtime coalesce, skew-join splitting) so the same
        query re-plans itself from sf0.001 up to 100 TB.
      - shuffle partitions sized to cores locally; on a real cluster
        AQE's coalescePartitions makes the static number soft.
      - Arrow enabled for every pandas interchange (vectorized UDFs).
      - Session timezone pinned to UTC so results are reproducible
        and comparable against external oracles.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet TIMESTAMP(NANOS) reads as long (io.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
