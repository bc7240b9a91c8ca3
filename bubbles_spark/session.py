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
      - Python workers fork from the engine's daemon module,
        ``bubbles_spark._pyworker`` (``spark.python.daemon.module``):
        ``pyspark.daemon`` unchanged, plus one import rule.  Every
        Python task (rank-test and graph folds, keyed-state streams,
        pandas UDFs) starts with ``importlib.invalidate_caches()``,
        which before CPython 3.12 re-parses ``pyspark.zip``'s whole
        central directory once per zip importer, about 0.2 s of CPU
        per task; the daemon re-reads an archive only when its file
        changed.  Only module lookup is touched, so no result changes;
        the workers must be able to import ``bubbles_spark``, as they
        must for the engine's UDFs.
      - PySpark's DataFrame origin capture off
        (``spark.python.sql.dataFrameDebugging.enabled``).  With it on,
        every Column and ``functions`` call reads the active session,
        the ``PySparkCurrentOrigin`` class and a SQL conf through py4j,
        then sets and clears the origin: several round trips per call,
        about 1,900 per warm pass of the benchmark's batch workload.
        Results are unchanged; errors keep their class and message and
        lose only the Python file:line in their "DataFrame context".
        To get it back for a debugging session, pass
        ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
        "true"}`` in a fresh process: PySpark caches the first value
        it reads (``pyspark.errors.utils.is_debugging_enabled``) for
        the life of the process.
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
        .config("spark.python.daemon.module", "bubbles_spark._pyworker")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
