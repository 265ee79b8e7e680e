"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the settings below are
chosen so the same logical plans scale to a multi-executor cluster:

* AQE on (runtime coalescing + skew-join splitting — hot block keys are the
  known skew hazard of dedup blocking, SURVEY.md §4).
* Arrow on (every Python-side operator uses Pandas UDFs / applyInPandas,
  never row-at-a-time Python UDFs).
* shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from a larger initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pgdedupe_spark", shuffle_partitions: int | None = None) -> SparkSession:
    # JVM unified logging defaults to STDOUT; its GCLocker/alloc warnings
    # interleave with program output (this corrupted two bench artifacts).
    # spark.driver.extraJavaOptions is IGNORED for the driver in client
    # mode (the JVM is already being launched when the conf is read), so
    # the flag must ride the spark-submit launch env instead. No-op if the
    # JVM is already up (getOrCreate reuses it).
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "-Xlog" not in opts:
        os.environ["SPARK_SUBMIT_OPTS"] = (opts + " -Xlog:all=warning:stderr").strip()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # kept for cluster mode, where executors DO honor it (client-mode
        # driver gets the same flag via SPARK_SUBMIT_OPTS above)
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xlog:all=warning:stderr"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Read the driver's parquet tables; column pruning + predicate pushdown
    happen at the parquet scan because callers select/filter on the returned
    DataFrames before any action (Catalyst pushes through)."""
    out = {}
    for name in names or TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out
