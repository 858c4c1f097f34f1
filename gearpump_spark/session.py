"""SparkSession bootstrap tuned for the local[32] test rig while staying
cluster-correct: everything here is either runtime-settable or a sensible
default on a 1000-executor cluster too (AQE, skew-join handling, UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding the gearpump_spark package.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs we require for deterministic, oracle-comparable
# results. Applied defensively by query entry points because the driver may
# hand us a session we didn't build.
_RUNTIME_CONF = {
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so collected values
    # and date arithmetic agree (pyspark_guide: "Pitfalls").
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas-UDF path (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime coalesce + skew-join splitting. At 100 TB skewed keys are
    # the norm, not the exception.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Spark 4 rejects INT64 TIMESTAMP(NANOS) parquet columns outright; read
    # them as epoch-nano longs and convert in the loader (datasets.table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet columns otherwise
    # infer as TIMESTAMP_NTZ, which unix_micros()/window() reject. With the
    # session pinned to UTC, reading them as plain TIMESTAMP gives the same
    # wall-clock values DuckDB sees, and scan-level predicate pushdown on
    # the column keeps working (no cast wrapper needed in the loader).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs can be locked down; never fail a query over tuning.
            pass
    return spark


def get_spark(
    app_name: str = "gearpump_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores.
    Shuffle partitions default to the core count — 200 is wrong for a
    single host (over-parallelized) and is re-planned by AQE anyway.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or (32 if cpus == "*" else int(cpus))),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # No console progress bar: its \r-frames pollute redirected stdout
        # (docs/SCALING.md grew a binary header from exactly this).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Stream checkpoints (offsets, commits, source logs, state deltas)
        # go through the Hadoop FileSystem API, not Spark's default
        # FileContext one. Without the native Hadoop library the local
        # filesystem forks a shell command to set or read a file's
        # permissions; an atomic checkpoint-file write forks 20 times
        # through FileContext and 4 through FileSystem, and the forks are
        # most of a trigger's time. The FileSystem manager writes the same
        # files (a temp file renamed into place, .crc included), and its
        # reads verify Hadoop's .crc, which FileContext's reads of the
        # offset log do not. It checks for an existing file and then
        # renames, where FileContext renames without overwrite in one step
        # that HDFS makes atomic. Local only: get_spark always builds
        # local[N]. Sessions built elsewhere and passed through
        # ensure_runtime_conf keep FileContext.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Python workers fork from gearpump_spark.pyworker, which stops
        # them re-reading pyspark.zip's directory 16 times per task (see
        # that module). The daemon is started as `python -m`, so the
        # directory holding this package goes on the worker path: without
        # it a driver run from another cwd fails every Python UDF. Local
        # only, as above; sessions built elsewhere keep pyspark.daemon.
        .config("spark.python.daemon.module", "gearpump_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_conf(spark)
