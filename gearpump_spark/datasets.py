"""Dataset access for the driver-generated parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and partition pruning for free — the scan is the first place a
100 TB plan wins or loses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# region/nation are constant-size; supplier/part/customer grow with SF but
# region/nation never do).
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool | None = None
) -> DataFrame:
    """Load one of the driver's parquet tables.

    `events.ts` is TIMESTAMP(NANOS), which Spark reads as an epoch-nano
    long (legacy.parquet.nanosAsLong); convert to a µs TimestampType with
    truncating division — the same ns→µs semantics as DuckDB's
    CAST(ts AS TIMESTAMP).

    parallelize (default: yes for fact tables): when the scan yields far
    fewer splits than cores — the test fixtures are single-row-group files,
    so parquet can't split them and every scan-side stage (filter, partial
    aggregate, shuffle write) runs on ONE core — insert a round-robin
    repartition to core count. Catalyst still pushes filters/pruning below
    the repartition, so the shuffle carries only filtered, pruned rows.
    At real scale this is a NO-OP by construction: a 100 TB table has
    thousands of splits, the partition-count guard never fires, and no
    extra exchange enters the plan.
    """
    from gearpump_spark.session import ensure_runtime_conf

    ensure_runtime_conf(spark)
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df = _ts_micros(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    if parallelize is None:
        parallelize = name not in ALWAYS_BROADCAST
    if parallelize:
        target = spark.sparkContext.defaultParallelism
        if _few_splits(f"{sf_dir}/{name}.parquet", target):
            df = df.repartition(target)
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str, flush: bool = False) -> DataFrame:
    """One of the driver's parquet tables as a file-source stream, with
    `table()`'s ts rule. The path goes through stream_source_path, so a
    single-file fixture streams like a directory one.

    flush=True unions the flush sentinel (Watermark.MAX) into the source
    before the ts conversion: it advances the watermark past every open
    window; drop it with before_flush() after the watermark."""
    from gearpump_spark.session import ensure_runtime_conf
    from gearpump_spark.streaming.core import flush_sentinel_source, stream_source_path

    ensure_runtime_conf(spark)
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    df = spark.readStream.schema(schema).parquet(stream_source_path(path))
    if flush:
        df = df.union(flush_sentinel_source(spark, schema))
    return _ts_micros(df)


def _ts_micros(df: DataFrame) -> DataFrame:
    """`ts` read as epoch nanos (a TIMESTAMP(NANOS) column under
    legacy.parquet.nanosAsLong) becomes a µs TimestampType by truncating
    division — the same ns→µs semantics as DuckDB's CAST(ts AS TIMESTAMP)."""
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Rows in one of the driver's tables, for strategies sized from the
    input. A local path sums the ``num_rows`` of its parquet footers and
    runs no Spark job; any other path (scheme://) counts with a scan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    files = _local_parquet_files(f"{sf_dir}/{name}.parquet")
    if files is None:
        return table(spark, sf_dir, name).count()
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _local_parquet_files(path: str) -> list[str] | None:
    """The parquet files of a LOCAL path: the path itself, or every
    ``.parquet`` file below a directory, recursively, because
    hive-partitioned layouts keep their files in subdirectories. None
    for a non-local path (any scheme://) or one that does not exist."""
    if "://" in path:
        return None
    if os.path.isdir(path):
        return [
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        ]
    return [path] if os.path.exists(path) else None


def _few_splits(path: str, target: int) -> bool:
    """True when a LOCAL parquet path cannot yield ~target scan splits
    (fixture files are one row group — unsplittable). Non-local paths
    (any scheme://) return False: a real warehouse has enough files/row
    groups, and forcing a repartition there would shuffle the whole table.
    An unreadable or unknown path also returns False: trust the source's
    splits."""
    files = _local_parquet_files(path)
    # under one file per core: fixture files are single-row-group
    # (unsplittable), so anything short of `target` files leaves cores
    # idle in scan-side stages — CPU-bound Arrow UDF stages feel this
    # hardest. Real warehouses have thousands of splits and never hit
    # this branch (and any scheme:// path returns None above).
    return files is not None and len(files) < max(2, target)
