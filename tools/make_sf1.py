"""Synthesize an sf1-scale dataset (10x sf0.1) for scaling checks.

The driver rig ships sf0.001/0.01/0.1 only, so the top scaling step is
manufactured: each table is unioned 10 times with every key column offset
by copy_index * 1e9 — keys stay unique, and tables that join on a key
(orders.o_orderkey <-> lineitem.l_orderkey, *_custkey, *_partkey,
*_suppkey, events.user_id) get the SAME offset on both sides, so each copy
joins against itself and join fan-outs match real 10x data. Constant-size
dims (region/nation) are NOT replicated — they are constant at every real
scale factor too, and the copies' nationkeys still resolve against them.

Output: $SPARK_GRAFT_SF1_DIR (default <repo>/.testdata/sf1), ~10x the
sf0.1 bytes. Used by tools/scaling_report.py for the 0.1 -> 1 step.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

# Key columns to offset per table; every other column is copied as-is.
# One shared offset constant keeps cross-table key references consistent.
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
CONSTANT_DIMS = ("region", "nation")
OFFSET = 1_000_000_000  # > any sf0.1 key; 10 copies stay well inside int64
N_COPIES = 10

DEFAULT_OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".testdata", "sf1"
)


def main() -> None:
    from gearpump_spark.datasets import table
    from gearpump_spark.session import get_spark

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = os.environ.get("SPARK_GRAFT_SF1_DIR", DEFAULT_OUT)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("make_sf1", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(out, exist_ok=True)
    for name in CONSTANT_DIMS:
        table(spark, src, name, parallelize=False).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        print(f"{name}: copied (constant dim)")

    for name, keys in KEY_COLS.items():
        base = table(spark, src, name, parallelize=False)
        copies = []
        for i in range(N_COPIES):
            c = base
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * OFFSET))
            copies.append(c)
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        # one file per core: a real 10x table has thousands of splits, so
        # the fixture should saturate the rig's scan parallelism too. (8
        # files sat exactly AT datasets._few_splits' no-repartition
        # threshold and left 3/4 of the cores idle in CPU-bound
        # mapInPandas stages — measured 16x instead of ~8x on the
        # refined-JPEG decode at the sf0.1→sf1 step.)
        n_files = max(32, spark.sparkContext.defaultParallelism)
        df.repartition(n_files).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        n = spark.read.parquet(f"{out}/{name}.parquet").count()
        print(f"{name}: {n} rows")

    print(f"sf1 written to {out}")


if __name__ == "__main__":
    main()
