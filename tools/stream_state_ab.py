"""A/B the Structured Streaming state-store provider (HDFSBacked vs
RocksDB) on the bench's stateful workload — the OPTIMIZATION_r10 "Not
yet optimized" item. Each arm runs in its OWN SparkSession, built by
gearpump_spark.session.get_spark, so it writes checkpoints through the same
file manager as every Stream-API pipeline; the provider class is set on
the session before the query starts (it is fixed in a checkpoint at first
use). Each arm runs the exact bench shape:
rate-micro-batch 20M rows/trigger -> watermark 0s -> 10s window x 64
keys -> count, update mode, noop sink; rate = median of the best half of
steady-state batches (bench.py's estimator, batchId >= 3).

Estimator divergence from bench.py (ADVICE r10): this tool does NOT port
bench.py's empty-done fallback (best completed batch after batchId >= 1),
so on a host slow enough that warmup eats the whole 75 s window it reports
rows_per_sec = 0 rather than an underestimate — read a 0 as "window too
short here", not as a provider verdict.

Arm-order caveat (ADVICE r10): both arms run sequentially in ONE Python
process with fixed order (HDFSBacked first), so the RocksDB arm inherits
a JIT-warm JVM — a mild bias in RocksDB's favor (and spark.driver.memory
cannot change for the second arm's reused JVM; harmless, both arms set
the same value). The recorded r10 conclusion (keep the HDFSBacked
default) is robust to this: the favored arm still lost. For strict
isolation, run each arm as its own process:
    python -c "import tools.stream_state_ab as ab; print(ab.measure(ab.PROVIDERS['rocksdb']))"

Usage: python tools/stream_state_ab.py [rows_per_batch]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000

PROVIDERS = {
    "hdfs_backed": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def measure(provider_class: str) -> dict:
    from pyspark.sql import functions as F

    from gearpump_spark.session import get_spark

    spark = get_spark(
        f"state_ab_{provider_class.rsplit('.', 1)[-1]}", cpus=CPUS, shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider_class)
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", ROWS)
        .option("numPartitions", CPUS)
        .load()
    )
    agg = (
        src.withWatermark("timestamp", "0 seconds")
        .groupBy(F.window("timestamp", "10 seconds"), (F.col("value") % 64).alias("k"))
        .count()
    )
    q = agg.writeStream.format("noop").outputMode("update").start()
    deadline = time.perf_counter() + 75
    done: list = []
    while time.perf_counter() < deadline:
        time.sleep(1)
        done = [
            p for p in q.recentProgress if p["batchId"] >= 3 and p["numInputRows"] > 0
        ]
        if len(done) >= 6:
            break
    q.stop()
    rates = sorted(
        p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
        for p in done
        if p["durationMs"]["triggerExecution"] > 0
    )
    # state-op commit time: how much of each trigger the state store itself eats
    commit_ms = sorted(
        op["commitTimeMs"]
        for p in done
        for op in p.get("stateOperators", [])
        if "commitTimeMs" in op
    )
    spark.stop()
    top_half = rates[len(rates) // 2 :] if rates else []
    return {
        "rows_per_sec": int(top_half[len(top_half) // 2]) if top_half else 0,
        "batches": len(done),
        "state_commit_ms_median": (
            commit_ms[len(commit_ms) // 2] if commit_ms else None
        ),
    }


def main() -> None:
    import bench

    out = {"rows_per_batch": ROWS, "calib_start": bench.cpu_calibration()}
    for name, cls in PROVIDERS.items():
        out[name] = measure(cls)
    out["calib_end"] = bench.cpu_calibration()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
