"""Time a subset of registered queries with the bench methodology
(best-of-2 to a noop sink, sf0.1, local[32], shuffle partitions = cores),
plus the CPU calibration stamp. For A/B work during optimization rounds —
NOT the official bench (bench.py).

Usage: python tools/bench_subset.py q1 q2 ...   (default: triangle tier)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def main() -> None:
    names = sys.argv[1:] or ["graph_triangle_count", "graph_triangle_estimate"]
    import bench

    from gearpump_spark.queries import all_queries
    from gearpump_spark.session import get_spark

    calib0 = bench.cpu_calibration()
    spark = get_spark("bench_subset", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    # codegen warmup at sf0.001 + page-cache warm, same as bench.py
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in names:
        try:
            qs[name](spark, warm_dir).write.mode("overwrite").format("noop").save()
        except Exception:
            pass
    bench.warm_page_cache(SF_DIR)
    out = {}
    construct = {}
    for name in names:
        best = float("inf")
        best_c = float("inf")
        for _ in range(RUNS):
            c0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            best_c = min(best_c, time.perf_counter() - c0)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        construct[name] = round(best_c, 3)
    calib1 = bench.cpu_calibration()
    spark.stop()
    print(json.dumps({"queries": out, "construction": construct,
                      "calib_start": calib0, "calib_end": calib1}))


if __name__ == "__main__":
    main()
