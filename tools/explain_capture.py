"""Capture .explain("formatted") for registered queries into plans/<tag>/.

Usage:
    python tools/explain_capture.py <tag> <suffix> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each named query (default: the
bench HEADLINE list). The plan is built at $SPARK_GRAFT_SF_DIR (default
sf0.1) with the same session settings the bench uses, so the captured plan
is the plan the bench times (modulo AQE's runtime re-optimization, which
explain() before execution cannot show).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r10"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    from gearpump_spark.session import get_spark
    from gearpump_spark.queries import all_queries

    if not names:
        import bench

        names = list(bench.HEADLINE)
    spark = get_spark("explain_capture", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # capture the failure instead of dying
            text = f"EXPLAIN FAILED: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_exch = text.count("Exchange")
        print(f"{name}: {len(text)} bytes, Exchange x{n_exch} -> {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
