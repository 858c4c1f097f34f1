"""Full-registry physical-plan sweep: build every registered query's
DataFrame at $SPARK_GRAFT_SF_DIR and tabulate plan-shape signals —
Exchange count, join strategies, Python-boundary nodes, cartesian
products, global sorts — so an optimization round can rank queries by
plan smell instead of guessing. Output: TSV on stdout.

Streaming-sourced queries (readStream-based) are built like the rest;
queries whose construction fails are recorded with the error.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

SIGNALS = {
    "exch": "Exchange (",          # operator-list lines only counted below
    "smj": "SortMergeJoin",
    "bhj": "BroadcastHashJoin",
    "shj": "ShuffledHashJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cart": "CartesianProduct",
    "py": "EvalPython",
    "arrow_map": "MapInPandas",
    "gen": "Generate",
    "window": "Window",
    "sort": "Sort (",
}


def main() -> None:
    from gearpump_spark.session import get_spark
    from gearpump_spark.queries import all_queries

    spark = get_spark("plan_sweep", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = sys.argv[1:] or list(qs)
    print("query\t" + "\t".join(SIGNALS) + "\tnote")
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
            tree = text.split("\n\n")[0]  # operator tree only, no detail dup
            counts = [str(tree.count(pat)) for pat in SIGNALS.values()]
            print(f"{name}\t" + "\t".join(counts) + "\t", flush=True)
        except Exception as exc:
            msg = str(exc).splitlines()[0][:120] if str(exc) else repr(exc)[:120]
            print(f"{name}\t" + "\t".join(["-"] * len(SIGNALS)) + f"\tERR {msg}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
