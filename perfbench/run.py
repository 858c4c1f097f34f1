"""gearflow benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <batch-llm|stream-window> --seed N \\
        --seconds S --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list; with --trace 1 they are its
per_layer list, taken from a run with spans, job-group tags and Spark's
event log switched on. The line above it spells out every figure of the
workload, with units. The exit code is 0 when every output matched its
reference, 1 when one did not, 2 when the program under test is missing.
See perfbench/NOTES.md for what each workload isolates.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# Spark driver heap. Both workloads fit in 1g; get_spark's own default
# (16g) let the heap, and so peak RSS, grow by gigabytes more on some runs
# than on others of the same code, on a host whose memory is shared.
DRIVER_MEM = "1g"
WORKLOADS = ("batch-llm", "stream-window")
# Layers a workload never calls into; their per-layer figures read 0.
UNTOUCHED = {"batch-llm": ("stream.", "streaming."), "stream-window": ("queries.", "datasets.")}


class Ctx:
    """What a workload gets: the session, the tracer, the operation ledger,
    the RSS sampler and the run's parameters. ``mark_setup_done`` is called
    right before the first timed operation."""

    def __init__(self, **kw) -> None:
        self.__dict__.update(kw)
        self.setup_done_at: float | None = None

    def mark_setup_done(self) -> None:
        self.setup_done_at = time.time()


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _spark_env(work: str, trace: bool, block_updates: bool) -> str:
    """Confines Spark's scratch files to ``work`` and, for a traced run,
    turns on the plain-JSON event log, with block updates when the workload
    checkpoints. Returns the event-log directory."""
    tmp, local, logs = (os.path.join(work, d) for d in ("tmp", "spark-local", "eventlog"))
    for d in (tmp, local, logs):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.logBlockUpdates.enabled": str(block_updates).lower(),
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return logs


def _stop_spark(spark) -> None:
    """Stops the session, then the JVM it launched, and waits until the
    JVM and every Python worker it forked have exited."""
    from pyspark import SparkContext

    from tracing import descendants

    children = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _event_log(logs: str) -> str | None:
    files = sorted((os.path.join(logs, f) for f in os.listdir(logs) if not f.startswith(".")),
                   key=os.path.getmtime)
    return files[0] if files else None


def _history(work: str, workload: str) -> str:
    return os.path.join(work, f"untraced-{workload}.jsonl")


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "gearpump_spark", "__init__.py")):
        _fail(f"the gearpump_spark package is not in {ROOT}; run from a repository checkout")
    if not os.path.isfile(os.path.join(ROOT, "tools", "drive_contract.py")):
        _fail("tools/drive_contract.py (the oracle hash) is missing")
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        _fail("BENCHMARK.json is missing")
    with open(bench_path) as f:
        spec = json.load(f)

    sys.path[:0] = [ROOT, HERE]
    import batch
    import streamwin
    from fixtures import ensure_fixtures
    from metrics import Ledger
    from tracing import NullTracer, RssSampler, Tracer, log, read_event_log

    work = os.path.join(HERE, ".work")
    t = time.time()
    data_dir = ensure_fixtures(os.path.join(work, "fixtures"))
    build_s = time.time() - t
    logs = _spark_env(os.path.join(work, "run"), bool(args.trace),
                      block_updates=args.workload == "batch-llm")
    shutil.rmtree(logs, ignore_errors=True)
    os.makedirs(logs)

    tracer = Tracer() if args.trace else NullTracer()
    ledger = Ledger()
    rss = RssSampler().start()
    from gearpump_spark.session import get_spark

    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench", cpus=CORES)
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    log(f"session up in {session_s:.1f}s")

    ctx = Ctx(spark=spark, tracer=tracer, ledger=ledger, rss=rss, seed=args.seed,
              seconds=args.seconds, data_dir=data_dir, work_dir=os.path.join(work, "run"),
              repo_root=ROOT)
    mod = batch if args.workload == "batch-llm" else streamwin
    try:
        res = mod.run(ctx)
    finally:
        peak_rss_mb = rss.stop()
        _stop_spark(spark)
    setup_s = ctx.setup_done_at - T_PROCESS - build_s

    log(f"stopped; peak RSS {peak_rss_mb:.0f} MB: {rss.peak_parts}")
    correct = mod.correct(res)
    with open(os.path.join(work, "run", "result.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    e2e = {"setup_s": setup_s, "e2e_s": res["e2e_s"], "latency_p50_ms": res["latency_p50_ms"]}
    lines = [("setup_s", setup_s, "s", ""), *mod.report(res),
             ("peak_rss_mb", peak_rss_mb, "MB", ""),
             ("fail_ratio", ledger.fail_ratio, "ratio", f"{ledger.failed}/{ledger.attempted}")]

    if args.trace:
        per = {"session.start_s": session_s, "peak_rss_mb": peak_rss_mb}
        log_path = _event_log(logs)
        events = read_event_log(log_path) if log_path else {"groups": {}, "stages": []}
        per.update(mod.layer_metrics(res, events))
        if args.workload == "stream-window":
            one = get_spark("perfbench-1core", cpus=1)
            one.sparkContext.setLogLevel("ERROR")
            try:
                per["streaming.capacity_1core_rows_per_s"] = streamwin.capacity_one_core(
                    one, os.path.join(work, "run"), args.seed)
            finally:
                _stop_spark(one)
        hist = []
        if os.path.exists(_history(work, args.workload)):
            with open(_history(work, args.workload)) as f:
                hist = [json.loads(line)["e2e_s"] for line in f if line.strip()][-10:]
        per["trace.e2e_s"] = res["e2e_s"]
        per["trace.overhead_s"] = res["e2e_s"] - statistics.median(hist) if hist else 0.0
        per["trace.overhead_base_runs"] = len(hist)
        per["trace.spans"] = len(tracer.spans)
        tracer.write(os.path.join(work, "run", "spans.json"))
        for m in spec["per_layer"]:
            if m["name"].startswith(UNTOUCHED[args.workload]):
                per.setdefault(m["name"], 0.0)
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in per]
        if missing:
            raise RuntimeError(f"per-layer metrics not computed: {missing}")
        wanted = spec["per_layer"]
        values = {k: float(v) for k, v in per.items()}
    else:
        with open(_history(work, args.workload), "a") as f:
            f.write(json.dumps({"seed": args.seed, "e2e_s": res["e2e_s"]}) + "\n")
        wanted = spec["end_to_end"]
        values = e2e

    text = ", ".join(f"{k}={_fmt(v)} {u}" + (f" ({note})" if note else "") for k, v, u, note in lines)
    print(f"{args.workload} seed={args.seed} trace={args.trace}: {text}")
    for r in ledger.reasons[:10]:
        print(f"failed: {r}", file=sys.stderr)
    out = {
        "correct": bool(correct),
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
