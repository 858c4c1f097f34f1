"""stream-window: an open-loop event stream through the Stream API.

One generator, on the main thread, writes seeded parquet files into the
source directory on a fixed tick (temporary name, then rename), whatever
the pipeline does; Spark runs the query on its own threads.
Every event carries its creation time as event time; keys are Zipf-skewed,
a share of events is out of order within the watermark delay and a small
share arrives far too late. The pipeline is

    GearContext.from_stream_parquet -> with_watermark
      -> key_by(key).windowed(10 s).agg(count, sum) -> noop sink, update mode

and runs through a low fixed rate, where the fixed per-trigger cost rules,
and a high fixed rate, where per-row work shows. An availableNow replay of
every generated file checks the results against pandas, untimed; capacity
is measured by draining a fixed pre-written backlog the same way.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from metrics import median, parse_utc_ms, percentile, tail_percentile, trigger_end_ms, trigger_latency_ms
from tracing import log, task_skew

TICK_S = 0.1
LOW_RATE = 10_000        # events/s; fixed per-trigger cost dominates
HIGH_RATE = 50_000       # events/s; about a third of the lowest drain capacity seen on 4 cores
WATERMARK = "5 seconds"
WINDOW = "10 seconds"
WINDOW_MS = 10_000
N_KEYS = 10_000
ZIPF_A = 1.2
OUT_OF_ORDER_SHARE = 0.10
OUT_OF_ORDER_MAX_MS = 4_000   # inside the 5 s watermark delay
TOO_LATE_SHARE = 0.005
TOO_LATE_MS = 600_000         # far behind any watermark
LATENCY_LIMIT_MS = 5_000      # a trigger slower than this fails; the slowest seen took ~2.6 s
BACKLOG_FILES = 8
BACKLOG_FILE_ROWS = 50_000
BACKLOG_BASE_MS = 1_700_000_000_000 + 2_000   # 2 s into a 10 s window
DRAIN_FILES_PER_TRIGGER = 4
DRAIN_REPS = 5
# An untimed drain first: the first drain after the replay was the slowest
# of a run in most runs (by up to a third).
WARMUP_DRAINS = 1
REPLAY_FILES_PER_TRIGGER = 100
# Warm-up: a short burst at the high rate waits out the slow first trigger
# of the fresh stateful query; then the low rate runs until its triggers
# have stopped getting faster (the first three after the burst took ~200 ms
# more than the rest).
WARMUP_S = {"high": 2.0, "low": 5.0}
DRAIN_WAIT_S = 30.0

SCHEMA = pa.schema([("key", pa.int64()), ("value", pa.int64()),
                    ("ts", pa.timestamp("ms")), ("created", pa.int64())])


def spark_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("key", T.LongType()), T.StructField("value", T.LongType()),
        T.StructField("ts", T.TimestampType()), T.StructField("created", T.LongType()),
    ])


def make_events(rng: np.random.Generator, n: int, created_ms: int, late: bool) -> pa.Table:
    """n events created at ``created_ms``. Event 0 is in order, so a file's
    newest event time is its creation time."""
    keys = (rng.zipf(ZIPF_A, n) - 1) % N_KEYS
    ts = np.full(n, created_ms, dtype=np.int64)
    ooo = rng.random(n) < OUT_OF_ORDER_SHARE
    ts[ooo] -= rng.integers(1, OUT_OF_ORDER_MAX_MS, int(ooo.sum()))
    if late:
        too_late = rng.random(n) < TOO_LATE_SHARE
        ts[too_late] = created_ms - TOO_LATE_MS
    ts[0] = created_ms
    return pa.table([pa.array(keys, pa.int64()), pa.array(rng.integers(0, 1000, n), pa.int64()),
                     pa.array(ts.astype("datetime64[ms]")), pa.array(np.full(n, created_ms), pa.int64())],
                    schema=SCHEMA)


class Generator:
    """Writes one file per tick into ``src`` on a schedule that does not
    wait for the pipeline; a late tick is written at once and the lag is
    recorded."""

    def __init__(self, src: str, seed: int) -> None:
        self.src = src
        self.seed = seed
        self.seq = 0
        self.phases: dict[str, dict] = {}

    def _write(self, tbl: pa.Table) -> None:
        name = f"part-{self.seq:07d}.parquet"
        tmp = os.path.join(self.src, "." + name + ".tmp")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.src, name))
        self.seq += 1

    def run_phase(self, name: str, rate: int, seconds: float, late: bool = True) -> dict:
        rng = np.random.default_rng([self.seed, len(self.phases)])
        per_tick = int(rate * TICK_S)
        n_ticks = max(1, int(round(seconds / TICK_S)))
        lag_ms: list[float] = []
        t0 = time.time()
        for k in range(n_ticks):
            due = t0 + k * TICK_S
            now = time.time()
            if now < due:
                time.sleep(due - now)
                now = time.time()
            lag_ms.append(1000 * (now - due))
            self._write(make_events(rng, per_tick, int(now * 1000), late))
        rec = {"rate": rate, "rows": per_tick * n_ticks, "ticks": n_ticks, "start": t0,
               "end": time.time(), "lag_ms": lag_ms}
        self.phases[name] = rec
        return rec


def write_backlog(path: str, seed: int) -> int:
    """Writes the drain backlog. Its event times start on a fixed window
    boundary, not at the wall clock, so that every run's backlog covers the
    same windows and so holds the same amount of state."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([seed, 99])
    base = BACKLOG_BASE_MS
    for i in range(BACKLOG_FILES):
        tbl = make_events(rng, BACKLOG_FILE_ROWS, base + i * 1000, late=True)
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))
    return BACKLOG_FILES * BACKLOG_FILE_ROWS


def build_pipeline(spark, src: str, files_per_trigger: int | None = None):
    """The benchmark's pipeline over the parquet files in ``src``. Live
    phases read through GearContext.from_stream_parquet; drains and the
    replay bound each trigger to ``files_per_trigger`` files through
    gearpump_spark.streaming.core.replay_parquet_stream."""
    from pyspark.sql import functions as F

    from gearpump_spark.stream import GearContext, Stream
    from gearpump_spark.streaming.core import replay_parquet_stream

    if files_per_trigger:
        source = Stream(replay_parquet_stream(spark, src, spark_schema(), files_per_trigger), "ts")
    else:
        source = GearContext(spark).from_stream_parquet(src, spark_schema(), "ts")
    return (
        source.with_watermark(WATERMARK)
        .key_by("key")
        .windowed(WINDOW)
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .to_df()
    )


def _start(df, name: str, ck: str, available_now: bool = False, sink=None):
    w = df.writeStream.queryName(name).outputMode("update").option("checkpointLocation", ck)
    if available_now:
        w = w.trigger(availableNow=True)
    if sink is None:
        w = w.format("noop")
    else:
        w = w.foreachBatch(sink)
    return w.start()


def _wait_rows(listener, name: str, target: int, query, timeout: float) -> int:
    """Waits until the progress events of ``name`` account for ``target``
    input rows; returns the rows seen."""
    deadline = time.time() + timeout
    while True:
        rows = sum(p["numInputRows"] for p in listener.for_query(name))
        if rows >= target or time.time() > deadline:
            return rows
        if query is not None and query.exception() is not None:
            raise RuntimeError(f"stream {name} failed: {query.exception()}")
        time.sleep(0.05)


def _stop_when_idle(query, timeout: float = 10.0) -> None:
    """Stops ``query`` between triggers, so that no state commit is cut."""
    deadline = time.time() + timeout
    while query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.01)
    query.stop()


def drain(spark, listener, backlog: str, ck: str, name: str, rows: int) -> dict:
    df = build_pipeline(spark, backlog, DRAIN_FILES_PER_TRIGGER)
    t0 = time.perf_counter()
    q = _start(df, name, ck, available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    seen = _wait_rows(listener, name, rows, None, 10.0)
    return {"wall_s": wall, "rows": seen, "ok": seen == rows,
            "triggers": len(listener.for_query(name))}


def _phase_stats(rec: dict, progs: list[dict], ledger) -> dict:
    """Trigger statistics of one rate phase; records one operation per
    data trigger in ``ledger``."""
    data = [p for p in progs if p["numInputRows"] > 0]
    rows_in = sum(p["numInputRows"] for p in progs)
    end_ms = rec["end"] * 1000
    committed_by_end = sum(p["numInputRows"] for p in data if trigger_end_ms(p) <= end_ms)
    backlog_end = rec["rows"] - committed_by_end
    grew = backlog_end > rec["rate"] * LATENCY_LIMIT_MS / 1000
    lat = [trigger_latency_ms(p) for p in data]
    rows_ok = rows_in == rec["rows"]
    for p, ms in zip(data, lat):
        reason = ""
        if not rows_ok:
            reason = f"rows read {rows_in} != written {rec['rows']}"
        elif grew:
            reason = f"backlog grew to {backlog_end} rows"
        elif ms is None or ms > LATENCY_LIMIT_MS:
            reason = f"batch {p['batchId']} latency {ms} ms over {LATENCY_LIMIT_MS}"
        ledger.record(not reason, reason)
    good = [ms for ms in lat if ms is not None] if not grew and rows_ok else []

    def dur(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in data]) if data else 0.0

    def state(p: dict, key: str) -> float:
        return sum(op.get(key, 0) or 0 for op in p.get("stateOperators") or [])

    phases = ("latestOffset", "getBatch", "addBatch", "queryPlanning", "walCommit", "commitOffsets")
    spans = sorted((parse_utc_ms(p["timestamp"]), trigger_end_ms(p)) for p in progs)
    gaps = [b[0] - a[1] for a, b in zip(spans, spans[1:])]
    tail = tail_percentile(len(good))
    return {
        "rate": rec["rate"], "rows_written": rec["rows"], "rows_read": rows_in,
        "triggers": len(data), "no_data_triggers": len(progs) - len(data),
        "backlog_end_rows": backlog_end, "backlog_grew": grew,
        "generator_late_ms_max": max(rec["lag_ms"]), "generator_late_ms_p50": median(rec["lag_ms"]),
        "latency_p50_ms": median(good) if good else None,
        "latency_p90_ms": percentile(good, 90) if len(good) >= 100 else None,
        "latency_tail": (tail, percentile(good, tail)) if tail else None,
        "latency_max_ms": max(good) if good else 0.0,
        "latencies_ms": lat,
        "trigger_ms": dur("triggerExecution"),
        **{f"{k}_ms": dur(k) for k in phases},
        "unaccounted_ms": median([p["durationMs"]["triggerExecution"]
                                  - sum(p["durationMs"].get(k, 0) for k in phases) for p in data]) if data else 0.0,
        "idle_ms": median(gaps) if gaps else 0.0,
        "state_commit_ms": median([state(p, "commitTimeMs") for p in data]) if data else 0.0,
        "state_rows": state(progs[-1], "numRowsTotal") if progs else 0,
        "state_mb": state(progs[-1], "memoryUsedBytes") / 1e6 if progs else 0.0,
        "rows_per_trigger": median([p["numInputRows"] for p in data]) if data else 0.0,
        "late_rows_dropped": sum(state(p, "numRowsDroppedByWatermark") for p in progs),
    }


def reference_windows(src: str, files_per_trigger: int):
    """pandas reference of the pipeline's final per-window results for a
    replay of ``src`` that reads ``files_per_trigger`` files per batch, in
    file order. Spark drops late rows against the watermark of two batches
    back, so the first two batches keep every row; after them the too-late
    rows (event time ten minutes behind creation) fall behind the watermark
    and are dropped, while out-of-order rows (at most 4 s behind, inside the
    5 s delay) never are."""
    files = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    tables = [pq.read_table(f) for f in files]
    pdf = pa.concat_tables(tables).to_pandas()
    file_no = np.repeat(np.arange(len(tables)), [t.num_rows for t in tables])
    ts = pdf["ts"].astype("datetime64[ms]").astype("int64").to_numpy()
    keep = (file_no < 2 * files_per_trigger) | (ts >= pdf["created"].to_numpy() - TOO_LATE_MS // 2)
    pdf = pdf[keep].assign(ws=(ts[keep] // WINDOW_MS) * WINDOW_MS)
    ref = pdf.groupby(["ws", "key"], as_index=False).agg(n=("value", "size"), s=("value", "sum"))
    return ref, int(keep.sum())


def replay(spark, src: str, ck: str) -> dict:
    """Re-reads every generated file with an availableNow trigger through
    the same pipeline and compares the last update of each (window, key)
    with the pandas reference."""
    import pandas as pd
    from pyspark.sql import functions as F

    batches = []

    def sink(bdf, bid):
        batches.append(bdf.select(F.unix_millis(F.col("window.start")).alias("ws"), "key", "n", "s")
                       .toPandas().assign(bid=bid))

    q = _start(build_pipeline(spark, src, REPLAY_FILES_PER_TRIGGER), "replay", ck,
               available_now=True, sink=sink)
    q.awaitTermination()
    got = (pd.concat(batches, ignore_index=True).sort_values("bid", kind="stable")
           .drop_duplicates(["ws", "key"], keep="last"))
    ref, kept_rows = reference_windows(src, REPLAY_FILES_PER_TRIGGER)
    m = got.merge(ref, on=["ws", "key"], how="outer", suffixes=("_got", "_ref"), indicator=True)
    both = m[m["_merge"] == "both"]
    differ = int(((both["n_got"] != both["n_ref"]) | (both["s_got"] != both["s_ref"])).sum())
    missing = int((m["_merge"] == "right_only").sum())
    extra = int((m["_merge"] == "left_only").sum())
    return {"ok": missing == extra == differ == 0, "windows": len(ref), "missing": missing,
            "extra": extra, "differ": differ, "batches": len(batches), "kept_rows": kept_rows}


def run(ctx) -> dict:
    from tracing import ProgressListener

    spark, tracer, ledger = ctx.spark, ctx.tracer, ctx.ledger
    work = os.path.join(ctx.work_dir, "stream")
    shutil.rmtree(work, ignore_errors=True)
    src, backlog, ck = (os.path.join(work, d) for d in ("src", "backlog", "ck"))
    os.makedirs(src)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    backlog_rows = write_backlog(backlog, ctx.seed)
    gen = Generator(src, ctx.seed)
    log("stream: backlog written")

    t = time.perf_counter()
    with tracer.span("stream.build"):
        df = build_pipeline(spark, src)
    build_ms = 1000 * (time.perf_counter() - t)
    t = time.perf_counter()
    with tracer.span("stream.start"):
        live = _start(df, "live", os.path.join(ck, "live"))
    start_ms = 1000 * (time.perf_counter() - t)
    log(f"stream: pipeline built in {build_ms:.0f} ms, started in {start_ms:.0f} ms")

    written = 0
    with tracer.span("stream.warmup"):
        for name, rate, late in (("high", HIGH_RATE, False), ("low", LOW_RATE, True)):
            written += gen.run_phase(f"warmup_{name}", rate, WARMUP_S[name], late)["rows"]
            _wait_rows(listener, "live", written, live, DRAIN_WAIT_S)
        log("stream: warm-up committed")
    ctx.mark_setup_done()
    log("stream: set-up done")

    phases = {}
    for name, rate in (("low", LOW_RATE), ("high", HIGH_RATE)):
        before = max((p["batchId"] for p in listener.for_query("live")), default=-1)
        with tracer.span(f"streaming.{name}"):
            rec = gen.run_phase(name, rate, ctx.seconds)
            written += rec["rows"]
            _wait_rows(listener, "live", written, live, DRAIN_WAIT_S)
        phases[name] = _phase_stats(rec, listener.for_query("live", before), ledger)
        log(f"stream: {name} phase done, {phases[name]['triggers']} triggers")
    _stop_when_idle(live)

    # Correctness first (untimed); it also runs the availableNow path once
    # before the timed drains.
    with tracer.span("streaming.replay"), ctx.rss.paused():
        check = replay(spark, src, os.path.join(ck, "replay"))
    if not check["ok"]:
        ledger.fail_existing(ledger.attempted, f"replay mismatch: {check}")
    log(f"stream: replay checked, {check['batches']} batches")

    drains = []
    for r in range(-WARMUP_DRAINS, DRAIN_REPS):
        with tracer.span("streaming.drain", rep=r):
            d = drain(spark, listener, backlog, os.path.join(ck, f"drain{r}"), f"drain{r}", backlog_rows)
        if r >= 0:
            drains.append(d)
        if not d["ok"]:
            ledger.record(False, f"drain {r} read {d['rows']} of {backlog_rows} rows")
    drain_s = median([d["wall_s"] for d in drains])
    log("stream: drains done " + " ".join(f"{d['wall_s']:.2f}s" for d in drains))
    spark.streams.removeListener(listener)
    return {
        "e2e_s": drain_s,
        "capacity_rows_per_s": backlog_rows / drain_s,
        "backlog_rows": backlog_rows,
        "drain_rows_per_trigger": DRAIN_FILES_PER_TRIGGER * BACKLOG_FILE_ROWS,
        "drains": drains,
        # The gated latency is the low phase's alone: the two rates sit at
        # different levels, and a median over both flips between them.
        "latency_p50_ms": phases["low"]["latency_p50_ms"],
        "phases": phases,
        "replay": check,
        "build_ms": build_ms,
        "start_ms": start_ms,
    }


def capacity_one_core(spark, work_dir: str, seed: int) -> float:
    """Drain rate of the backlog through the pipeline on a local[1]
    session: the single-thread baseline. The first drain warms the fresh
    session; the second is the one reported."""
    from tracing import ProgressListener

    work = os.path.join(work_dir, "stream1")
    shutil.rmtree(work, ignore_errors=True)
    backlog = os.path.join(work, "backlog")
    rows = write_backlog(backlog, seed)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    for r in range(2):
        d = drain(spark, listener, backlog, os.path.join(work, f"ck{r}"), f"drain1core{r}", rows)
    spark.streams.removeListener(listener)
    return d["rows"] / d["wall_s"]


def correct(res: dict) -> bool:
    return (res["replay"]["ok"] and all(d["ok"] for d in res["drains"])
            and all(ph["rows_read"] == ph["rows_written"] for ph in res["phases"].values()))


def report(res: dict) -> list[tuple]:
    """(name, value, unit, note) rows for the summary line."""
    rows = [("capacity_rows_per_s", res["capacity_rows_per_s"], "rows/s",
             f"drain of {res['backlog_rows']} rows at {res['drain_rows_per_trigger']} rows/trigger, "
             f"median {res['e2e_s']:.3f} s of {len(res['drains'])}")]
    for name, ph in res["phases"].items():
        n = ph["triggers"]
        rows.append((f"latency_{name}_p50_ms", ph["latency_p50_ms"], "ms",
                     f"{n} triggers at {ph['rate']} events/s"))
        rows.append((f"latency_{name}_p90_ms", ph["latency_p90_ms"], "ms",
                     "" if ph["latency_p90_ms"] is not None else
                     f"needs 100 triggers, had {n}; highest supported tail: "
                     + (f"p{ph['latency_tail'][0]:g}" if ph["latency_tail"] else "none")))
        rows.append((f"generator_late_{name}_ms", ph["generator_late_ms_max"], "ms", "max"))
        rows.append((f"backlog_end_{name}_rows", ph["backlog_end_rows"], "rows",
                     "grew" if ph["backlog_grew"] else "steady"))
    return rows


def layer_metrics(res: dict, events: dict) -> dict:
    """Per-layer figures of a traced stream run. The operators layer is
    summed over every Spark job of the run (live phases, drains, replay)."""
    def tot(key: str) -> float:
        return sum(v.get(key, 0.0) for v in events["groups"].values())

    mb = 1e6
    out = {"stream.build_ms": res["build_ms"], "stream.start_ms": res["start_ms"],
           "streaming.capacity_rows_per_s": res["capacity_rows_per_s"],
           "operators.execute_s": sum(d["wall_s"] for d in res["drains"]),
           "operators.exec_jobs": tot("jobs"),
           "operators.executor_run_s": tot("executor_run_s"),
           "operators.executor_cpu_s": tot("executor_cpu_s"),
           "operators.gc_s": tot("gc_s"),
           "operators.shuffle_read_mb": tot("shuffle_read_bytes") / mb,
           "operators.shuffle_write_mb": tot("shuffle_write_bytes") / mb,
           "operators.spill_mb": tot("spill_bytes") / mb,
           "operators.python_stage_s": tot("python_stage_s"),
           "operators.checkpoint_mb": tot("checkpoint_bytes") / mb,
           "operators.task_skew": task_skew(events["stages"])}
    for name, ph in res["phases"].items():
        pre = f"streaming.{name}."
        out.update({
            pre + "latency_p50_ms": ph["latency_p50_ms"] or 0.0,
            pre + "latency_max_ms": ph["latency_max_ms"],
            pre + "triggers": ph["triggers"],
            pre + "trigger_ms": ph["trigger_ms"],
            pre + "latest_offset_ms": ph["latestOffset_ms"],
            pre + "get_batch_ms": ph["getBatch_ms"],
            pre + "add_batch_ms": ph["addBatch_ms"],
            pre + "query_planning_ms": ph["queryPlanning_ms"],
            pre + "wal_commit_ms": ph["walCommit_ms"],
            pre + "commit_offsets_ms": ph["commitOffsets_ms"],
            pre + "unaccounted_ms": ph["unaccounted_ms"],
            pre + "idle_ms": ph["idle_ms"],
            pre + "state_commit_ms": ph["state_commit_ms"],
            pre + "state_rows": ph["state_rows"],
            pre + "state_mb": ph["state_mb"],
            pre + "rows_per_trigger": ph["rows_per_trigger"],
            pre + "late_rows_dropped": ph["late_rows_dropped"],
            pre + "source_backlog_rows": ph["backlog_end_rows"],
            pre + "generator_late_ms": ph["generator_late_ms_max"],
        })
    return out
