"""Tracing for the per-layer run, and the probes both runs use.

- ``Tracer`` records a span around each call the benchmark makes into a
  repository module (name, start, end, parent); spans stay in memory and
  are written once at exit. ``NullTracer`` is the untraced stand-in.
- ``ProgressListener`` captures every trigger's progress event through
  Spark's StreamingQueryListener.
- ``read_event_log`` folds Spark's plain-JSON event log into per-job-group
  stage and task totals.
- ``RssSampler`` tracks the peak resident memory (PSS) of the JVM and the
  Python workers it forks, from /proc.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


_T0 = time.time()


def log(msg: str) -> None:
    """One progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench +{time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield

    def job_group(self, spark, group: str) -> None:
        pass

    def write(self, path: str) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def job_group(self, spark, group: str) -> None:
        """Tag the Spark jobs that follow, so the event log attributes
        their stages to ``group`` ('<query>|construct|<rep>' and the like)."""
        spark.sparkContext.setJobGroup(group, group)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event as a plain dict, tagged with the query
    name. Unlike StreamingQuery.recentProgress it has no 100-entry cap."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_query(self, name: str, since_batch: int = -1) -> list[dict]:
        with self._lock:
            return [p for p in self.events if p.get("name") == name and p["batchId"] > since_batch]


# Plan nodes that run rows through Python worker processes.
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "PythonMapInArrow", "ArrowWindowPython", "PythonUDTF")


def read_event_log(path: str) -> dict:
    """Fold a plain-JSON event log into per-job-group totals.

    Returns {"groups": {group: totals}, "stages": [stage records]} where
    each group's totals hold job and stage counts, executor run/CPU/GC
    seconds, input, shuffle and spill bytes, Python-stage run seconds and
    parquet-read jobs; block updates give checkpointed bytes per group.
    """
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    stage_python: dict[int, bool] = {}
    stage_name: dict[int, str] = {}
    stage_tasks: dict[tuple[int, int], list[float]] = defaultdict(list)
    stage_span: dict[tuple[int, int], tuple[int, int]] = {}
    g = defaultdict(lambda: defaultdict(float))
    blocks: dict[str, tuple[str, float]] = {}
    active_group = None
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id") or "untagged"
                job_group[ev["Job ID"]] = grp
                g[grp]["jobs"] += 1
                names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
                if names and all(n.startswith("parquet at") for n in names):
                    g[grp]["parquet_read_jobs"] += 1
                for sinfo in ev.get("Stage Infos", []):
                    sid = sinfo["Stage ID"]
                    stage_group.setdefault(sid, grp)
                    stage_name[sid] = sinfo.get("Stage Name", "")
                    scopes = " ".join(r.get("Scope", "") or "" for r in sinfo.get("RDD Info", []))
                    scopes += " " + " ".join(r.get("Name", "") or "" for r in sinfo.get("RDD Info", []))
                    stage_python[sid] = any(n in scopes for n in PYTHON_NODES)
                active_group = grp
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid, att = info["Stage ID"], info.get("Stage Attempt ID", 0)
                grp = stage_group.get(sid, "untagged")
                g[grp]["stages"] += 1
                if "Submission Time" in info and "Completion Time" in info:
                    stage_span[(sid, att)] = (info["Submission Time"], info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                sid, att = ev["Stage ID"], ev.get("Stage Attempt ID", 0)
                grp = stage_group.get(sid, "untagged")
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                acc = g[grp]
                acc["tasks"] += 1
                acc["executor_run_s"] += run_ms / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                if stage_python.get(sid):
                    acc["python_stage_s"] += run_ms / 1e3
                stage_tasks[(sid, att)].append(run_ms)
            elif kind == "SparkListenerBlockUpdated":
                info = ev.get("Block Updated Info") or {}
                bid = str((info.get("Block ID") or ""))
                if bid.startswith("rdd_"):
                    size = (info.get("Memory Size") or 0) + (info.get("Disk Size") or 0)
                    if size:
                        prev = blocks.get(bid)
                        grp = prev[0] if prev else (active_group or "untagged")
                        blocks[bid] = (grp, max(size, prev[1] if prev else 0))
    for grp, size in blocks.values():
        g[grp]["checkpoint_bytes"] += size
    stages = []
    for (sid, att), tasks in stage_tasks.items():
        sub, done = stage_span.get((sid, att), (0, 0))
        stages.append({"stage": sid, "group": stage_group.get(sid, "untagged"),
                       "name": stage_name.get(sid, ""), "wall_ms": done - sub,
                       "task_ms": sorted(tasks)})
    return {"groups": {k: dict(v) for k, v in g.items()}, "stages": stages}


def task_skew(stages: list[dict]) -> float:
    """Max over median task run time in the longest stage (by wall time)."""
    stages = [s for s in stages if s["task_ms"]]
    if not stages:
        return 0.0
    tasks = max(stages, key=lambda s: s["wall_ms"])["task_ms"]
    mid = statistics.median(tasks)
    return max(tasks) / mid if mid else float(len(tasks))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f"{f.read().strip()}:{pid}"
    except OSError:
        return str(pid)


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared between
    processes split among them. A plain RSS sum counts a process the JVM
    has just forked (Hadoop's local file system forks for shell commands)
    a second time in full."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory (as PSS) of every descendant of
    this process (the JVM and the Python workers it forks; the harness
    itself is left out) every ``interval`` s on a daemon thread and keeps
    the peak. ``paused()`` leaves the benchmark's own checking out of the
    peak."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._paused = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        if self._paused.is_set():
            return
        parts = {p: _pss_kb(p) for p in descendants(os.getpid())}
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_parts = {_comm(p): kb // 1024 for p, kb in parts.items() if kb}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    @contextlib.contextmanager
    def paused(self):
        self._sample()
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._sample()
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0
