"""Streaming operators with reference semantics.

Mapping (SURVEY.md §1.3/§2.C):
- Watermark message + ClockService global min-clock  → withWatermark
  (reference: streaming/.../source/Watermark.scala:22-36,
  appmaster/ClockService.scala:302-309)
- Watermark.MAX "source drained" → Trigger.AvailableNow completion
  (reference: Watermark.scala:29-36 — MAX means a bounded run finished)
- WindowState sliding/tumbling monoid aggregation → groupBy(window(...))
  with append mode = the reference's single final pane per key×window
  (reference: state/impl/WindowState.scala:48-159;
  Beam default-trigger GBK runtime/BeamGroupByKeyTask.java:51-120)
- NonWindowState running aggregate → update output mode
  (reference: state/impl/NonWindowState.scala:30-48)
- PersistentTask checkpoint/recover → checkpointLocation + replayable
  file source (reference: state/api/PersistentTask.scala:36-98,
  docs/contents/introduction/message-delivery.md:8-13)
"""

from __future__ import annotations

import threading
import time
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def replay_parquet_stream(
    spark: SparkSession, path: str, schema: Any, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A TimeReplayableSource: file source whose offsets live in the
    checkpoint — restart resumes (replays) from the recorded position
    (reference: transaction/api/TimeReplayableSource.scala:25-31)."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


# Flush sentinel: the reference signals "source drained" with Watermark.MAX
# (source/Watermark.scala:29-36), which closes every open window. Spark's
# watermark only ever advances to max-seen-event-time minus delay, so the
# trailing window of a bounded stream never closes in append mode. We emulate
# Watermark.MAX by appending one far-future sentinel row to the source: it
# passes the EventTimeWatermark operator (advancing the watermark past every
# real window) and is filtered out before aggregation.
#
# PITFALL: drop sentinels by a predicate on the EVENT-TIME column only.
# A predicate on any other column (e.g. key == '<flush>') is pushed down to
# the source scan, removing the sentinel before it reaches the
# EventTimeWatermark operator — the watermark silently never advances.
# Predicates on the watermark column itself are not pushed below the
# watermark node, so `ts < FLUSH_TS` is safe.
FLUSH_EPOCH_SEC = 7_000_000_000  # 2191-10-27T12:26:40Z — beyond any real ts
# The SAME instant as FLUSH_EPOCH_SEC, for display/docs: the two constants
# MUST name one boundary — a gap between them would silently discard real
# data. Predicates compare against timestamp_seconds(FLUSH_EPOCH_SEC)
# (a timezone-independent instant), NEVER a cast of this wall-clock string:
# under a non-UTC session timezone the string parses to a different instant
# and the sentinel would survive the filter, emitting a spurious NULL pane.
FLUSH_TS = "2191-10-27 12:26:40"


def before_flush(ts_col: str) -> Column:
    """`ts < Watermark.MAX` as a timezone-independent instant comparison —
    keeps every legitimate row and drops exactly the flush sentinel.
    Safe placement: predicates on the watermark column are not pushed
    below the EventTimeWatermark node (see PITFALL above)."""
    return F.col(ts_col) < F.timestamp_seconds(F.lit(FLUSH_EPOCH_SEC))


def stream_source_path(path: str) -> str:
    """Normalize a fixture path for FileStreamSource, which needs a
    DIRECTORY to derive its basePath: Spark-written fixtures are
    directories (taken directly); driver fixtures are single FILES,
    where a one-char glob on the last character makes the source resolve
    the parent directory while still matching exactly that one file.
    Only datasets.stream_table, the fixture reader, applies it; the
    public readers take user paths as given."""
    import os

    if os.path.isdir(path):
        return path
    return f"{path[:-1]}[{path[-1]}]"


_SENTINEL_ROOT: str | None = None
# Streaming queries sharing a source schema share one sentinel fixture;
# plan-audit harnesses build many query plans concurrently (threads), so
# the once-per-process write must be mutually excluded — without it, two
# threads both see the dir missing and race overwrite-mode writes into
# the same path (observed: FileNotFoundException on a _temporary task
# file mid-commit). Created at import time, so the lock itself cannot
# race.
_SENTINEL_WRITE_LOCK = threading.Lock()


def _sentinel_root() -> str:
    """One process-scoped temp root for flush-sentinel fixtures, removed
    at interpreter exit — registered queries must leave no filesystem
    residue across repeated full-registry runs (ADVICE r9 #1)."""
    global _SENTINEL_ROOT
    if _SENTINEL_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SENTINEL_ROOT = tempfile.mkdtemp(prefix="gearpump_flush_sentinel_")
        atexit.register(shutil.rmtree, _SENTINEL_ROOT, ignore_errors=True)
    return _SENTINEL_ROOT


def flush_sentinel_source(spark: SparkSession, schema: Any, ts_col: str = "ts") -> DataFrame:
    """Watermark.MAX as a second file source: one far-future row matching
    ``schema`` (non-ts fields ride NULL), written ONCE per process per
    schema under the session-scoped temp root and streamed back. Union it
    into the real source to advance the event clock past every open
    window, then drop it with before_flush() after the watermark operator
    (reference: streaming/.../source/Watermark.scala:29-36).

    A bigint ts field is raw epoch NANOS (the nanosAsLong read path)
    rather than a native timestamp."""
    import hashlib
    import os

    ts_is_long = schema[ts_col].dataType.simpleString() == "bigint"

    def _sent_col(field):
        if field.name == ts_col:
            c = (
                F.lit(FLUSH_EPOCH_SEC * 1_000_000_000).cast("bigint")
                if ts_is_long
                else F.timestamp_seconds(F.lit(FLUSH_EPOCH_SEC)).cast(field.dataType)
            )
        else:
            c = F.lit(None).cast(field.dataType)
        return c.alias(field.name)

    key = hashlib.md5(f"{ts_col}|{schema.simpleString()}".encode()).hexdigest()[:12]
    with _SENTINEL_WRITE_LOCK:
        path = os.path.join(_sentinel_root(), key)
        if not os.path.isdir(path):
            # Write to a staging dir and rename so a path that EXISTS is
            # always a COMPLETE fixture — readers outside the lock never
            # observe a half-committed write.
            staging = f"{path}.staging"
            spark.range(1).select(*[_sent_col(f) for f in schema.fields]).coalesce(
                1
            ).write.mode("overwrite").parquet(staging)
            os.rename(staging, path)
    return spark.readStream.schema(schema).parquet(path)


def _duration_us(spec: str) -> int:
    """Parse 'N seconds|minutes|hours|days' to microseconds."""
    n, unit = spec.split()
    mult = {
        "second": 1_000_000, "seconds": 1_000_000,
        "minute": 60_000_000, "minutes": 60_000_000,
        "hour": 3_600_000_000, "hours": 3_600_000_000,
        "day": 86_400_000_000, "days": 86_400_000_000,
    }[unit]
    return int(n) * mult


def assign_windows(
    df: DataFrame, ts_col: str, size: str, step: str | None = None,
    out_col: str = "windows",
) -> DataFrame:
    """Beam Window.Assign semantics (reference:
    experiments/beam/.../translators/WindowAssignTranslator.java:33-48,
    runtime/BeamAssignWindowsTask.java:51-106): attach the *set* of windows
    containing each element as an array column — one row per element, so
    re-windowing (recomputing the column) replaces old windows without
    duplicating elements (GearpumpRunnerIntegrationTest.java:106-122).

    Explode `out_col` at group-by time to get per-pane grouping. All math
    is integer microseconds on JVM-side columns — no UDF, codegen-friendly,
    and the array is bounded by ceil(size/step) entries."""
    sizeu = _duration_us(size)
    stepu = _duration_us(step or size)
    k = -(-sizeu // stepu)  # windows per element
    tsu = F.unix_micros(F.col(ts_col))
    smax = (tsu - F.pmod(tsu, F.lit(stepu))).cast("long")
    cands = F.sequence(smax - F.lit((k - 1) * stepu), smax, F.lit(stepu))
    wins = F.filter(cands, lambda c: (c + F.lit(sizeu)) > tsu)
    wins = F.transform(
        wins,
        lambda c: F.struct(
            F.timestamp_micros(c).alias("start"),
            F.timestamp_micros(c + F.lit(sizeu)).alias("end"),
        ),
    )
    return df.withColumn(out_col, wins)


def run_to_completion(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> DataFrame:
    """Drain a bounded stream to its Watermark.MAX end state and return the
    materialized result: availableNow trigger + memory sink, blocking until
    the source is exhausted (the reference blocks until the global clock
    hits Watermark.MAX, cluster/client/BeamClientContext.scala).
    The sink view is ``query_name`` plus a unique suffix, so concurrent
    runs of one query never share a view."""
    import uuid

    spark = df.sparkSession
    query_name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    writer = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    # Re-base the result on a checkpointed plan so the uuid-named sink
    # view can be dropped immediately — repeated full-registry runs must
    # not accumulate one driver-held memory sink per invocation (ADVICE
    # r9 #1). localCheckpoint stays JVM-side (no Python round-trip); the
    # harnesses' unpersist-between-queries discipline reclaims the blocks.
    out = spark.table(query_name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(query_name)
    return out


def replace_and_restart(running_query, start_replacement, timeout_sec: float = 60.0):
    """Dynamic-DAG operator replacement — the reference's ReplaceProcessor
    (streaming/.../appmaster/DagManager.scala:103-160: pause the app, swap
    the processor in the DAG, resume from the checkpointed min clock).

    Spark's plan is immutable per query, so the same contract maps to:
    stop the running query (committed offsets + operator state land in the
    checkpoint), then start the REPLACEMENT plan against the SAME
    checkpointLocation — the replayable source resumes from the committed
    offsets, so rows already processed by the old plan are neither lost
    nor reprocessed, and rows after the swap point flow through the new
    operator.

    ``start_replacement`` is a zero-arg callable returning the started
    StreamingQuery for the new plan; it MUST reuse the old query's
    checkpointLocation and sink. Spark's recovery rules apply across the
    swap: stateless transformations (map/filter/projection logic) replace
    freely; stateful operators must keep a compatible state schema; the
    number/kind of stateful operators cannot change.
    """
    running_query.stop()
    deadline = time.monotonic() + timeout_sec
    while running_query.isActive:
        if time.monotonic() > deadline:
            raise TimeoutError("old query did not stop within timeout")
        time.sleep(0.05)
    return start_replacement()


def stateful_running_count(
    stream: DataFrame, key_col: str, timeout: str = "NoTimeout"
) -> DataFrame:
    """Custom per-key stateful operator via applyInPandasWithState — the
    PersistentState/PersistentTask user surface (reference:
    state/api/PersistentState.scala:26-56, PersistentTask.scala:36-98):
    recover state, fold each batch, emit updated running value.

    Scale: state is per-key in the state store (RocksDB on a real
    cluster), partitioned by the groupBy key — same sharding as the
    reference's one-hash-state-per-task."""
    from pyspark.sql.streaming.state import GroupState

    def fold(key, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (count,) = state.get if state.exists else (0,)
        for pdf in batches:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"key": [key[0]], "running_count": [count]})

    return stream.withColumnRenamed(key_col, "key").groupBy("key").applyInPandasWithState(
        fold,
        outputStructType="key string, running_count bigint",
        stateStructType="count bigint",
        outputMode="update",
        timeoutConf=timeout,
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark_delay: str = "0 seconds",
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming exact dedup on key columns. With a watermark +
    within_watermark, state for old keys is dropped once they can no longer
    recur — the reference's replay story (TimeStampFilter,
    transaction/api/TimeStampFilter.scala:23-25) drops re-delivered records
    the same way: anything behind the recovered clock is a duplicate.
    Identity semantics: with ts_col (and within_watermark=False) a
    duplicate is a re-delivered record — same keys AND same event time —
    matching the replay story above; state never expires, so only use it
    on bounded runs. within_watermark=True dedups on the key columns alone
    with state expiring at the watermark (requires ts_col).
    Scale: state is hash-partitioned by key in the state store; without a
    watermark the state grows forever — always bound it."""
    if within_watermark and ts_col is None:
        raise ValueError("within_watermark dedup needs ts_col (a watermark)")
    s = stream.withWatermark(ts_col, watermark_delay) if ts_col else stream
    cols = keys if ts_col is None else [*keys, ts_col]
    if within_watermark:
        return s.dropDuplicatesWithinWatermark(keys)
    return s.dropDuplicates(cols)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    left_delay: str = "0 seconds",
    right_delay: str = "0 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition:
    right_ts in [left_ts - lower, left_ts + upper]. Both sides buffered in
    watermark-bounded state (Spark evicts rows once they can no longer
    match — the interval plus both watermarks bound state size; without
    them a stream-stream join is unbounded). The reference cannot join
    streams at all (SURVEY.md §2.F)."""
    l = left.withWatermark(left_ts, left_delay).alias("l")
    r = right.withWatermark(right_ts, right_delay).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)


def stream_scd2_enrich(
    stream: DataFrame,
    history: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Temporal enrichment of an event stream against an SCD Type-2
    dimension history (operators/temporal.py scd2_history): each event
    joins the dimension VERSION that was valid at its event time —
    key match + ts in [valid_from, valid_to), open versions (NULL
    valid_to) match everything from valid_from on. The classic
    "price/plan as of the click" lookup; joining the CURRENT version
    instead silently rewrites history for late or replayed events.

    Stream-static join: the dimension side is a batch frame, re-read
    per micro-batch (so a MERGE/SCD2 refresh lands without restarting
    the query), no state store involved; Spark broadcasts it when small.
    At 100 TB of history, bucket the dim by key so the per-batch join
    is co-located."""
    s, h = stream.alias("s"), history.alias("h")
    cond = (
        (F.col(f"s.{key}") == F.col(f"h.{key}"))
        & (F.col(f"s.{ts_col}") >= F.col(f"h.{valid_from}"))
        & (
            F.col(f"h.{valid_to}").isNull()
            | (F.col(f"s.{ts_col}") < F.col(f"h.{valid_to}"))
        )
    )
    return s.join(h, cond, how).drop(F.col(f"h.{key}"))


def monoid_windowed_state(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    window_size: str,
    plus,
    zero,
    lift,
    watermark_delay: str = "0 seconds",
    drop_flush_sentinel: bool = False,
    state_codec=None,
    finalize=None,
) -> DataFrame:
    """The reference's WindowState as a custom stateful operator
    (state/impl/WindowState.scala:48-159 keeps per-window monoid partials
    and finalizes a window when the clock passes its end; monoid contract
    state/api/Monoid.scala:17-24).

    Implemented on applyInPandasWithState with event-time timeouts:
    state = {window_start_ms: partial}; each batch folds its rows into
    partials (plus is associative — partial aggregation order never
    matters, the reference's exactly-once argument); when the watermark
    passes a window's end, that pane is emitted once (append semantics)
    and its slot freed.

    The Stream API's `KeyedStream.windowed(...).agg(...)` compiles to
    Spark's native window agg — use THAT for sums/counts; this operator
    is the extension seam for monoids Spark lacks (custom sketches,
    CRDTs). `lift` maps a pandas Series of values to the monoid; `plus`
    combines; `zero` is identity.

    ``state_codec`` generalizes the monoid VALUE beyond a scalar: an
    (encode: value -> str, decode: str -> value) pair stores each open
    window's partial as a STRING in the state store, so register arrays /
    sketch payloads / CRDT states ride the same operator (see
    ``hll_monoid`` — the Algebird-style HyperLogLog monoid this contract
    was built to host). ``finalize`` maps the closed partial to the
    emitted double (default float()) — e.g. the HLL cardinality estimate
    of the merged registers. Defaults keep the original scalar behavior
    and state schema bit-for-bit.

    Scale: state is per (key, open windows) — the watermark bounds open
    windows per key to ceil(delay/size)+1, same bound as the reference's
    TreeMap of intervals. With a codec, per-window state size is the
    encoded value (e.g. 2^b HLL registers), constant in the data.
    """
    # applyInPandasWithState, not Spark 4's transformWithStateInPandas:
    # the latter's driver worker needs the `protobuf` package, which this
    # package does not depend on.
    from pyspark.sql.streaming.state import GroupState

    size_ms = _duration_us(window_size) // 1000
    # applyInPandasWithState hands pandas tz-NAIVE timestamps rendered in
    # the session timezone, but getCurrentWatermarkMs() is UTC epoch ms —
    # capture the session tz so window math happens in true epoch space
    # (and render outputs back to session-naive). The engine pins UTC
    # (session.py), where this is an identity.
    tz = stream.sparkSession.conf.get("spark.sql.session.timeZone")
    enc, dec = state_codec if state_codec else (float, float)
    fin = finalize if finalize else float
    state_value_type = "string" if state_codec else "double"

    def fold(key, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            starts, stored = state.get
            partials: dict[int, Any] = {s: dec(p) for s, p in zip(starts, stored)}
        else:
            partials = {}
        if not state.hasTimedOut:
            for pdf in batches:
                epoch_ms = (
                    pdf[ts_col].dt.tz_localize(tz).astype("int64") // 1_000_000
                ).astype("int64")
                starts = (epoch_ms // size_ms) * size_ms
                for w_start, group in pdf.groupby(starts):
                    partials[int(w_start)] = plus(
                        partials.get(int(w_start), zero), lift(group)
                    )
        wm = state.getCurrentWatermarkMs()
        closed = sorted(w for w in partials if w + size_ms <= wm)
        out = pd.DataFrame(
            {
                "key": [key[0]] * len(closed),
                "window_start": pd.to_datetime(
                    [w * 1_000_000 for w in closed], unit="ns", utc=True
                )
                .tz_convert(tz)
                .tz_localize(None),
                "result": [fin(partials.pop(w)) for w in closed],
            }
        )
        if partials:
            ks, vs = zip(*sorted(partials.items()))
            state.update((list(ks), [enc(v) for v in vs]))
            state.setTimeoutTimestamp(min(ks) + size_ms)
        else:
            state.remove()
        if len(out):
            yield out

    s = stream.withWatermark(ts_col, watermark_delay)
    if drop_flush_sentinel:
        s = s.filter(before_flush(ts_col))
    return (
        s.withColumnRenamed(key_col, "key")
        .groupBy("key")
        .applyInPandasWithState(
            fold,
            outputStructType="key string, window_start timestamp, result double",
            stateStructType=f"starts array<bigint>, partials array<{state_value_type}>",
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def hll_monoid(b: int = 10, value_col: str = "v") -> dict:
    """HyperLogLog registers as a WindowState monoid — the Algebird-style
    sketch monoid the reference's Monoid contract exists to host
    (state/api/Monoid.scala:17-24; Gearpump's state docs demo AlgeBird
    aggregators the same way). Returns kwargs for monoid_windowed_state:

        zero     = 2^b zeroed registers
        lift     = per-batch register maxima over H.py_hash15(value, 0),
                   hll_register_table's hash and rho rule: idx = low b
                   bits, rho = leading-zeros+1 of the remaining 60-b
        plus     = elementwise max (associative, commutative, idempotent
                   — merging partials across batches/windows/partitions
                   is order-free, the exactly-once argument)
        finalize = the HLL estimate: alpha_m * m^2 / sum(2^-reg), with
                   the standard linear-counting small-range correction
        state_codec = csv string of the registers (constant 2^b ints per
                   open window in the state store, data-size-free)

    Streaming approximate COUNT DISTINCT per event-time window in
    bounded memory: the exact equivalent needs per-window value SETS
    (unbounded state), which is why Spark itself ships approx HLL aggs
    for batch but nothing windowed-streaming-custom — this composes the
    engine's monoid seam with its sketch family instead. The registers
    equal operators/sketches.py hll_register_table's (seed 0) over the
    same rows, so a streamed window can be checked against a batch replay.
    """
    import math

    from gearpump_spark.functions.hash import py_hash15

    m = 1 << b

    def lift(g) -> list[int]:
        regs = [0] * m
        for v in g[value_col]:
            h = py_hash15(v, 0)
            idx = h & (m - 1)
            w = h >> b
            rho = (60 - b) - w.bit_length() + 1
            if rho > regs[idx]:
                regs[idx] = rho
        return regs

    def plus(a: list[int], c: list[int]) -> list[int]:
        return [x if x >= y else y for x, y in zip(a, c)]

    def finalize(regs: list[int]) -> float:
        alpha = 0.7213 / (1 + 1.079 / m)
        est = alpha * m * m / sum(2.0 ** -r for r in regs)
        zeros = regs.count(0)
        if est <= 2.5 * m and zeros:
            est = m * math.log(m / zeros)
        return float(est)

    return {
        "plus": plus,
        "zero": [0] * m,
        "lift": lift,
        "finalize": finalize,
        "state_codec": (
            lambda v: ",".join(map(str, v)),
            lambda s: [int(x) for x in s.split(",")],
        ),
    }


def kmv_monoid(k: int = 64, value_col: str = "v", seed: int = 4) -> dict:
    """KMV (k-minimum-values) distinct sketch as a WindowState monoid —
    the engine-exact sibling of ``hll_monoid`` (same seam, same state
    discipline; operators/sketches.py kmv_distinct is the batch form).
    Returns kwargs for monoid_windowed_state:

        zero     = empty min-set
        lift     = the k smallest seeded-md5 hashes of a batch's values
        plus     = merge two min-sets, keep the k smallest (associative,
                   commutative, idempotent — order-free partial merging)
        finalize = (k-1)·2^60/h_(k) when the set is full; EXACT distinct
                   count (= set size) while fewer than k distincts have
                   been seen — KMV's small-range regime is exact, not
                   approximate, which HLL cannot offer
        state_codec = csv of ≤ k bigints per open window (bounded state)

    Streaming approximate COUNT DISTINCT per event-time window whose
    estimator is bit-reproducible across engines and runs — the batch
    query `sketch_kmv_distinct` hash-matches DuckDB with the same
    formula, so streaming results can be audited against a batch replay.
    """
    from gearpump_spark.functions.hash import py_hash15

    def lift(g) -> list[int]:
        return sorted({py_hash15(v, seed) for v in g[value_col]})[:k]

    def plus(a: list[int], c: list[int]) -> list[int]:
        return sorted(set(a) | set(c))[:k]

    def finalize(mins: list[int]) -> float:
        if len(mins) < k:
            return float(len(mins))  # small-range regime: exact
        return float(k - 1) * float(1 << 60) / float(mins[-1])

    return {
        "plus": plus,
        "zero": [],
        "lift": lift,
        "finalize": finalize,
        "state_codec": (
            lambda v: ",".join(map(str, v)),
            lambda s: [int(x) for x in s.split(",")] if s else [],
        ),
    }
