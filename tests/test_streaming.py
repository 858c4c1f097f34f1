"""Streaming semantics tests — direct ports of the reference's golden
integration tests (FIXTURES.md §B; reference:
experiments/beam/.../GearpumpRunnerIntegrationTest.java) plus watermark
late-data semantics (Subscription.scala:103-104 drops out-of-lifetime
messages; Spark drops behind-watermark rows)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from gearpump_spark.stream import Stream
from gearpump_spark.streaming import (
    FLUSH_EPOCH_SEC,
    FLUSH_TS,
    assign_windows,
    before_flush,
    replay_parquet_stream,
    run_to_completion,
)

TS = "ts"


def _kv_df(spark, rows):
    """rows: (key, value, epoch_seconds)"""
    df = spark.createDataFrame(rows, "k string, v long, sec long")
    return df.select("k", "v", F.timestamp_seconds("sec").alias(TS))


def _bump_mtimes(path, order):
    """Force strictly-increasing mtimes in write order so the file source
    replays chunks deterministically (FileStreamSource orders by mtime)."""
    base = time.time() - 1000
    for i, names in enumerate(order):
        for f in names:
            os.utime(f, (base + i, base + i))


def _stream_from_rows(spark, chunks, tmp_path, name, flush=False):
    """Write each chunk of rows as one parquet file (strictly ordered
    mtimes) and open as a replayable file-source stream. flush=True appends
    a far-future sentinel chunk — the Watermark.MAX analog."""
    path = str(tmp_path / name)
    schema = _kv_df(spark, chunks[0]).schema
    if flush:
        chunks = list(chunks) + [[("\x00flush", 0, FLUSH_EPOCH_SEC)]]
    written = []
    for chunk in chunks:
        before = set(os.listdir(path)) if os.path.isdir(path) else set()
        _kv_df(spark, chunk).coalesce(1).write.mode("append").parquet(path)
        new = [f"{path}/{f}" for f in set(os.listdir(path)) - before if f.endswith(".parquet")]
        written.append(new)
    _bump_mtimes(path, written)
    return replay_parquet_stream(spark, path, schema, max_files_per_trigger=1)


# GearpumpRunnerIntegrationTest.java:79-88 — GroupByKey sums: KV(a,1),(a,2),(b,5)
def test_gbk_sums(spark, tmp_path):
    stream = _stream_from_rows(spark, [[("a", 1, 0), ("a", 2, 5), ("b", 5, 3)]], tmp_path, "gbk")
    out = run_to_completion(
        stream.groupBy("k").agg(F.sum("v").alias("total")),
        "gbk_sums",
        output_mode="complete",
    )
    assert {(r.k, r.total) for r in out.collect()} == {("a", 3), ("b", 5)}


# GearpumpRunnerIntegrationTest.java:90-104 — fixed 10s windows over
# elements at 0s/5s/15s → panes {a:[1,2]} and {a:[5]}
def test_fixed_window_gbk(spark, tmp_path):
    stream = _stream_from_rows(
        spark, [[("a", 1, 0), ("a", 2, 5), ("a", 5, 15)]], tmp_path, "fixw", flush=True
    )
    agg = (
        Stream(stream, TS).with_watermark("0 seconds").filter(before_flush(TS))
        .key_by("k").windowed("10 seconds")
        .agg(F.sum("v").alias("total"), F.count("*").alias("n")).to_df()
    )
    out = run_to_completion(agg, "fixed_window_gbk", output_mode="append").collect()
    panes = {(r.window.start.second, r.total, r.n) for r in out}
    assert panes == {(0, 3, 2), (10, 5, 1)}


# GearpumpRunnerIntegrationTest.java:106-122 — re-windowing sliding(10s,5s)
# to fixed 10s must not duplicate elements. Beam model: windows are a SET
# attached to each element (WindowedValue), so assignment is an array column
# and re-assignment replaces it (assign_windows).
def test_rewindow_no_duplication(spark):
    df = _kv_df(spark, [("a", 1, 0), ("a", 2, 5), ("a", 5, 15)])
    sliding = assign_windows(df, TS, "10 seconds", "5 seconds")
    assert sliding.count() == 3  # one row per element, windows in the array
    memberships = sliding.select(F.explode("windows")).count()
    assert memberships == 6  # each element in size/step = 2 sliding windows
    refixed = assign_windows(sliding, TS, "10 seconds")  # replaces the column
    assert refixed.count() == 3  # re-assignment replaces, never duplicates
    per_window = {
        (r.window.start.second, r.n)
        for r in refixed.select(F.explode("windows").alias("window"))
        .groupBy("window").agg(F.count("*").alias("n")).collect()
    }
    assert per_window == {(0, 2), (10, 1)}


# GearpumpRunnerIntegrationTest.java:124-139 — EARLIEST timestamp combiner:
# the pane's output timestamp is the earliest input timestamp
def test_timestamp_combiner_earliest(spark, tmp_path):
    stream = _stream_from_rows(
        spark, [[("a", 1, 1), ("a", 2, 2), ("b", 5, 3)]], tmp_path, "tscomb", flush=True
    )
    agg = (
        Stream(stream, TS).with_watermark("0 seconds").filter(before_flush(TS))
        .key_by("k").windowed("10 seconds")
        .agg(F.sum("v").alias("total"), F.min(TS).alias("out_ts")).to_df()
    )
    out = {(r.k, r.total, r.out_ts.second) for r in
           run_to_completion(agg, "ts_combiner", output_mode="append").collect()}
    assert out == {("a", 3, 1), ("b", 5, 3)}


# Late-data drop: the reference silently drops messages outside a
# processor's LifeTime at send (Subscription.scala:103-104); Spark drops
# rows behind the watermark once a later run advanced it. The watermark is
# part of the checkpoint (the reference persists its clock the same way —
# TaskRegistered(startClock), TaskActor.scala:95-144), so a restarted query
# judges stragglers against the recovered clock.
def test_late_data_dropped_behind_watermark(spark, tmp_path):
    path, ck, out = (str(tmp_path / d) for d in ("late", "ck", "out"))
    schema = "k string, v long, ts timestamp"

    def run_drain():
        stream = replay_parquet_stream(spark, path, schema)
        agg = (
            Stream(stream, TS).with_watermark("10 seconds")
            .key_by("k").windowed("10 seconds").agg(F.sum("v").alias("total")).to_df()
        )
        q = (
            agg.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    # run 1: events up to t=120s → checkpointed watermark = 120s - 10s delay
    _kv_df(spark, [("a", 1, 5), ("a", 2, 120)]).coalesce(1).write.mode("append").parquet(path)
    run_drain()
    # run 2: a straggler at t=7s, far behind the recovered watermark
    _kv_df(spark, [("a", 99, 7)]).coalesce(1).write.mode("append").parquet(path)
    run_drain()

    totals = {(r.window.start.second, r.total) for r in spark.read.parquet(out).collect()}
    # the [0,10s) pane closed with only v=1; the late v=99 never appears
    assert (0, 1) in totals
    assert not any(t == 100 or t == 99 for _, t in totals)


# Streaming wordcount (update mode) must agree with the batch operator —
# the reference's canonical example run both ways (Split/Sum tasks).
def test_streaming_wordcount_matches_batch(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch_counts = {
        (r.word, r.n)
        for r in (
            docs.select(F.explode(F.split("text", r"\s+")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("n")).collect()
        )
    }
    # FileStreamSource needs a directory — stage the table into one
    tmp = f"/tmp/gear_stream_docs_{os.getpid()}"
    docs.write.mode("overwrite").parquet(tmp)
    stream = replay_parquet_stream(spark, tmp, docs.schema)
    counts = (
        stream.select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    out = run_to_completion(counts, "stream_wc", output_mode="complete")
    assert {(r.word, r.n) for r in out.collect()} == batch_counts


# Streaming windowed aggregation over the events table == batch window query
def test_streaming_windowed_agg_matches_batch(spark, sf_dir):
    from gearpump_spark.datasets import table

    ev = table(spark, sf_dir, "events")
    batch = {
        (r.ws, r.n)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
        .collect()
    }
    # events.parquet is TIMESTAMP(NANOS): stream the pre-converted frame out
    # through a temp parquet copy with µs timestamps
    stream_src = ev  # already µs via datasets.table
    tmp = f"/tmp/gear_stream_events_{os.getpid()}"
    stream_src.write.mode("overwrite").parquet(tmp)
    # append the Watermark.MAX sentinel so the trailing window closes
    spark.createDataFrame([(FLUSH_EPOCH_SEC,)], "sec long").select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in stream_src.schema if f.name != "ts"],
        F.timestamp_seconds("sec").alias("ts"),
    ).selectExpr(*[f.name for f in stream_src.schema]).coalesce(1).write.mode("append").parquet(tmp)
    stream = replay_parquet_stream(spark, tmp, stream_src.schema)
    agg = (
        Stream(stream, "ts").with_watermark("0 seconds").filter(before_flush("ts"))
        .key_by().windowed("1 hour").agg(F.count("*").alias("n")).to_df()
    )
    out = run_to_completion(agg, "stream_win", output_mode="append")
    got = {(r.window.start, r.n) for r in out.collect()}
    assert got == batch


# Session windows under a watermark: events at 0/10/100/115s with a 30s gap
# form sessions [0,10] and [100,115] per key. The reference REJECTS merging
# windows (GroupByKeyTranslator.java:43-47) — this is strict upside.
def test_session_window_stream(spark, tmp_path):
    stream = _stream_from_rows(
        spark,
        [[("a", 1, 0), ("a", 2, 10), ("a", 3, 100), ("a", 4, 115), ("b", 9, 50)]],
        tmp_path, "sess", flush=True,
    )
    agg = (
        Stream(stream, TS).with_watermark("0 seconds").filter(before_flush(TS))
        .key_by(F.session_window(TS, "30 seconds").alias("session"), "k")
        .agg(F.sum("v").alias("total"), F.count("*").alias("n")).to_df()
    )
    out = run_to_completion(agg, "sess_win", output_mode="append").collect()
    got = {(r.k, r.session.start.second + 60 * r.session.start.minute, r.total, r.n) for r in out}
    assert got == {("a", 0, 3, 2), ("a", 100, 7, 2), ("b", 50, 9, 1)}


# Streaming dedup: replayed duplicates (same key) collapse to one row —
# the reference's replay story (TimeStampFilter drops re-delivered rows).
def test_stream_dedup(spark, tmp_path):
    from gearpump_spark.streaming import stream_dedup

    stream = _stream_from_rows(
        spark,
        [[("a", 1, 5), ("b", 2, 6)], [("a", 1, 5), ("c", 3, 7)]],  # batch 2 replays a@5
        tmp_path, "dedup",
    )
    out = run_to_completion(
        stream_dedup(stream, ["k", "v"]), "sdedup", output_mode="append"
    )
    rows = [(r.k, r.v) for r in out.collect()]
    assert sorted(rows) == [("a", 1), ("b", 2), ("c", 3)]


# Stream-stream interval join: purchase joins the clicks within 10s before it.
def test_stream_stream_interval_join(spark, tmp_path):
    from gearpump_spark.streaming import stream_stream_interval_join

    clicks = _stream_from_rows(
        spark, [[("u1", 1, 100), ("u1", 2, 104), ("u1", 3, 200)]], tmp_path, "clicks"
    ).withColumnRenamed("v", "click_id")
    buys = _stream_from_rows(
        spark, [[("u1", 77, 105)]], tmp_path, "buys"
    ).withColumnRenamed("v", "buy_id").withColumnRenamed("ts", "buy_ts")

    joined = stream_stream_interval_join(
        buys, clicks, key="k", left_ts="buy_ts", right_ts="ts",
        lower="10 seconds", upper="0 seconds",
    )
    out = run_to_completion(
        joined.select("buy_id", "click_id"), "ssj", output_mode="append"
    )
    assert sorted((r.buy_id, r.click_id) for r in out.collect()) == [(77, 1), (77, 2)]


# WindowState monoid analog: MAX is a monoid Spark's built-in windowed agg
# also has — perfect for cross-checking the custom state operator against
# the native plan.
def test_monoid_windowed_state_matches_native(spark, tmp_path):
    from gearpump_spark.streaming import monoid_windowed_state

    rows = [[("a", 3, 1), ("a", 9, 4), ("a", 5, 12), ("b", 7, 2)],
            [("a", 1, 13), ("b", 2, 21)]]
    stream = _stream_from_rows(spark, rows, tmp_path, "monoid", flush=True)
    out = monoid_windowed_state(
        stream, key_col="k", ts_col=TS, window_size="10 seconds",
        plus=max, zero=float("-inf"), lift=lambda g: g["v"].max(),
        drop_flush_sentinel=True,
    )
    got = {
        (r.key, r.window_start.second + 60 * r.window_start.minute, r.result)
        for r in run_to_completion(out, "monoid_win", output_mode="append").collect()
    }
    # native equivalent on the same (batch) data
    flat = [t for chunk in rows for t in chunk]
    native = {
        (r.k, r.window.start.second + 60 * r.window.start.minute, float(r.mx))
        for r in _kv_df(spark, flat)
        .groupBy(F.window(TS, "10 seconds").alias("window"), "k")
        .agg(F.max("v").alias("mx")).collect()
    }
    assert got == native


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: enrich a fact stream with a small dimension.
    The dim side must broadcast per micro-batch (no state store, no
    watermark needed) — the standard dimension-enrichment pattern."""
    dim = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "k string, label string"
    )
    stream = _stream_from_rows(
        spark, [[("a", 1, 10), ("b", 2, 20)], [("a", 3, 30), ("c", 4, 40)]],
        tmp_path, "ss_join",
    )
    joined = stream.join(F.broadcast(dim), "k", "left")
    out = run_to_completion(joined, "ss_join_out").collect()
    got = {(r.k, r.v, r.label) for r in out}
    assert got == {
        ("a", 1, "alpha"), ("b", 2, "beta"), ("a", 3, "alpha"), ("c", 4, None),
    }


def test_stream_stream_interval_join_left_outer(spark, tmp_path):
    """Outer stream-stream join: unmatched left rows emit with nulls only
    after both watermarks pass their eligibility window (state-bounded)."""
    from gearpump_spark.streaming import stream_stream_interval_join

    # two flush-sentinel chunks: watermark advances in the first sentinel
    # batch, and the *next* batch performs the eviction that emits the
    # null-padded unmatched rows.
    sentinel = ("\x00flush", 0, FLUSH_EPOCH_SEC)
    buys = _stream_from_rows(
        spark, [[("u1", 77, 105), ("u2", 88, 300)], [sentinel], [sentinel]],
        tmp_path, "lo_buys",
    ).withColumnRenamed("v", "buy_id").withColumnRenamed("ts", "buy_ts")
    clicks = _stream_from_rows(
        spark, [[("u1", 1, 100), ("u1", 2, 104)], [sentinel], [sentinel]],
        tmp_path, "lo_clicks",
    ).withColumnRenamed("v", "click_id")

    # Drop sentinels by their EVENT-TIME columns, not by key: a key
    # predicate is pushed down to the parquet scan, which would remove the
    # sentinel rows before they ever reach the EventTimeWatermark operator
    # (the watermark would never advance). Predicates on the watermark
    # column itself are not pushed below the watermark node.
    flush = F.timestamp_seconds(F.lit(FLUSH_EPOCH_SEC))
    joined = stream_stream_interval_join(
        buys, clicks, key="k", left_ts="buy_ts", right_ts="ts",
        lower="10 seconds", upper="0 seconds", how="left_outer",
    ).filter((F.col("buy_ts") < flush) & (F.col("ts").isNull() | (F.col("ts") < flush)))
    out = run_to_completion(
        joined.select("buy_id", "click_id"), "ssj_lo", output_mode="append"
    )
    got = sorted(
        [(r.buy_id, r.click_id) for r in out.collect()],
        key=lambda t: (t[0], t[1] if t[1] is not None else -1),
    )
    assert got == [(77, 1), (77, 2), (88, None)]


# Property test (SURVEY §5: the reference property-tests its Window math,
# streaming/.../state/impl/WindowSpec.scala) — assign_windows must agree
# with the definitional set {s : s ≡ 0 (mod step), s ≤ t < s+size} for
# arbitrary timestamps and window geometries.
from hypothesis import given, settings, strategies as st


@settings(max_examples=12, deadline=None)
@given(
    secs=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
    size_s=st.integers(min_value=1, max_value=120),
    step_frac=st.integers(min_value=1, max_value=4),
)
def test_assign_windows_property(spark, secs, size_s, step_frac):
    step_s = max(1, size_s // step_frac)
    df = spark.createDataFrame([(s,) for s in secs], "sec long").select(
        F.timestamp_seconds("sec").alias(TS), "sec"
    )
    got = {
        (r.sec, tuple(sorted((w.start.timestamp(), w.end.timestamp()) for w in r.windows)))
        for r in assign_windows(df, TS, f"{size_s} seconds", f"{step_s} seconds").collect()
    }
    expect = set()
    for t in secs:
        wins = []
        s = t - (t % step_s)
        while s + size_s > t:
            wins.append((float(s), float(s + size_s)))
            s -= step_s
            if s < t - size_s:
                break
        expect.add((t, tuple(sorted(wins))))
    assert got == expect


def test_stream_dedup_requires_ts_for_within_watermark(spark):
    from gearpump_spark.streaming.core import stream_dedup

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="needs ts_col"):
        stream_dedup(df, ["value"], ts_col=None, within_watermark=True)


def test_flush_constants_name_one_instant():
    from datetime import datetime, timezone

    from gearpump_spark.streaming.core import FLUSH_EPOCH_SEC, FLUSH_TS

    instant = datetime.fromtimestamp(FLUSH_EPOCH_SEC, tz=timezone.utc)
    assert instant.strftime("%Y-%m-%d %H:%M:%S") == FLUSH_TS


def test_before_flush_timezone_independent(spark):
    """ADVICE r9 #4: the sentinel-drop predicate must name the
    FLUSH_EPOCH_SEC *instant*, not a wall-clock string — under a
    positive-offset session timezone a string cast parses to a different
    instant and the sentinel survives the filter (a spurious NULL pane)."""
    from gearpump_spark.streaming.core import FLUSH_EPOCH_SEC, before_flush

    df = spark.createDataFrame(
        [(FLUSH_EPOCH_SEC,), (FLUSH_EPOCH_SEC - 1,)], "sec long"
    ).select(F.timestamp_seconds("sec").alias("ts"), "sec")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "Asia/Tokyo", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            kept = [r.sec for r in df.filter(before_flush("ts")).collect()]
            assert kept == [FLUSH_EPOCH_SEC - 1], tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stream_source_path_shapes(tmp_path):
    """Both fixture shapes resolve: a single FILE becomes a one-char glob
    (FileStreamSource derives basePath from the parent dir), a
    Spark-written DIRECTORY passes through untouched (ADVICE r9 #2)."""
    from gearpump_spark.streaming.core import stream_source_path

    d = tmp_path / "events.parquet"
    d.mkdir()
    assert stream_source_path(str(d)) == str(d)
    f = tmp_path / "docs.parquet"
    f.write_bytes(b"x")
    assert stream_source_path(str(f)) == str(tmp_path / "docs.parque[t]")


def test_dedup_then_window_pipeline(spark, tmp_path):
    """Composed streaming pipeline: replay-duplicate rows are dropped by
    stream_dedup BEFORE the windowed aggregate, so each logical record
    counts once per pane — the reference's replay story end-to-end."""
    from gearpump_spark.streaming.core import stream_dedup

    chunks = [
        [("a", 1, 2), ("a", 2, 7)],
        [("a", 2, 7), ("b", 5, 3)],  # ("a",2,7) re-delivered
    ]
    stream = _stream_from_rows(spark, chunks, tmp_path, "dw_pipe", flush=True)
    deduped = stream_dedup(stream, ["k", "v"], ts_col=TS)
    agg = (
        Stream(deduped, TS).filter(before_flush(TS))  # stream_dedup set the watermark
        .key_by("k").windowed("10 seconds")
        .agg(F.sum("v").alias("total"), F.count("*").alias("n")).to_df()
    )
    out = run_to_completion(agg, "dw_pipe_out", output_mode="append").collect()
    panes = {(r.k, r.window.start.second, r.total, r.n) for r in out}
    assert panes == {("a", 0, 3, 2), ("b", 0, 5, 1)}


def test_streaming_trending_topk_foreachbatch(spark, tmp_path):
    """Per-window top-k in a stream: rank functions are not allowed inside
    a streaming aggregation, so the trending board is windowed counts
    (stateful, incremental) + a foreachBatch rank over the tiny aggregate
    — the streaming twin of q_window_topk_trending. At scale the ranked
    side is O(windows × keys), never O(events)."""
    from pyspark.sql import Window as W

    stream = _stream_from_rows(
        spark,
        [[("a", 1, 0), ("a", 1, 1), ("b", 1, 2), ("b", 1, 3), ("b", 1, 4), ("c", 1, 5)]],
        tmp_path,
        "trend",
    )
    counts = stream.groupBy(F.window(TS, "10 seconds").alias("window"), "k").count()
    seen = {}

    def rank_batch(df, _epoch):
        w = W.partitionBy("window").orderBy(F.desc("count"), "k")
        top = df.withColumn("rn", F.row_number().over(w)).where("rn <= 2").collect()
        if top:
            seen["last"] = {(r.window.start.second, r.k, r["count"], r.rn) for r in top}

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(rank_batch)
        .option("checkpointLocation", str(tmp_path / "trend_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert seen["last"] == {(0, "b", 3, 1), (0, "a", 2, 2)}


def test_streaming_chunking_matches_batch(spark, tmp_path):
    """Token-window chunking is a stateless narrow map, so it lifts to
    Structured Streaming UNCHANGED — same operator, append mode, no state
    store, no watermark. The streamed chunks must equal the batch chunking
    of the same documents (the batch≡stream discipline used for
    wordcount). At scale this is the ingest shape of a curation pipeline:
    chunk documents as they land, no global barrier."""
    from gearpump_spark.operators.chunking import chunk_by_tokens

    rows = [
        (1, "a b c d e f g"),
        (2, ""),
        (3, " ".join(f"t{i}" for i in range(40))),
        (4, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "chdocs")
    df.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = run_to_completion(
        chunk_by_tokens(stream, size=8, stride=6), "chunk_stream_out"
    ).collect()
    expect = chunk_by_tokens(df, size=8, stride=6).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, expect))
    assert len(out) > 4  # doc 3 fans out into multiple windows


def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path):
    """Steady-state crawl ingest as a stream: each micro-batch dedups
    against the materialized fingerprint index (within-batch min-id +
    anti-join), then appends its ACCEPTED fingerprints back to the index
    — so later batches reject duplicates of earlier accepted docs, not
    just of the original snapshot. foreachBatch runs batches strictly in
    sequence, which is exactly the ordering this loop needs."""
    from gearpump_spark.functions.hash import fingerprint
    from gearpump_spark.operators.dedup import incremental_dedup_against_index

    idx_path = str(tmp_path / "fp_index")
    snap = spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text")], "doc_id bigint, text string"
    )
    snap.select(fingerprint(F.col("text")).alias("fp")).distinct().write.parquet(
        idx_path
    )

    batches = [
        # dup-of-snapshot, new, dup-within-batch (higher id loses)
        [(10, "alpha text"), (11, "gamma text"), (12, "gamma text")],
        # dup of batch-1's accepted doc, and a genuinely new doc
        [(13, "gamma text"), (14, "delta text")],
    ]
    src = str(tmp_path / "crawl")
    schema = "doc_id bigint, text string"
    written = []
    for chunk in batches:
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        new = [f"{src}/{f}" for f in set(os.listdir(src)) - before
               if f.endswith(".parquet")]
        written.append(new)
    _bump_mtimes(src, written)

    accepted: list[int] = []

    def handle(batch_df, _epoch):
        idx = spark.read.parquet(idx_path)
        fresh = incremental_dedup_against_index(batch_df, idx).collect()
        if not fresh:
            return
        accepted.extend(sorted(r.doc_id for r in fresh))
        spark.createDataFrame(
            [(r.fp,) for r in fresh], "fp string"
        ).write.mode("append").parquet(idx_path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "crawl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert accepted == [11, 14]
    # the index now holds snapshot + accepted fingerprints, all distinct
    assert spark.read.parquet(idx_path).distinct().count() == 4


def test_hll_monoid_windowed_distinct(spark, tmp_path):
    """Streaming approximate COUNT DISTINCT per window via the HLL
    register monoid riding monoid_windowed_state's codec seam: the
    streamed estimate must equal the estimate from the batch
    hll_register_table registers over the same rows (same registers ->
    same estimate, across batch boundaries), and land within the
    sketch's error envelope of the true distinct count."""
    import math

    from gearpump_spark.operators.sketches import hll_register_table
    from gearpump_spark.streaming import hll_monoid, monoid_windowed_state

    # two windows for key "a", values split ACROSS micro-batches so the
    # merge path (plus on decoded state) is actually exercised
    w0 = [("a", v, 1 + (v % 8)) for v in range(0, 60)]
    w1 = [("a", v, 11 + (v % 8)) for v in range(40, 150)]
    chunks = [w0[:30] + w1[:50], w0[30:] + w1[50:]]
    stream = _stream_from_rows(spark, chunks, tmp_path, "hll", flush=True)
    mono = hll_monoid(b=10)
    out = monoid_windowed_state(
        stream, key_col="k", ts_col=TS, window_size="10 seconds",
        drop_flush_sentinel=True, **mono,
    )
    got = {
        int(r.window_start.timestamp()): r.result
        for r in run_to_completion(out, "hll_win", output_mode="append").collect()
    }

    b, m = 10, 1 << 10
    batch = spark.createDataFrame(
        [(0, v) for _, v, _ in w0] + [(10, v) for _, v, _ in w1], "w long, v long"
    )
    regs = {0: [0] * m, 10: [0] * m}
    for r in hll_register_table(batch, "v", group_cols=["w"], b=b).collect():
        regs[r.w][r.idx] = r.rho

    def estimate(regs):
        alpha = 0.7213 / (1 + 1.079 / m)
        est = alpha * m * m / sum(2.0 ** -r for r in regs)
        zeros = regs.count(0)
        if est <= 2.5 * m and zeros:
            est = m * math.log(m / zeros)
        return est

    expect = {w: estimate(r) for w, r in regs.items()}
    assert set(got) == set(expect)
    for w, est in expect.items():
        assert abs(got[w] - est) < 1e-9, (w, got[w], est)
    # error envelope vs true distincts (60 and 110): ~1.04/sqrt(1024)*few
    assert abs(got[0] - 60) / 60 < 0.15
    assert abs(got[10] - 110) / 110 < 0.15


def test_streaming_pq_encode_matches_batch(spark, tmp_path):
    """PQ encoding is a stateless narrow map (codebook rides as literals),
    so it lifts to Structured Streaming UNCHANGED — the ingest shape for
    compressing an embedding stream as it lands: train the codebook once
    on a bounded batch, then encode micro-batches forever with no state
    store and no shuffle. Streamed codes must equal the batch encode."""
    import random as _r

    from gearpump_spark.operators.similarity import pq_encode, pq_train_codebook

    rng = _r.Random(31)
    rows = [
        (i, [float(rng.uniform(-1.0, 1.0)) for _ in range(16)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cb = pq_train_codebook(df, m=4, k=8)
    path = str(tmp_path / "pqvecs")
    df.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = run_to_completion(pq_encode(stream, cb), "pq_stream_out").collect()
    expect = pq_encode(df, cb).collect()
    key = lambda r: (r.vec_id, tuple(r.codes), r.err)  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, expect))


def test_kmv_monoid_windowed_distinct(spark, tmp_path):
    """Streaming COUNT DISTINCT per window via the KMV min-set monoid:
    the window with fewer than k distincts must be EXACT (KMV's
    small-range regime — a set of < k hashes IS the distinct set), the
    full window must equal the closed-form (k-1)*2^60/h_(k) estimator
    bit-for-bit, with values split across micro-batches so the decoded
    state-merge path runs."""
    import hashlib

    from gearpump_spark.streaming import kmv_monoid, monoid_windowed_state

    k = 32
    # window 0: 20 distincts (< k -> exact); window 1: 300 distincts
    w0 = [("a", v % 20, 1 + (v % 8)) for v in range(0, 40)]
    w1 = [("a", v, 11 + (v % 8)) for v in range(1000, 1300)]
    chunks = [w0[:20] + w1[:150], w0[20:] + w1[150:]]
    stream = _stream_from_rows(spark, chunks, tmp_path, "kmv", flush=True)
    out = monoid_windowed_state(
        stream, key_col="k", ts_col=TS, window_size="10 seconds",
        drop_flush_sentinel=True, **kmv_monoid(k=k),
    )
    got = {
        int(r.window_start.timestamp()): r.result
        for r in run_to_completion(out, "kmv_win", output_mode="append").collect()
    }
    assert got[0] == 20.0  # exact small-range
    hs = sorted(
        int(hashlib.md5(f"4|{v}".encode()).hexdigest()[:15], 16)
        for v in range(1000, 1300)
    )
    assert got[10] == float(k - 1) * float(1 << 60) / float(hs[k - 1])
    assert abs(got[10] - 300) / 300 < 0.6  # sanity envelope (1/sqrt(32)~18%)


def test_stream_scd2_enrich_joins_version_valid_at_event_time(spark, tmp_path):
    """Temporal enrichment: each streamed event picks the SCD2 dimension
    VERSION valid at its event time — late/replayed events get the
    historical attribute, not the current one; events before the first
    version enrich to NULL (left join)."""
    from gearpump_spark.operators.temporal import scd2_history
    from gearpump_spark.streaming import stream_scd2_enrich

    updates = spark.createDataFrame(
        [("a", "bronze", 10, 1), ("a", "gold", 30, 2), ("b", "silver", 20, 3)],
        "k string, plan string, sec long, uid long",
    ).select("k", "plan", F.timestamp_seconds("sec").alias("vts"), "uid")
    hist = scd2_history(
        updates, key_cols=["k"], attr_cols=["plan"], ts_col="vts", tiebreak="uid"
    )
    # events: before any version (5), inside v1 (15), exactly at the v2
    # boundary (30 -> gold), after (40 -> gold), other key (25 -> silver)
    stream = _stream_from_rows(
        spark,
        [[("a", 1, 5), ("a", 2, 15)], [("a", 3, 30), ("a", 4, 40), ("b", 5, 25)]],
        tmp_path,
        "scd2e",
    )
    out = stream_scd2_enrich(stream, hist, key="k", ts_col=TS)
    rows = run_to_completion(out, "scd2_enrich", output_mode="append").collect()
    got = {r.v: r.plan for r in rows}
    assert got == {1: None, 2: "bronze", 3: "gold", 4: "gold", 5: "silver"}
    # key column appears once (the dim side's copy is dropped)
    assert [f for f in out.schema.fieldNames()].count("k") == 1


def test_continuous_trigger_runs_passthrough(spark):
    """r6 latency work: this build ships Spark's continuous-processing
    engine, and the map-only pass-through (the reference's SOL scenario,
    the one workload class where its 8 ms actor-hop latency applies)
    runs under Trigger.Continuous. Pins (a) availability, (b) that the
    query stays alive past several epochs, and (c) the documented gate:
    Python `foreach` is NOT supported in continuous mode."""
    import time

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .option("numPartitions", 2)
        .load()
    )
    q = (
        src.selectExpr("value", "timestamp")
        .writeStream.format("noop")
        .outputMode("append")
        .trigger(continuous="200 milliseconds")
        .start()
    )
    try:
        time.sleep(5)
        assert q.isActive, f"continuous query died: {q.exception()}"
        assert q.exception() is None
    finally:
        q.stop()

    # the gate: a Python foreach writer kills a continuous query
    q2 = (
        src.writeStream.foreach(lambda row: None)
        .outputMode("append")
        .trigger(continuous="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and q2.isActive and q2.exception() is None:
            time.sleep(0.5)
        assert (not q2.isActive) or q2.exception() is not None, (
            "Python foreach unexpectedly works in continuous mode — "
            "promote it from gate to feature (bench a per-record foreach "
            "latency measure)"
        )
    finally:
        q2.stop()


def test_continuous_trigger_reflect_clock_stamps_records(spark):
    """Pins the r7 bench method (BENCH_NOTES_r7): per-record latency is
    measured by stamping records INSIDE the continuous pipeline with
    reflect(System.currentTimeMillis) — the one per-record clock this
    build allows under Trigger.Continuous (current_timestamp() is
    rejected by the continuous planner; pinned here so a future build
    that changes either behavior surfaces immediately). Asserts the
    stamp is per-record wall-clock: present, non-constant across the
    run, and >= the record's own event time."""
    import time

    from pyspark.sql.utils import AnalysisException

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .option("numPartitions", 1)
        .load()
    )
    # the documented rejection: current_timestamp() cannot start
    try:
        qbad = (
            src.selectExpr("value", "current_timestamp() AS now")
            .writeStream.format("noop")
            .outputMode("append")
            .trigger(continuous="200 milliseconds")
            .start()
        )
        qbad.stop()
        raise AssertionError(
            "current_timestamp() unexpectedly works in continuous mode — "
            "bench.py can drop the reflect() escape"
        )
    except AnalysisException:
        pass  # expected: "Continuous processing does not support current time"

    q = (
        src.selectExpr(
            "value",
            "timestamp",
            "CAST(reflect('java.lang.System','currentTimeMillis')"
            " AS DOUBLE) AS seen_ms",
        )
        .writeStream.format("memory")
        .queryName("cont_reflect_pin")
        .outputMode("append")
        .trigger(continuous="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline and n < 50:
            time.sleep(1)
            assert q.exception() is None, f"continuous query died: {q.exception()}"
            n = spark.sql("SELECT count(*) AS n FROM cont_reflect_pin").collect()[0].n
        assert n >= 50, f"only {n} records visible after 30s"
        row = spark.sql(
            """
            SELECT count(DISTINCT seen_ms) AS stamps,
                   min(seen_ms - unix_micros(timestamp)/1000.0) AS min_lat
            FROM cont_reflect_pin
            """
        ).collect()[0]
        # per-record clock, not a plan-time constant: many distinct stamps
        assert row.stamps > 5, f"reflect stamp looks constant ({row.stamps} values)"
        # stamps happen at/after event creation (allow 2ms clock skew)
        assert row.min_lat >= -2.0, f"stamp precedes event time: {row.min_lat}ms"
    finally:
        q.stop()


def test_streaming_lr_scored_emission_matches_batch(spark, tmp_path):
    """Scored emission (the reference's wordcount->Sum pipeline extended
    to carry a model): train the integer LR once in batch, then score a
    document STREAM with lr_margin_expr — a stateless narrow map, so it
    runs under append mode with no state store — and every streamed
    (margin, pred) must equal the batch pipeline's bit for bit (the
    row-local token fold equals the (doc, bucket)-aggregated Σ w·x by
    integer linearity)."""
    from gearpump_spark.operators import classify as CL

    rows = [
        (1, "spark table spark join fast"),
        (2, "row batch row batch slow"),
        (3, "table scan table merge"),
        (4, ""),
        (5, "batch window row"),
        (6, "spark spark table table table"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fx = CL.hashed_features(docs)
    lab = CL.keyword_teacher_labels(docs)
    w = CL.train_lr_int(spark, fx, lab, n_steps=6, lr_den=3)

    batch = {
        r.doc_id: (r.margin, r.pred)
        for r in CL.score_documents(docs, w).collect()
    }
    # the teacher rule itself must be learnable here: spark/table docs
    # positive, row/batch docs negative (sanity that training moved)
    assert batch[6][1] == 1 and batch[2][1] == 0

    path = str(tmp_path / "score_docs")
    docs.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    out = run_to_completion(
        CL.score_documents(stream, w), "lr_scored_stream"
    ).collect()
    got = {r.doc_id: (r.margin, r.pred) for r in out}
    assert got == batch


def test_update_mode_running_aggregate_multibatch_fold(spark, tmp_path):
    """q_running_aggregate_stream's readout claims exactness under ANY
    micro-batch split: update mode re-emits each key's running state
    every batch, and folding the emission log with the same monoid
    (max of running count, min/max of ts) recovers the final state.
    Force a genuinely multi-batch run (3 files, maxFilesPerTrigger=1)
    and require (a) more emissions than keys — update mode really did
    re-emit — and (b) the fold equals the batch aggregate."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0 + dt.timedelta(minutes=i), ["click", "view"][i % 2], i)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, v long")
    src = str(tmp_path / "ev_multibatch")
    df.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        Stream(stream, "ts")
        .key_by("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .to_df()
    )
    log = run_to_completion(agg, "run_agg_multibatch", output_mode="update")
    assert log.count() > 2  # >|keys| emissions: multiple batches updated

    folded = {
        r.event_type: (r.n, r.first_ts, r.last_ts)
        for r in log.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
        .collect()
    }
    batch = {
        r.event_type: (r.n, r.first_ts, r.last_ts)
        for r in df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert folded == batch
