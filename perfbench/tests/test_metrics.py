"""Tests for the benchmark's own metric arithmetic.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

import calendar
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrics import (  # noqa: E402
    Ledger,
    parse_utc_ms,
    percentile,
    samples_beyond,
    tail_percentile,
    trigger_latency_ms,
)


# -- the percentile rule ------------------------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert samples_beyond(n, expected) >= 10


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values[::-1], 90) == 90
    assert percentile([7], 99) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


# -- UTC parsing of progress stamps ------------------------------------------------

def test_parse_utc_with_and_without_fraction():
    base = calendar.timegm((2026, 10, 17, 3, 40, 0)) * 1000
    assert parse_utc_ms("2026-10-17T03:40:00.123Z") == base + 123
    assert parse_utc_ms("2026-10-17T03:40:00Z") == base
    assert parse_utc_ms("2026-10-17T03:40:00.5Z") == base + 500
    assert parse_utc_ms("1970-01-01T00:00:00.000Z") == 0


def test_parse_utc_ignores_local_time_zone(monkeypatch):
    if not hasattr(time, "tzset"):
        pytest.skip("no tzset on this platform")
    stamp = "2026-03-29T01:30:00.250Z"  # inside a European DST switch hour
    expected = calendar.timegm((2026, 3, 29, 1, 30, 0)) * 1000 + 250
    for tz in ("UTC", "Europe/Berlin", "America/Los_Angeles"):
        monkeypatch.setenv("TZ", tz)
        time.tzset()
        assert parse_utc_ms(stamp) == expected
    monkeypatch.delenv("TZ")
    time.tzset()


# -- trigger-latency arithmetic ----------------------------------------------------

def _progress(start: str, exec_ms: int, newest: str | None, rows: int = 10) -> dict:
    p = {"timestamp": start, "durationMs": {"triggerExecution": exec_ms}, "numInputRows": rows}
    if newest is not None:
        p["eventTime"] = {"max": newest, "watermark": "1970-01-01T00:00:00.000Z"}
    return p


def test_latency_is_trigger_end_minus_newest_event():
    p = _progress("2026-10-17T03:40:01.000Z", 600, "2026-10-17T03:40:00.750Z")
    assert trigger_latency_ms(p) == 1000 + 600 - 750


def test_latency_crosses_midnight_and_day_boundary():
    p = _progress("2026-10-18T00:00:00.100Z", 250, "2026-10-17T23:59:59.900Z")
    assert trigger_latency_ms(p) == 450


def test_no_latency_for_trigger_without_rows():
    assert trigger_latency_ms(_progress("2026-10-17T03:40:01.000Z", 300, None, rows=0)) is None
    assert trigger_latency_ms(_progress("2026-10-17T03:40:01.000Z", 300, "2026-10-17T03:40:00.000Z",
                                        rows=0)) is None


# -- fail_ratio accounting ----------------------------------------------------------

def test_ledger_counts_failures_over_attempts():
    led = Ledger()
    for ok in (True, True, False, True):
        led.record(ok, "" if ok else "raised")
    assert (led.attempted, led.failed) == (4, 1)
    assert led.fail_ratio == 0.25
    assert led.reasons == ["raised"]


def test_ledger_after_the_fact_failures_never_exceed_attempts():
    led = Ledger()
    for _ in range(3):
        led.record(True)
    led.record(False, "x")
    led.fail_existing(10, "oracle mismatch")
    assert (led.attempted, led.failed) == (4, 4)
    assert led.fail_ratio == 1.0


def test_ledger_with_no_attempts_reads_as_failed():
    assert Ledger().fail_ratio == 1.0


def test_grown_backlog_fails_every_trigger_and_reports_no_latency():
    streamwin = pytest.importorskip("streamwin")
    led = Ledger()
    t0 = calendar.timegm((2026, 10, 17, 3, 40, 0))
    rec = {"rate": 1000, "rows": 30_000, "end": t0 + 10, "lag_ms": [0.0, 1.0]}
    progs = []
    for i in range(3):
        start = f"2026-10-17T03:40:0{3 * i}.000Z"
        p = _progress(start, 500, start, rows=1000)
        p.update(batchId=i, stateOperators=[])
        progs.append(p)
    stats = streamwin._phase_stats(rec, progs, led)
    assert stats["backlog_grew"]
    assert stats["latency_p50_ms"] is None
    assert (led.attempted, led.failed) == (3, 3)


def test_steady_phase_counts_latency_limit_failures_only():
    streamwin = pytest.importorskip("streamwin")
    led = Ledger()
    t0 = calendar.timegm((2026, 10, 17, 3, 40, 0))
    rec = {"rate": 1000, "rows": 3000, "end": t0 + 10, "lag_ms": [0.0]}
    progs = []
    for i, exec_ms in enumerate((400, 600, streamwin.LATENCY_LIMIT_MS + 1)):
        start = f"2026-10-17T03:40:0{i}.000Z"
        p = _progress(start, exec_ms, start, rows=1000)
        p.update(batchId=i, stateOperators=[])
        progs.append(p)
    stats = streamwin._phase_stats(rec, progs, led)
    assert not stats["backlog_grew"]
    assert (led.attempted, led.failed) == (3, 1)
    assert stats["latency_p50_ms"] == 600


def test_replay_reference_keeps_late_rows_only_in_the_first_two_batches(tmp_path):
    streamwin = pytest.importorskip("streamwin")
    np = pytest.importorskip("numpy")
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    created = 1_800_000_000_000
    late_rows = []
    for i in range(6):
        tbl = streamwin.make_events(rng, 2000, created + 100 * i, late=True)
        ts = tbl.column("ts").cast("int64").to_numpy()
        late_rows.append(int((ts < created - streamwin.TOO_LATE_MS // 2).sum()))
        pq.write_table(tbl, tmp_path / f"part-{i:07d}.parquet")
    assert all(n > 0 for n in late_rows)
    ref, kept = streamwin.reference_windows(str(tmp_path), files_per_trigger=2)
    # files 0-3 form the first two batches and keep every row
    assert kept == 6 * 2000 - late_rows[4] - late_rows[5]
    assert int(ref["n"].sum()) == kept
