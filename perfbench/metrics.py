"""Metric arithmetic shared by the workloads: percentiles, progress-event
time parsing, trigger latency and failure accounting. Pure functions, no
Spark, so that tests can pin every rule."""

from __future__ import annotations

import calendar
import math
import statistics
from datetime import datetime
from fractions import Fraction

# Percentiles a tail may be reported at, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it. With n samples, n - ceil(p/100 * n) samples lie
    beyond it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(len(s), p) - 1]


def _rank(n: int, p: float) -> int:
    # exact decimal arithmetic: 0.999 * 10000 must rank 9990, not 9991
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def samples_beyond(n: int, p: float) -> int:
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def parse_utc_ms(stamp: str) -> int:
    """Epoch milliseconds of a progress-event time string such as
    '2026-10-17T03:40:00.123Z'. Spark writes these in UTC whatever the
    session time zone; a missing 'Z' is read as UTC as well, never as
    local time."""
    s = stamp.strip()
    if s.endswith("Z"):
        s = s[:-1]
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in s else "%Y-%m-%dT%H:%M:%S"
    dt = datetime.strptime(s, fmt)
    return calendar.timegm(dt.timetuple()) * 1000 + dt.microsecond // 1000


def trigger_end_ms(progress: dict) -> int:
    """Trigger start stamp plus its triggerExecution duration."""
    return parse_utc_ms(progress["timestamp"]) + int(progress["durationMs"]["triggerExecution"])


def trigger_latency_ms(progress: dict) -> int | None:
    """Trigger end minus the newest event-time stamp the trigger read
    (progress eventTime.max). Events carry their creation time as event
    time, so this is creation-to-commit latency of the newest event.
    None for a trigger that read no rows."""
    if not progress.get("numInputRows"):
        return None
    newest = (progress.get("eventTime") or {}).get("max")
    if newest is None:
        return None
    return trigger_end_ms(progress) - parse_utc_ms(newest)


class Ledger:
    """Counts attempted and failed operations, with the reasons for each
    failure kept for the report."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if reason:
                self.reasons.append(reason)

    def fail_existing(self, n: int, reason: str) -> None:
        """Mark n operations already counted as attempted as failed (a
        check made after the fact, such as an oracle mismatch)."""
        n = min(n, self.attempted - self.failed)
        self.failed += n
        if n:
            self.reasons.append(reason)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
