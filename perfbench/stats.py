"""Pure helpers the workloads share: summary statistics, the tail rule,
streaming freshness, slot accounting and result comparison. Nothing
here touches Spark, so ``selftest.py`` checks it all without a JVM."""

from __future__ import annotations

import math
import statistics
from datetime import datetime, timezone

#: A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile, on a 5-point grid and at least the
    median, that has ``TAIL_MIN_BEYOND`` of ``n`` samples beyond it;
    the median itself when ``n`` is too small for any higher one."""
    if n <= 0:
        return 50
    p = math.floor(20 * (1 - TAIL_MIN_BEYOND / n)) * 5
    return max(50, min(p, 99))


def tail(values, max_p: int = 99) -> tuple[float, int]:
    """``(value, percentile)`` of the tail of ``values`` by the rule of
    ``tail_percentile``, capped at ``max_p`` so that a workload whose
    sample count varies a little reports the same percentile every run."""
    p = min(tail_percentile(len(values)), max_p)
    return percentile(values, p / 100), p


def parse_iso_ms(text: str) -> float:
    """Epoch milliseconds of a Structured Streaming progress timestamp
    such as ``2026-01-01T00:00:00.123Z``."""
    ts = datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def freshness_ms(progress: dict) -> float | None:
    """Age of the newest event of a micro-batch when its result was
    committed: ``timestamp + durationMs.triggerExecution -
    eventTime.max``. ``None`` for a batch that consumed no data."""
    if not progress.get("numInputRows") or "max" not in progress.get("eventTime", {}):
        return None
    end = parse_iso_ms(progress["timestamp"]) + progress["durationMs"]["triggerExecution"]
    return end - parse_iso_ms(progress["eventTime"]["max"])


def idle_slot_s(slots: int, wall_s: float, task_run_s: float) -> float:
    """Task-slot seconds left idle while a query held the cluster:
    ``slots * wall - task run time``, never below zero."""
    return max(0.0, slots * wall_s - task_run_s)


def counter_delta(before: dict, after: dict) -> dict:
    """Per-key difference of two counter snapshots (keys missing from
    ``before`` count from zero)."""
    return {k: after[k] - before.get(k, 0) for k in after}


def lag_grows(lags, tolerance: float) -> bool:
    """True when the mean of the last third of ``lags`` exceeds the mean
    of the first third by more than ``tolerance``."""
    if len(lags) < 3:
        return False
    k = len(lags) // 3
    return statistics.fmean(lags[-k:]) - statistics.fmean(lags[:k]) > tolerance


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def comparable(columns, rows) -> list[tuple]:
    """Rows as an order-insensitive multiset: columns sorted by name,
    cells normalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def same_result(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Exact equality of two results as column-name sets and row
    multisets."""
    return sorted(cols_a) == sorted(cols_b) and comparable(cols_a, rows_a) == comparable(cols_b, rows_b)
