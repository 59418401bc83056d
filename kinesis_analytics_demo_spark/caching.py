"""Session-scoped tracking of persisted intermediates.

Several operators persist an intermediate DataFrame that feeds the
LAZY result they return (e.g. the distinct-shingle table a banded LSH
self-join reads from both sides — without the persist Spark plans two
full corpus scans because it will not ReusedExchange across self-join
aliases). The query function cannot unpersist before returning — the
caller has not run its action yet — so long-lived sessions that run
many queries (bench.py, the plan-audit tests, the grading driver)
would otherwise accumulate cached tables until LRU eviction kicks in
(ADVICE r2 item 3).

``tracked_persist`` is a drop-in replacement for ``df.persist`` that
records the handle; harness code calls ``release_tracked()`` after the
query's final action to free everything pinned since the last release.
Callers that never release (the grading driver) degrade gracefully:
every persist uses MEMORY_AND_DISK, so eviction is spill, not OOM.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and remember the handle for a later bulk release."""
    out = df.persist(level)
    _TRACKED.append(out)
    return out


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame; returns how many were freed.

    Safe to call at any time — handles whose SparkSession has stopped
    are skipped silently.
    """
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # session gone / already unpersisted
            pass
    return n
