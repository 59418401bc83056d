"""What every workload shares: the Spark session set-up it times, the
process-tree memory sampler, the span tracer and the readers of
Spark's own counters (status store, SQL metrics, codegen metrics).

Spans and counters are taken from outside the program: around calls
into its public functions, and from the counters Spark keeps anyway.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

PACKAGE = "kinesis_analytics_demo_spark"

#: Set-ups per run; ``setup_s`` is their median.
SETUP_SAMPLES = 5


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- set-up


def _purge_package() -> None:
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]


def _set_up_once():
    from kinesis_analytics_demo_spark.plans.registry import all_queries
    from kinesis_analytics_demo_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    specs = all_queries()
    spark.range(1).count()
    return spark, specs


def set_up() -> tuple:
    """Start the program ``SETUP_SAMPLES`` times and return ``(spark,
    specs, samples)``.

    The first sample runs from process start to the first finished
    action, so it includes interpreter start, the JVM launch and
    ``all_queries()``. Each later one stops the session, drops the
    program's modules and imports them again, so work moved into import
    time, ``get_spark`` or the first action shows in every sample.
    """
    spark, specs = _set_up_once()
    samples = [process_age_s()]
    for _ in range(SETUP_SAMPLES - 1):
        spark.stop()
        _purge_package()
        t0 = time.perf_counter()
        spark, specs = _set_up_once()
        samples.append(time.perf_counter() - t0)
    return spark, specs, samples


def shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM (and with
    it the Python worker daemons it started) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# --------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Polls the process tree under this process (this Python process,
    the JVM and its Python workers) and keeps the peak of their summed
    proportional set size (``Pss``: resident pages, each shared page
    divided among the processes sharing it). Resident sizes summed
    as-is would count the pages a forked Python worker shares with its
    daemon twice, and a JVM child caught between fork and exec as a
    second JVM. Processes in ``exclude`` and their children, such as a
    load generator, are not counted."""

    def __init__(self, enabled: bool = True, interval_s: float = 1.0):
        self.enabled = enabled
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join()
            self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_kb(pid)
            todo.extend(_children(pid))
        self._peak_kb = max(self._peak_kb, total)

    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0


# -------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (name, layer, start, end, parent) and the
    counters read at their boundaries. Disabled tracers record
    nothing and cost one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counters": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, layer: str, start: float, end: float, parent=None) -> int:
        """Record a span reconstructed after the fact (e.g. from a
        streaming progress report); returns its id."""
        self.spans.append({"id": len(self.spans), "name": name, "layer": layer,
                           "parent": parent, "start": start, "end": end, "counters": {}})
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Seconds per layer spent in its spans outside their child
        spans."""
        return self_times(self.spans)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------- Spark counters

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
PY_METRICS = {
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}


def parse_metric_text(text: str) -> float:
    """Total from the SQL status store's formatted metric value, e.g.
    ``1,000`` or ``total (min, med, max ...)\\n8.3 KiB (...)``."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


STAGE_FIELDS = ("tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes")


class SparkCounters:
    """Reads the counters Spark keeps for every job: the core status
    store (jobs, stages, task times, shuffle and spill), the SQL status
    store (per-node SQL metrics) and the codegen metrics."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sc = sc

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the stores hold the jobs that just finished."""
        self._bus.waitUntilEmpty()

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(int(n) - 1, 1).head().executionId() if n else -1

    def codegen(self) -> dict:
        cg = self._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        hist = self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return {"codegen_compilations": hist.getCount(), "codegen_compile_s": cg.compileTime() / 1e9}

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo())

    def jobs(self, first: int, last: int) -> list:
        """JobData for job ids in ``[first, last]`` still retained."""
        out = []
        for jid in range(first, last + 1):
            try:
                out.append(self._store.job(jid))
            except Py4JJavaError:  # evicted
                pass
        return out

    def stage_totals(self, jobs) -> dict:
        """Stage and task counters summed over the stages ``jobs`` ran
        (skipped stages count for nothing)."""
        tot = dict.fromkeys(("jobs", "stages") + STAGE_FIELDS, 0)
        tot["jobs"] = len(jobs)
        seen = set()
        for job in jobs:
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["task_run_s"] += st.executorRunTime() / 1e3
                tot["task_cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def job_wall_ms(self, job) -> float:
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return 0.0
        return float(done.get().getTime() - sub.get().getTime())

    def python_metrics(self, first: int, last: int) -> dict:
        """Bytes sent to and returned from Python workers, and rows
        they returned, summed over the Python/Arrow plan nodes of SQL
        executions ``[first, last]``."""
        out = {"python_bytes_in": 0.0, "python_bytes_out": 0.0, "python_rows": 0.0}
        for eid in range(max(first, 0), last + 1):
            try:
                nodes = self._sql.planGraph(eid).allNodes()
                values = self._sql.executionMetrics(eid)
            except Py4JJavaError:
                continue
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not _PY_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    key = PY_METRICS.get(m.name())
                    if key is None and m.name() == "number of output rows":
                        key = "python_rows"
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        out[key] += parse_metric_text(v.get())
        return out
