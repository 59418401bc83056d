"""The ``stream_tumbling`` workload: the reference's headline job end to
end, in an open loop. ``tickgen.py`` writes ticks at a fixed rate in its
own process while ``create_stream_source("file-json")`` ->
``tumbling_window_job`` -> the transactional ``jsonl_audit`` sink keeps
up. Freshness is read from Spark's per-trigger progress reports.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone

import harness
import stats
from tickgen import RATE, TICK_MS

WARMUP_S = 6.0
#: A run measures ``--seconds / NOMINAL_TRIGGER_S`` micro-batches: a
#: fixed sample count, so every run reports the same tail percentile.
NOMINAL_TRIGGER_S = 1.05
#: A micro-batch fresher than this meets the latency limit.
FRESHNESS_LIMIT_MS = 5000.0
#: Files one trigger may take in the open loop: more than ever arrive.
MAX_FILES = 1000


_BATCH = re.compile(r"\nbatch = (\d+)$")


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _job_ms_by_batch(counters, first_job: int, run_id: str) -> tuple[dict, dict]:
    """Spark job wall time and stage totals per micro-batch of one
    query run, from the status store (jobs are grouped by run id and
    described ``... batch = N``)."""
    counters.settle()
    wall: dict[int, float] = {}
    jobs: dict[int, list] = {}
    for job in counters.jobs(first_job + 1, counters.last_job_id()):
        group = job.jobGroup()
        desc = job.description()
        match = _BATCH.search(desc.get()) if desc.isDefined() else None
        if group.isEmpty() or group.get() != run_id or not match:
            continue  # another query's, or a file-listing job of the source
        batch = int(match.group(1))
        wall[batch] = wall.get(batch, 0.0) + counters.job_wall_ms(job)
        jobs.setdefault(batch, []).append(job)
    return wall, {b: counters.stage_totals(js) for b, js in jobs.items()}


def _trace_batches(tracer, progress: list[dict], job_ms: dict) -> None:
    """Rebuild one span per micro-batch from its progress report, with
    its phases as children, on the tracer's clock."""
    offset = time.time() - time.perf_counter()
    for p in progress:
        d = p["durationMs"]
        start = stats.parse_iso_ms(p["timestamp"]) / 1000 - offset
        root = tracer.add("streaming.trigger", "streaming", start, start + d["triggerExecution"] / 1000)
        tracer.spans[root]["counters"] = {
            "batch": p["batchId"], "input_rows": p["numInputRows"],
            "state_rows": sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", [])),
            "job_ms": job_ms.get(p["batchId"], 0.0)}
        t = start
        for phase, layer in (("latestOffset", "sources"), ("walCommit", "sinks"),
                             ("getBatch", "sources"), ("queryPlanning", "streaming"),
                             ("addBatch", "sinks"), ("commitOffsets", "sinks")):
            dur = d.get(phase, 0) / 1000
            sid = tracer.add(f"streaming.{phase}", layer, t, t + dur, root)
            if phase == "addBatch":
                jobs = min(dur, job_ms.get(p["batchId"], 0.0) / 1000)
                tracer.add("operators.jobs", "operators", t, t + jobs, sid)
            t += dur


def _stream_layers(progress: list[dict], job_ms: dict, stages: dict, rows_written: dict,
                   slots: int) -> dict:
    """Per-micro-batch medians of the streaming layers' counters."""
    def med(fn):
        return stats.median([fn(p) for p in progress])

    def state(p, key):
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    out = {
        "sources.latest_offset_ms": med(lambda p: p["durationMs"].get("latestOffset", 0)),
        "sources.get_batch_ms": med(lambda p: p["durationMs"].get("getBatch", 0)),
        "streaming.trigger_p50_ms": stats.median(trig),
        "streaming.trigger_tail_ms": stats.tail(trig)[0],
        "streaming.trigger_max_ms": max(trig),
        "streaming.query_planning_ms": med(lambda p: p["durationMs"].get("queryPlanning", 0)),
        "streaming.add_batch_ms": med(lambda p: p["durationMs"].get("addBatch", 0)),
        "streaming.rows_per_batch": med(lambda p: p["numInputRows"]),
        "streaming.state_rows": med(lambda p: state(p, "numRowsTotal")),
        "streaming.state_memory_bytes": med(lambda p: state(p, "memoryUsedBytes")),
        "streaming.state_commit_ms": med(lambda p: state(p, "commitTimeMs")),
        "sinks.commit_ms": med(lambda p: max(0.0, p["durationMs"].get("addBatch", 0)
                                             - job_ms.get(p["batchId"], 0.0))),
        "sinks.wal_commit_ms": med(lambda p: p["durationMs"].get("walCommit", 0)),
        "sinks.commit_offsets_ms": med(lambda p: p["durationMs"].get("commitOffsets", 0)),
        # windows close about once a minute, so most batches write none
        "sinks.rows_written": sum(rows_written.get(p["batchId"], 0) for p in progress) / max(1, len(progress)),
        "operators.exec_s": med(lambda p: job_ms.get(p["batchId"], 0.0)) / 1000,
        "operators.idle_slot_s": med(lambda p: stats.idle_slot_s(
            slots, job_ms.get(p["batchId"], 0.0) / 1000, stages.get(p["batchId"], {}).get("task_run_s", 0))),
    }
    for key in harness.STAGE_FIELDS + ("jobs", "stages"):
        out[f"operators.{key}"] = med(lambda p: stages.get(p["batchId"], {}).get(key, 0))
    return out


def _timeline(progress: list[dict], t0: float) -> list[tuple]:
    """(start offset s, input rows, trigger ms) per micro-batch, for the
    run's notes on standard error."""
    return [(round(stats.parse_iso_ms(p["timestamp"]) / 1000 - t0, 2), p["numInputRows"],
             p["durationMs"]["triggerExecution"]) for p in progress]


def _last_batch(query) -> int:
    last = query.lastProgress
    return json.loads(last.json)["batchId"] if last else -1


def _utc(epoch: float) -> datetime:
    return datetime.fromtimestamp(epoch, timezone.utc).replace(tzinfo=None)


def _iso(v) -> str:
    return (v if isinstance(v, datetime) else datetime.fromisoformat(str(v))).isoformat()


def _rows(records: list[dict], cols: list[str]) -> list[tuple]:
    return [tuple(_iso(r[c]) if c in ("window_start", "window_end") else r[c] for c in cols)
            for r in records]


def _read_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _sink_rows(out_dir: str) -> tuple[list[dict], dict]:
    """Rows the jsonl_audit sink committed (read through its manifests)
    and rows per micro-batch."""
    rows, per_batch = [], {}
    for man in sorted(glob.glob(os.path.join(out_dir, "_manifest-*.json"))):
        batch = int(os.path.basename(man)[len("_manifest-"):-len(".json")])
        with open(man) as fh:
            entries = json.load(fh)["files"]
        per_batch[batch] = sum(e["rows"] for e in entries)
        for e in entries:
            with open(os.path.join(out_dir, e["file"])) as fh:
                rows.extend(json.loads(line) for line in fh if line.strip())
    return rows, per_batch


def run_tumbling(ctx) -> dict:
    spark, _, setup = harness.set_up()
    from kinesis_analytics_demo_spark.sinks.pyds_sink import register_jsonl_audit
    from kinesis_analytics_demo_spark.sources.factory import create_stream_source, parse_stock_json
    from kinesis_analytics_demo_spark.streaming.jobs import tumbling_window_job

    tr = ctx.tracer
    in_dir, out_dir = os.path.join(ctx.work, "ticks"), os.path.join(ctx.work, "out")
    log = os.path.join(ctx.work, "gen.jsonl")
    os.makedirs(in_dir)
    counters = harness.SparkCounters(spark)
    first_job = counters.last_job_id()

    # Warm-up that needs no input: one batch write through the same job
    # and sink starts the sink's Python workers and compiles the plan.
    with tr.span("sinks.register_jsonl_audit", "sinks"):
        register_jsonl_audit(spark)
    sample = spark.createDataFrame([("AAPL", 1.0, _utc(time.time()))], "ticker string, price double, utc timestamp")
    tumbling_window_job(spark, sample, view_name="perfbench_warm").write.format("jsonl_audit") \
        .option("path", os.path.join(ctx.work, "warm-out")).mode("append").save()

    stop_file, late_file = os.path.join(ctx.work, "stop"), os.path.join(ctx.work, "late")
    gen_start = time.time() + 0.5
    here = os.path.dirname(os.path.abspath(__file__))
    gen = subprocess.Popen([sys.executable, os.path.join(here, "tickgen.py"), "--out", in_dir,
                            "--log", log, "--start", repr(gen_start), "--stop-file", stop_file,
                            "--late-file", late_file, "--seed", str(ctx.seed),
                            "--root", os.path.dirname(here)])
    ctx.rss.exclude.add(gen.pid)
    try:
        with tr.span("sources.create_stream_source", "sources"):
            src = create_stream_source(spark, "file-json", path=in_dir, max_files_per_trigger=MAX_FILES)
        with tr.span("streaming.tumbling_window_job", "streaming"):
            result = tumbling_window_job(spark, src)
        with tr.span("sinks.start", "sinks"):
            query = (result.writeStream.format("jsonl_audit").option("path", out_dir)
                     .option("checkpointLocation", os.path.join(ctx.work, "ckpt"))
                     .queryName("perfbench_tumbling").start())
        # The measured phase starts once the warm-up time has passed
        # and micro-batch 2 has finished: from then on every batch
        # drops late rows (Spark filters them against the previous
        # batch's watermark), so late records are injected only then.
        while time.time() < gen_start + WARMUP_S or _last_batch(query) < 2:
            if time.time() > gen_start + 120 or not query.isActive:
                raise RuntimeError("stream did not warm up")
            time.sleep(0.1)
        m_from = time.time()
        open(late_file, "w").close()
        cg0 = counters.codegen() if ctx.trace else None
        n_measured = max(2, round(ctx.seconds / NOMINAL_TRIGGER_S))
        seen: set[int] = set()
        while len(seen) < n_measured:
            if time.time() > m_from + 4 * ctx.seconds or not query.isActive:
                raise RuntimeError("stream stalled in the measured phase")
            last = json.loads(query.lastProgress.json)
            if last["numInputRows"] and stats.parse_iso_ms(last["timestamp"]) / 1000 >= m_from:
                seen.add(last["batchId"])
            time.sleep(0.05)
        cg1 = counters.codegen() if ctx.trace else None
        open(stop_file, "w").close()
        if gen.wait(timeout=60) != 0:
            raise RuntimeError("tick generator failed")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()

    ticks = _read_log(log)
    # One record far ahead in event time moves the watermark past every
    # window, so the sink closes them all before the check.
    flush_at = datetime.now(timezone.utc).replace(tzinfo=None) + timedelta(minutes=2)
    with open(os.path.join(in_dir, ".flush.tmp"), "w") as fh:
        fh.write(json.dumps({"utc": flush_at.isoformat(), "ticker": "AAPL", "price": 1.0}) + "\n")
    os.rename(os.path.join(in_dir, ".flush.tmp"), os.path.join(in_dir, "zz-flush.json"))
    written = sum(t["rows"] for t in ticks) + 1
    closed_by = flush_at - timedelta(seconds=20)
    deadline = time.time() + 60
    while time.time() < deadline:
        last = json.loads(query.lastProgress.json) if query.lastProgress else {}
        wm = last.get("eventTime", {}).get("watermark")
        if wm and datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ") >= closed_by - timedelta(seconds=1) \
                and last["numInputRows"] == 0:
            break
        time.sleep(0.2)
    query.stop()
    progress = _progress(query)

    # -- correctness
    consumed = sum(p["numInputRows"] for p in progress)
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in progress for op in p.get("stateOperators", []))
    late = sum(t["late"] for t in ticks)
    sink, per_batch = _sink_rows(out_dir)
    cols = ["ticker", "window_start", "window_end", "first_price", "last_price", "min_price", "max_price"]
    from pyspark.sql import functions as F

    batch_in = parse_stock_json(spark.read.text(in_dir)).where(
        F.col("utc") >= _utc(gen_start - 60))
    expected = [r.asDict() for r in tumbling_window_job(spark, batch_in, view_name="perfbench_check").collect()]
    expected = [r for r in expected if r["window_end"] <= closed_by]
    problems = []
    if progress[0]["batchId"] != 0:
        problems.append("progress history incomplete")
    if consumed != written:
        problems.append(f"consumed {consumed} rows, generator wrote {written}")
    if dropped != late:
        problems.append(f"dropped {dropped} late rows, generator injected {late}")
    if not expected or not stats.same_result(cols, _rows(sink, cols), cols, _rows(expected, cols)):
        problems.append(f"sink windows ({len(sink)}) differ from the batch job ({len(expected)})")

    # -- open-loop validity and metrics
    gen_late_ms = [(t["written"] - t["due"]) * 1000 for t in ticks]
    if max(gen_late_ms) > TICK_MS:
        raise RuntimeError(f"generator fell behind by {max(gen_late_ms):.0f} ms: run invalid")
    measured, lags = [], []
    done = 0
    for p in progress:
        done += p["numInputRows"]
        start = stats.parse_iso_ms(p["timestamp"]) / 1000
        if start < m_from or not p["numInputRows"] or len(measured) == n_measured:
            continue
        end = start + p["durationMs"]["triggerExecution"] / 1000
        lags.append(sum(t["rows"] for t in ticks if t["written"] <= end) - done)
        measured.append(p)
    if stats.lag_grows(lags, tolerance=2 * RATE):
        raise RuntimeError(f"source lag grew over the measured phase {lags}: run invalid")
    fresh = [stats.freshness_ms(p) for p in measured]
    tail_ms, tail_p = stats.tail(fresh)
    out = {
        "correct": not problems,
        "attempted": len(measured) + written,
        "failed": sum(f > FRESHNESS_LIMIT_MS for f in fresh),
        "setup_samples": setup,
        "metrics": {
            "pass_s": stats.median([p["durationMs"]["triggerExecution"] for p in measured]) / 1000,
            "freshness_p50_ms": stats.median(fresh),
            "freshness_tail_ms": tail_ms,
        },
        "notes": {"tail_percentile": tail_p, "samples": len(fresh), "problems": problems,
                  "records": written, "late_injected": late,
                  "batches": _timeline(progress, gen_start)},
    }
    if ctx.trace:
        job_ms, stages = _job_ms_by_batch(counters, first_job, query.runId)
        _trace_batches(tr, measured, job_ms)
        layers = _stream_layers(measured, job_ms, stages, per_batch, ctx.cores)
        layers.update({f"operators.{k}": v / len(measured)
                       for k, v in stats.counter_delta(cg0, cg1).items()})
        layers["sources.lag_rows"] = stats.median(lags)
        layers["streaming.late_rows_dropped"] = dropped
        layers["datagen.late_p50_ms"] = stats.median(gen_late_ms)
        layers["datagen.late_max_ms"] = max(gen_late_ms)
        out["layers"], out["units"] = layers, len(measured)
    if problems:
        print("; ".join(problems), file=sys.stderr)
    harness.shut_down(spark)
    return out
