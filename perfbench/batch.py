"""The ``batch`` workload: one client runs a fixed list of registered
queries back to back (a closed loop), each as ``spec.fn`` then a noop
write then ``release_tracked(blocking=True)``, so every pass is cold
with respect to the program's caches.

The list mixes JVM-only relational SQL (scan, the fixture repartition
in ``session.read_table``, Catalyst, shuffle) with text and vector
queries that run Python workers and persist intermediates.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

import harness
import stats
import tables

#: Scale factor of the generated tables (60k lineitem rows).
SF = 0.01

RELATIONAL = (
    "candlestick_tumbling",
    "shipping_priority",
    "window_functions",
    "asof_join_events",
)
TEXT_AND_VECTOR = (
    "similarity_cosine_topk",
    "inverted_index_postings",
    "multimodal_decode_pipeline",
)
QUERIES = RELATIONAL + TEXT_AND_VECTOR
#: A run measures ``--seconds / NOMINAL_PASS_S`` passes (at least two):
#: a fixed amount of work, so a faster program is not measured further
#: along its JIT warm-up than a slower one.
NOMINAL_PASS_S = 3.5
#: Tables the queries read; the traced run scans each through
#: ``session.read_table``.
INPUT_TABLES = ("events", "orders", "lineitem", "customer", "documents", "embeddings")


def _oracle_check(spark, specs, sf_dir, release_tracked) -> set[str]:
    """Run every query once against its DuckDB oracle (this is also the
    JIT warm-up pass); returns the names that failed."""
    con = duckdb.connect()
    for t in tables.TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad = set()
    for name in QUERIES:
        spec = specs[name]
        try:
            df = spec.fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            rel = con.sql(spec.oracle)
            if not stats.same_result(df.columns, rows, rel.columns, rel.fetchall()):
                print(f"oracle mismatch: {name}", file=sys.stderr)
                bad.add(name)
        except Exception:  # one broken query must not stop the run
            traceback.print_exc()
            bad.add(name)
        finally:
            release_tracked(blocking=True)
    con.close()
    return bad


class _Pass:
    """Runs one pass; with a counter reader it also reads Spark's
    counters at each layer boundary."""

    def __init__(self, spark, specs, sf_dir, tracer, counters, slots):
        from kinesis_analytics_demo_spark.caching import release_tracked

        self.spark, self.specs, self.sf_dir = spark, specs, sf_dir
        self.tracer, self.counters, self.slots = tracer, counters, slots
        self.release_tracked = release_tracked

    def run(self, latencies: list, layer: dict) -> int:
        """Run every query once; appends each query's latency and adds
        the pass's per-layer counters into ``layer``. Returns how many
        executions failed."""
        failed = 0
        cg0 = self.counters.codegen() if self.counters else None
        for name in QUERIES:
            try:
                latencies.append(self._query(name, layer))
            except Exception:  # count it and keep measuring
                traceback.print_exc()
                failed += 1
                self.release_tracked(blocking=True)
        if self.counters:
            layer.update({f"operators.{k}": v for k, v in
                          stats.counter_delta(cg0, self.counters.codegen()).items()})
        return failed

    def _query(self, name: str, layer: dict) -> float:
        tr, c = self.tracer, self.counters
        with tr.span(f"query.{name}", "harness") as span:
            if c:
                c.settle()
                job0 = c.last_job_id()
            t0 = time.perf_counter()
            with tr.span("plans.build", "plans"):
                df = self.specs[name].fn(self.spark, self.sf_dir)
            t_build = time.perf_counter() - t0
            if c:
                c.settle()
                job1, ex1 = c.last_job_id(), c.last_execution_id()
                with tr.span("plans.catalyst", "plans"):
                    tc = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    layer["plans.catalyst_s"] = layer.get("plans.catalyst_s", 0) + time.perf_counter() - tc
            tw = time.perf_counter()
            with tr.span("operators.exec", "operators"):
                df.write.format("noop").mode("overwrite").save()
            t_exec = time.perf_counter() - tw
            if c:
                c.settle()
                job2, ex2 = c.last_job_id(), c.last_execution_id()
                cached = c.cached_bytes()
            tr_ = time.perf_counter()
            with tr.span("caching.release", "caching"):
                persists = self.release_tracked(blocking=True)
            t_release = time.perf_counter() - tr_
        if c:
            ops = c.stage_totals(c.jobs(job1 + 1, job2))
            eager = c.stage_totals(c.jobs(job0 + 1, job1))
            add = {
                "plans.build_s": t_build,
                "plans.eager_jobs": eager["jobs"],
                "operators.exec_s": t_exec,
                "operators.idle_slot_s": stats.idle_slot_s(self.slots, t_exec, ops["task_run_s"]),
                "caching.persists": persists,
                "caching.cached_bytes": cached,
                "caching.release_s": t_release,
                f"query.{name}_s": t_build + t_exec,
            }
            add.update({f"operators.{k}": v for k, v in ops.items()})
            add.update({f"functions.{k}": v for k, v in c.python_metrics(ex1 + 1, ex2).items()})
            span["counters"] = add
            for k, v in add.items():
                layer[k] = layer.get(k, 0) + v
        return t_build + t_exec


def _session_probe(spark, sf_dir, tracer, counters) -> dict:
    """Scan each input table through ``session.read_table`` into a noop
    write: the scan and the fixture repartition the queries pay."""
    from kinesis_analytics_demo_spark.session import read_table

    scan_s, shuffle = 0.0, 0
    for t in INPUT_TABLES:
        counters.settle()
        job0 = counters.last_job_id()
        t0 = time.perf_counter()
        with tracer.span(f"session.{t}", "session"):
            read_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        scan_s += time.perf_counter() - t0
        counters.settle()
        shuffle += counters.stage_totals(counters.jobs(job0 + 1, counters.last_job_id()))["shuffle_write_bytes"]
    return {"session.scan_s": scan_s, "session.repartition_bytes": shuffle}


def run(ctx) -> dict:
    spark, specs, setup = harness.set_up()
    from kinesis_analytics_demo_spark.caching import release_tracked

    sf_dir = os.path.join(ctx.work, "tables")
    input_rows = sum(tables.write_tables(sf_dir, ctx.seed, SF).values())
    bad = _oracle_check(spark, specs, sf_dir, release_tracked)

    counters = harness.SparkCounters(spark) if ctx.trace else None
    # one more untimed pass: the JIT is still settling after the check
    _Pass(spark, specs, sf_dir, harness.Tracer(False), None, ctx.cores).run([], {})
    runner = _Pass(spark, specs, sf_dir, ctx.tracer, counters, ctx.cores)
    latencies: list[float] = []
    passes: list[float] = []
    layers: list[dict] = []
    failed = 0
    for _ in range(max(2, int(ctx.seconds / NOMINAL_PASS_S))):
        layer: dict = {}
        t0 = time.perf_counter()
        with ctx.tracer.span(f"pass.{len(passes)}", "harness"):
            failed += runner.run(latencies, layer)
        passes.append(time.perf_counter() - t0)
        if counters:
            layer.update(_session_probe(spark, sf_dir, ctx.tracer, counters))
        layers.append(layer)

    # a query that failed its oracle check fails every execution
    n_exec = len(QUERIES) * (1 + len(passes))
    failed += len(bad) * (1 + len(passes))
    tail_ms, tail_p = stats.tail([x * 1000 for x in latencies])
    pass_s = stats.median(passes)
    out = {
        "correct": not bad,
        "attempted": n_exec,
        "failed": failed,
        "setup_samples": setup,
        "metrics": {
            "pass_s": pass_s,
            "freshness_p50_ms": stats.median(latencies) * 1000,
            "freshness_tail_ms": tail_ms,
        },
        "notes": {"tail_percentile": tail_p, "samples": len(latencies), "passes": [round(x, 2) for x in passes],
                  "input_rows": input_rows, "oracle_failures": sorted(bad)},
    }
    if ctx.trace:
        out["layers"] = {k: stats.median([lay.get(k, 0) for lay in layers]) for k in layers[0]}
        out["units"] = len(passes)
    harness.shut_down(spark)
    return out
