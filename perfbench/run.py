#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds its inputs from ``--seed``,
measures for ``--seconds``, checks the program's outputs and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
and the spans are written to ``perfbench/_work/trace-<workload>-<seed>.json``.
Work files live under ``perfbench/_work`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from dataclasses import dataclass

import batch
import harness
import stats
import streams

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"batch": batch.run, "stream_tumbling": streams.run_tumbling}


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: str
    tracer: harness.Tracer
    rss: harness.RssSampler | None = None


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metrics(spec: dict, values: dict, trace: bool) -> dict:
    """Every metric the spec lists for this mode, in its unit; a layer
    the workload does not exercise reads 0."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if not trace and m["name"] not in values]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=3, help="Spark local[cores]")
    args = p.parse_args()

    spec = _spec()
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)
    os.chdir(work)

    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), args.cores, work,
                  harness.Tracer(bool(args.trace)))
    try:
        # reading Pss walks the JVM's page tables, so only traced runs sample it
        with harness.RssSampler(enabled=bool(args.trace)) as rss:
            ctx.rss = rss
            out = WORKLOADS[args.workload](ctx)
        values = dict(out["metrics"])
        values["setup_s"] = stats.median(out["setup_samples"])
        if args.trace:
            layer = dict(out.get("layers", {}))
            layer["memory.peak_pss_mb"] = rss.peak_mb()
            units = max(1, out.get("units", 1))
            for name, secs in ctx.tracer.self_times().items():
                layer[f"{name}.self_s"] = secs / units
            layer.update({f"traced.{k}": v for k, v in values.items()})
            layer["session.cold_setup_s"] = out["setup_samples"][0]
            ctx.tracer.dump(os.path.join(HERE, "_work", f"trace-{args.workload}-{args.seed}.json"),
                            {"workload": args.workload, "seed": args.seed, "layers": layer,
                             "notes": out.get("notes", {})})
            values = layer
        result = {"correct": bool(out["correct"]), "attempted": int(out["attempted"]),
                  "failed": int(out["failed"]), "metrics": _metrics(spec, values, bool(args.trace))}
        notes = {"setup_samples": [round(x, 3) for x in out["setup_samples"]], **out.get("notes", {})}
        print(json.dumps(notes), file=sys.stderr)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
