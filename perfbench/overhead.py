#!/usr/bin/env python3
"""Tracing overhead: runs one workload untraced and then traced with the
same seed and prints, for each end-to-end metric, the untraced value,
the traced value (``traced.<metric>`` of the per-layer output) and the
difference.

    python3 perfbench/overhead.py --workload batch --seed 1 --seconds 25
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=25)
    args = p.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    print(f"{'metric':20s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        print(f"{name:20s} {m['value']:12.3f} {t:12.3f} {t - m['value']:12.3f} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
