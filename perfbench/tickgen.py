#!/usr/bin/env python3
"""Open-loop tick generator, run as its own process.

Writes one JSON-lines file of reference-shaped stock ticks
(``datagen.stock.get_data``) every ``TICK_MS``, ``RATE`` records per
second, on a fixed wall-clock schedule that does not slow down when the
consumer does. Each record's ``utc`` is its creation time; a seeded
``OOO_SHARE`` is stamped up to 10 s earlier (out of order, inside the
20 s watermark). Once the file ``--late-file`` exists, one record every
``LATE_EVERY_S`` is stamped minutes earlier, each in its own minute,
beyond the watermark. The generator stops at the first tick after
``--stop-file`` exists, or after ``MAX_SECONDS``.

Every tick appends ``{"due", "written", "rows", "late"}`` to ``--log``
so the caller can compute generator lateness and source lag.

    python3 perfbench/tickgen.py --out DIR --log FILE --start EPOCH \\
        --stop-file STOP --late-file LATE --root . --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timezone

#: Input rate: the single-shard ceiling the reference implies.
RATE = 1000
TICK_MS = 250
OOO_SHARE = 0.02
LATE_EVERY_S = 2.0
MAX_SECONDS = 300.0


def _utc(epoch: float) -> datetime:
    return datetime.fromtimestamp(epoch, timezone.utc).replace(tzinfo=None)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--log", required=True)
    p.add_argument("--start", type=float, required=True, help="epoch of the first tick")
    p.add_argument("--stop-file", required=True)
    p.add_argument("--late-file", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--root", required=True, help="checkout root holding datagen/")
    args = p.parse_args()
    sys.path.insert(0, args.root)
    from datagen.stock import get_data

    rng = random.Random(args.seed)
    tick = TICK_MS / 1000.0
    per_tick = round(RATE * tick)
    n_ticks = int(MAX_SECONDS / tick)
    late_every = max(1, round(LATE_EVERY_S / tick))
    used: set[tuple[str, datetime]] = set()
    last = 0.0
    n_late = 0
    with open(args.log, "w") as log:
        for i in range(n_ticks):
            due = args.start + (i + 1) * tick
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            if os.path.exists(args.stop_file):
                break
            lines = []
            for _ in range(per_tick):
                last = max(time.time(), last + 1e-6)
                stamp = last - rng.uniform(1.0, 10.0) if rng.random() < OOO_SHARE else last
                rec = get_data(rng, now=_utc(stamp))
                while (rec["ticker"], rec["utc"]) in used:  # keep first/last picks unique
                    stamp += 1e-6
                    rec["utc"] = _utc(stamp).isoformat()
                used.add((rec["ticker"], rec["utc"]))
                lines.append(json.dumps(rec))
            late = 0
            if i % late_every == 0 and os.path.exists(args.late_file):
                n_late += 1
                late = 1
                lines.append(json.dumps(get_data(rng, now=_utc(last - 60.0 * (2 + n_late)))))
            name = f"ticks-{i:06d}.json"
            tmp = os.path.join(args.out, f".{name}.tmp")  # hidden: the source skips it
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.rename(tmp, os.path.join(args.out, name))
            log.write(json.dumps({"due": due, "written": time.time(),
                                  "rows": len(lines), "late": late}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
