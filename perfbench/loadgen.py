"""Open-loop load generator, run as its own process.

Moves one pre-generated tick file into the stream's input directory every
``--period`` seconds, on a schedule fixed at ``--t0`` that does not slow
when the detector slows. Each move is a rename, so the file source never
sees a partial file. How late each tick ran against its due time is
written to ``--log`` when the generator ends.

    python3 loadgen.py --pending DIR --dest DIR --t0 EPOCH --period 0.5 \
        --ticks 20 --log lag.json
"""

from __future__ import annotations

import argparse
import json
import os
import time


def move_tick(pending: str, dest: str, k: int) -> None:
    """Moves tick file ``k`` into the stream's input directory."""
    name = f"tick_{k:05d}.json"
    src = os.path.join(pending, name)
    now = time.time()
    os.utime(src, (now, now))  # the file source orders by mtime
    os.rename(src, os.path.join(dest, name))


def run(pending: str, dest: str, t0: float, period: float, ticks: int) -> list[float]:
    lags = []
    for k in range(ticks):
        due = t0 + k * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        move_tick(pending, dest, k)
        lags.append(time.time() - due)
    return lags


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--pending", required=True)
    p.add_argument("--dest", required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--period", type=float, required=True)
    p.add_argument("--ticks", type=int, required=True)
    p.add_argument("--log", required=True)
    a = p.parse_args()
    lags = run(a.pending, a.dest, a.t0, a.period, a.ticks)
    with open(a.log, "w") as f:
        json.dump({"lags_s": lags, "end": time.time()}, f)


if __name__ == "__main__":
    main()
