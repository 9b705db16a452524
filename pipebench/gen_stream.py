"""Open-loop event generator for the ``stream_throttle`` workload.

Runs as its own process.  Every ``INTERVAL`` seconds it writes one
file of ``rate * INTERVAL`` JSON events into ``--out`` (temporary
hidden name, then rename), on a fixed wall-clock schedule that does not
wait for the consumer.  Each event carries the time it was due
(``due``, epoch seconds, and ``time``, the same instant as RFC 3339),
a unique ``id`` and a ``service`` throttle key; ``--hot-share`` of the
events go to the one hot key ``svc-hot``, the rest spread evenly over
``SERVICES`` other keys.

The schedule starts half an interval after the next multiple of
``TRIGGER_S`` seconds since the epoch.  Spark's processing-time trigger
fires on that same grid, so the phase between arrivals and triggers is
the same in every run instead of a random share of the trigger
interval.

When the schedule ends it prints one JSON line: events written, the
first and last due times, and how late the generator ran (``generator_late_s``:
the largest delay between a file's due time and its rename).

    python3 pipebench/gen_stream.py --out DIR --seed 1 [--rate N --hot-share F --duration S]

The defaults are the traffic the benchmark measures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import time

HOT_KEY = "svc-hot"
#: events per second
RATE = 8_000
HOT_SHARE = 0.2
#: non-hot throttle keys
SERVICES = 16
#: seconds between files
INTERVAL = 0.25
#: the consumer's processing-time trigger interval, whose grid the
#: schedule starts on
TRIGGER_S = 3
#: seconds of traffic in a benchmark run of 10 s (see wl_stream.duration)
DURATION_S = 19.5


def iso_us(t: float) -> str:
    sec = int(t)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)) + ".%06dZ" % int(
        round((t - sec) * 1e6)
    )


def tick_events(rnd: random.Random, first_id: int, n: int, due: float, hot_share: float):
    """One tick's events; ``due`` is rounded to the microsecond so the
    ``due`` number and the ``time`` string name the same instant."""
    stamp = iso_us(due)
    out = []
    for i in range(n):
        svc = HOT_KEY if rnd.random() < hot_share else "svc-%02d" % rnd.randrange(SERVICES)
        out.append(
            '{"id":%d,"due":%.6f,"time":"%s","service":"%s","msg":"req %08x done"}'
            % (first_id + i, due, stamp, svc, rnd.getrandbits(32))
        )
    return out


def run(out: str, seed: int, rate: float, duration: float, hot_share: float) -> dict:
    rnd = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    per_tick = int(round(rate * INTERVAL))
    ticks = int(round(duration / INTERVAL))
    t0 = math.ceil(time.time() / TRIGGER_S) * TRIGGER_S + INTERVAL / 2
    next_id = 0
    late = []
    last_due = t0
    for k in range(ticks):
        due = round(t0 + k * INTERVAL, 6)
        lines = tick_events(rnd, next_id, per_tick, due, hot_share)
        next_id += per_tick
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        name = "ev-%06d.json" % k
        tmp = os.path.join(out, "." + name + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(out, name))
        late.append(time.time() - due)
        last_due = due
    return {
        "events": next_id,
        "files": ticks,
        "first_due": round(t0, 6),
        "last_due": last_due,
        "generator_late_s": max(late) if late else 0.0,
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, default=RATE, help="events per second")
    ap.add_argument("--duration", type=float, default=DURATION_S, help="seconds of traffic")
    ap.add_argument("--hot-share", type=float, default=HOT_SHARE)
    a = ap.parse_args(argv)
    m = run(a.out, a.seed, a.rate, a.duration, a.hot_share)
    print(json.dumps(m), flush=True)


if __name__ == "__main__":
    main()
