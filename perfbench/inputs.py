"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``--seed`` (and a size), so the same
seed gives the same events. The program under test only ever sees the
files these functions write.

Run as a script, this module is the ``live_feed`` generator: one
single-threaded process that writes NDJSON files into a watched directory
on a fixed schedule and never slows down when the engine does::

    python3 perfbench/inputs.py --dir D --seed S --rate 250 --tick 0.1 \
        --start-at EPOCH --ticks N --keys 150 --report gen.json

The traffic follows the ``events`` table of the project's sf0.1 test data
(100,000 events): 1,500 users with uniform activity (about 66.7 events
each), the five event types in equal shares, values exponential with mean
50 rounded to cents, ``props`` = ``{"k": n}`` with ``n`` uniform in 0..99,
and event times uniform over 30 days.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from datetime import datetime, timezone

import numpy as np

#: the event types of the sf0.1 test data, in equal shares
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
#: sf0.1 has 100,000 events over 1,500 users
EVENTS_PER_USER = 100_000 / 1_500
VALUE_MEAN = 50.0


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.exponential(VALUE_MEAN, n), 2)


def _props(rng: np.random.Generator, n: int) -> list[str]:
    return [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]


def iso(epoch_s: float) -> str:
    """ISO-8601 UTC string with microseconds, as the NDJSON source reads it."""
    return datetime.fromtimestamp(epoch_s, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ"
    )


def live_tick(seed: int, tick: int, per_tick: int, n_keys: int,
              due_s: float, stream: int = 0) -> list[dict]:
    """The events of one generator tick.

    Ids are ``tick * per_tick + j``; the keys, types and values depend only
    on ``(seed, stream, tick)``; ``stream`` separates the event sets drawn
    from one seed. Every event's ``ts`` is the tick's due time plus
    ``j`` microseconds, so event time rises strictly with the id and no
    event is ever behind the watermark.
    """
    rng = np.random.default_rng([seed, stream, tick])
    keys = rng.integers(1, n_keys + 1, per_tick)
    types = rng.integers(0, len(EVENT_TYPES), per_tick)
    values = _values(rng, per_tick)
    props = _props(rng, per_tick)
    base = tick * per_tick
    return [
        {
            "event_id": base + j,
            "ts": iso(due_s + j * 1e-6),
            "user_id": int(keys[j]),
            "event_type": EVENT_TYPES[types[j]],
            "value": float(values[j]),
            "props": props[j],
        }
        for j in range(per_tick)
    ]


def write_ndjson(path: str, events: list[dict]) -> None:
    """Write atomically: the file source ignores names starting with '.'"""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")))
            f.write("\n")
    os.rename(tmp, path)


def write_backlog(d: str, seed: int, n: int, n_keys: int, files: int,
                  base_s: float, step_s: float, stream: int) -> None:
    """A pre-written NDJSON backlog in ``files`` equal files (no wall-clock
    dependence): ``n`` events ``step_s`` apart from ``base_s``."""
    per_file = n // files
    for k in range(files):
        events = live_tick(seed, k, per_file, n_keys, 0.0, stream)
        for e in events:
            e["ts"] = iso(base_s + e["event_id"] * step_s)
        write_ndjson(os.path.join(d, f"backlog-{k:04d}.json"), events)


def replay_table(seed: int, n: int, days: int):
    """The replay_history event table as a pyarrow Table: ``n`` events over
    ``days`` days, in time order, with the sf0.1 users-per-event ratio."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 9])
    n_keys = round(n / EVENTS_PER_USER)
    start_us = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
    span_us = days * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    types = rng.integers(0, len(EVENT_TYPES), n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(1, n_keys + 1, n)),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[types]),
        "value": pa.array(_values(rng, n)),
        "props": pa.array(_props(rng, n)),
    })


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True, help="events per second")
    ap.add_argument("--tick", type=float, required=True, help="seconds per file")
    ap.add_argument("--start-at", type=float, required=True, help="epoch seconds of tick 0's due time")
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()

    per_tick = round(a.rate * a.tick)
    late_max = 0.0
    for k in range(a.ticks):
        due = a.start_at + k * a.tick
        events = live_tick(a.seed, k, per_tick, a.keys, due)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_ndjson(os.path.join(a.dir, f"ev-{k:06d}.json"), events)
        late_max = max(late_max, time.time() - due)
    with open(a.report, "w") as f:
        json.dump({"ticks": a.ticks, "per_tick": per_tick, "late_s_max": late_max}, f)


if __name__ == "__main__":
    main()
