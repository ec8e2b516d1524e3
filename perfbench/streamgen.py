"""Stream load generator: a separate single-threaded process that writes one
parquet file of events per tick.

    python3 streamgen.py live    --out DIR --seed N --files K --events E --interval S
                                 --late-from I --late L --commit-marker PATH --manifest PATH
    python3 streamgen.py backlog --out DIR --seed N --files K --events E --manifest PATH

``live`` writes file i when it is due, at ``t0 + i * interval`` (wall clock),
whatever the consumer is doing; ``t0`` is set half a second after the
process has started and written one throw-away file, so start-up cost does
not make the first ticks late. ``backlog`` writes all files at once, with
increasing modification times so a file source admits them in order.

Each file is written under a hidden temporary name and renamed into place.
File i holds events stamped at most ``JITTER_S`` before its nominal event
time ``EVENT_T0 + i * TICK_EVENT_S``: out of order by up to half the
watermark delay, so no on-time event is ever dropped. From file
``late_from`` on, ``late`` extra events are stamped hours before the first
nominal event time, far behind any watermark. Spark drops a late row
against the watermark of the batch before the one that reads it, so a late
row is only dropped from the third micro-batch on: the generator holds the
first late file until ``commit_marker`` (the second batch's commit) exists.
A hold shows as generator lateness.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC
TICK_EVENT_S = 10
WINDOW = "1 minute"
WATERMARK_DELAY = "30 seconds"
JITTER_S = 15  # half the watermark delay
LATE_OFFSET_S = 3600
MAX_LATE_PER_FILE = 1_000
EVENT_TYPES = np.asarray(["click", "error", "purchase", "signup", "view"], dtype=object)


def on_time(ts_s):
    """True for events stamped by the schedule, False for injected late ones."""
    return ts_s >= EVENT_T0_US // 1_000_000 - JITTER_S


def file_name(i: int) -> str:
    return f"events-{i:05d}.parquet"


def events(seed: int, i: int, n: int, n_late: int) -> pa.Table:
    """The events of file ``i``: the same for the same (seed, i)."""
    rng = np.random.default_rng([seed, i])
    nominal = EVENT_T0_US + i * TICK_EVENT_S * 1_000_000
    ts = nominal - rng.integers(0, JITTER_S * 1_000_000, n)
    if n_late:
        # one late event per one-minute window, so each is its own row at the
        # stateful operator, which counts pre-aggregated rows it drops
        slots = i * MAX_LATE_PER_FILE + np.arange(min(n_late, MAX_LATE_PER_FILE))
        late = EVENT_T0_US - (LATE_OFFSET_S + 60 * slots) * 1_000_000
        ts = np.concatenate([ts, late])
    m = n + n_late
    return pa.table(
        {
            "event_id": pa.array(np.arange(i * 1_000_000, i * 1_000_000 + m, dtype="int64")),
            "ts": pa.array(ts.astype("int64"), type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 1_500, m, dtype="int64")),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), m)], type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, m), 2)),
        }
    )


def write_atomic(table: pa.Table, out_dir: str, name: str) -> None:
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, name))


def _dump(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def live(a) -> None:
    write_atomic(events(a.seed, 0, a.events, 0), a.out, ".warm.parquet")
    os.remove(os.path.join(a.out, ".warm.parquet"))
    t0 = time.time() + 0.5
    files = []
    for i in range(a.files):
        due = t0 + i * a.interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        n_late = a.late if i >= a.late_from else 0
        committed = os.path.exists(a.commit_marker)
        while n_late and not committed and time.time() < due + 60:
            time.sleep(0.01)
            committed = os.path.exists(a.commit_marker)
        write_atomic(events(a.seed, i, a.events, n_late), a.out, file_name(i))
        files.append(
            {"name": file_name(i), "index": i, "due": due, "done": time.time(), "events": a.events,
             "late": n_late, "late_after_marker": committed or n_late == 0}
        )
    _dump(a.manifest, {"files": files})


def backlog(a) -> None:
    files = []
    now = time.time()
    for i in range(a.files):
        name = file_name(i)
        write_atomic(events(a.seed, i, a.events, 0), a.out, name)
        stamp = now - (a.files - i)  # one second apart, oldest first
        os.utime(os.path.join(a.out, name), (stamp, stamp))
        files.append({"name": name, "index": i, "events": a.events, "late": 0})
    _dump(a.manifest, {"files": files})


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("mode", choices=("live", "backlog"))
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--events", type=int, required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--interval", type=float, default=0.1)
    p.add_argument("--late-from", type=int, default=0)
    p.add_argument("--late", type=int, default=0)
    p.add_argument("--commit-marker", default="")
    a = p.parse_args(argv)
    os.makedirs(a.out, exist_ok=True)
    (live if a.mode == "live" else backlog)(a)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
