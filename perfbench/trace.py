"""Spans and counters for the traced run, taken from outside the package:
around the benchmark's calls into each module, and from Spark's public
status surfaces. Nothing here runs in an untraced run."""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: name, start, end, parent span and trace id. Written
    out once, at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None, trace: int, **attrs) -> dict:
        span = {"id": next(self._ids), "name": name, "start": start, "end": end, "parent": parent, "trace": trace}
        span.update(attrs)
        with self._lock:
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        """Time the block as a child of this thread's innermost open span;
        ``new_trace`` starts a new trace id (one per timed call)."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        trace = next(self._ids) if new_trace or parent is None else parent["trace"]
        span = {"id": next(self._ids), "name": name, "parent": parent["id"] if parent else None, "trace": trace}
        span.update(attrs)
        stack.append(span)
        span["start"] = time.time()
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by children."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Py4JCounter:
    """Counts driver -> JVM py4j commands while installed (``with`` block),
    by wrapping the gateway client's ``send_command``. Approximate:
    background threads send too."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self.n = 0

    def __enter__(self) -> "Py4JCounter":
        orig = self._client.send_command

        def counted(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command  # back to the class's method


class SparkStatus:
    """Jobs, stages and tasks per job group from ``statusTracker``; input and
    shuffle bytes from the JVM status store's executor summaries."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._groups = itertools.count(1)

    def new_group(self, label: str) -> str:
        group = f"perfbench-{next(self._groups)}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def clear_group(self) -> None:
        """Untraced calls run with no job group, as before tracing."""
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            self.sc._jsc.sc().setLocalProperty(key, None)

    def group_counts(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def executor_bytes(self) -> dict[str, int]:
        summaries = self.sc._jsc.sc().statusStore().executorList(True)
        out = {"input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        for i in range(summaries.size()):
            e = summaries.apply(i)
            out["input_bytes"] += e.totalInputBytes()
            out["shuffle_read_bytes"] += e.totalShuffleRead()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
        return out


def cpu_times() -> list[int] | None:
    """The machine's cumulative CPU time counters (Linux ``/proc/stat``)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def steal_pct(before: list[int] | None, after: list[int] | None) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    samples: background noise the run could not control."""
    if not before or not after or len(before) < 8:
        return 0.0
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))
