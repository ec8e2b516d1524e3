"""The ``stream`` workload: generated event files -> file ``readStream`` ->
``streaming.windows.streaming_tumbling_window`` (update mode) ->
``foreachBatch`` sink calling ``storage.snapshot_write_batch``.

Phase 1 (open loop) offers a fixed rate far below capacity and measures
per-file latency; phase 2 drains a fixed backlog with bounded admission
(``maxFilesPerTrigger``) and measures throughput.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import threading
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import stats
import streamgen

HERE = os.path.dirname(os.path.abspath(__file__))
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
PHASES = ("triggerExecution", "latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets")

LIVE_INTERVAL_S = 0.1
LIVE_EVENTS = 500  # per file: 5k events/s offered
LIVE_WARM_FILES = 30  # the first 3 s of ticks warm the query and are not timed
LIVE_TIMED_FILES = 100  # at least 10 samples beyond p90
LIVE_LATE = 5  # late events per file from LIVE_LATE_FROM on
LIVE_LATE_FROM = 60  # 6 s in: after the second micro-batch has committed (see streamgen)
# A fixed trigger interval, as a deployment with a latency budget sets one.
# Under the default (back-to-back) trigger each batch's length set how many
# files the next one read: two runs' open-loop latencies differed 3x
# (2.83 s against 0.96 s) while their drain times differed by 37%.
LIVE_TRIGGER = "2 seconds"
BACKLOG_FILES = 18
BACKLOG_EVENTS = 5_000  # 90k events per drain
DRAIN_MAX_FILES = 6  # maxFilesPerTrigger: 3 micro-batches per drain
WARM_DRAINS = 2  # drain times still fell after one
TIMED_DRAINS = 3


def generate(mode: str, out: str, seed: int, files: int, events: int, manifest: str, **kw) -> subprocess.Popen:
    cmd = [sys.executable, os.path.join(HERE, "streamgen.py"), mode, "--out", out, "--seed", str(seed),
           "--files", str(files), "--events", str(events), "--manifest", manifest]
    for k, v in kw.items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    return subprocess.Popen(cmd)


def wait_ok(proc: subprocess.Popen, timeout: float) -> None:
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    if code != 0:
        raise RuntimeError(f"stream generator exited with {code}")


def reference_counts(src_dir: str, manifest: dict) -> dict[tuple[int, str], tuple[int, float]]:
    """(window start s, event type) -> (count, rounded sum) over the
    generator's on-time events: what the sink must end up holding."""
    frames = []
    for f in manifest["files"]:
        t = pq.read_table(os.path.join(src_dir, f["name"]), columns=["ts", "event_type", "value"])
        frames.append(pd.DataFrame({
            "ts_s": t.column("ts").cast(pa.int64()).to_numpy() // 1_000_000,  # timestamp[us] -> seconds
            "event_type": t.column("event_type").to_numpy(zero_copy_only=False),
            "value": t.column("value").to_numpy(),
        }))
    ev = pd.concat(frames, ignore_index=True)
    ev = ev[streamgen.on_time(ev["ts_s"])]
    g = ev.assign(w=(ev["ts_s"] // 60) * 60).groupby(["w", "event_type"])["value"].agg(["count", "sum"])
    return {(int(w), t): (int(r["count"]), round(float(r["sum"]), 2)) for (w, t), r in g.iterrows()}


def sink_counts(spark, sink_path: str) -> dict[tuple[int, str], tuple[int, float]]:
    """Last update per (window, event type) in the snapshot sink."""
    from simple_stream_processor_spark.storage import snapshot_read

    last: dict[tuple[int, str], tuple[int, int, float]] = {}
    for r in snapshot_read(spark, sink_path).collect():
        key = (int(r["window_start_s"]), r["event_type"])
        if key not in last or r["batch_id"] > last[key][0]:
            last[key] = (r["batch_id"], int(r["n"]), float(r["sum_value"]))
    return {k: (n, s) for k, (_, n, s) in last.items()}


def counts_match(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        got[k][0] == want[k][0] and abs(got[k][1] - want[k][1]) < 1e-6 for k in want
    )


def diff_summary(got: dict, want: dict) -> str:
    bad = sorted(k for k in got.keys() | want.keys() if got.get(k) != want.get(k))
    return f"{len(bad)} keys differ, first: " + ", ".join(f"{k}: {got.get(k)} vs {want.get(k)}" for k in bad[:3])


class WindowQuery:
    """One run of the pipeline over ``src_dir`` into a fresh sink."""

    def __init__(self, spark, work: str, label: str, src_dir: str, max_files: int | None):
        from pyspark.sql import functions as F

        from simple_stream_processor_spark.storage import snapshot_write_batch
        from simple_stream_processor_spark.streaming.windows import streaming_tumbling_window

        self.ckpt = os.path.join(work, f"ckpt-{label}")
        self.sink_path = os.path.join(work, f"sink-{label}")
        self.sink_done: dict[int, float] = {}
        self.sink_ms: dict[int, float] = {}
        self._lock = threading.Lock()

        def sink(batch_df, batch_id: int) -> None:
            t0 = time.time()
            snapshot_write_batch(spark, batch_df.withColumn("batch_id", F.lit(batch_id)), self.sink_path, batch_id)
            t1 = time.time()
            with self._lock:
                self.sink_done[batch_id] = t1
                self.sink_ms[batch_id] = (t1 - t0) * 1000.0

        reader = spark.readStream.schema(SCHEMA)
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        agg = streaming_tumbling_window(reader.parquet(src_dir), "ts", streamgen.WINDOW, streamgen.WATERMARK_DELAY)
        self.writer = agg.writeStream.outputMode("update").foreachBatch(sink).option("checkpointLocation", self.ckpt)

    def progress(self) -> list[dict]:
        return [p if isinstance(p, dict) else json.loads(p.json) for p in self.query.recentProgress]


def drain(spark, work: str, label: str, backlog_dir: str, on_done=None) -> tuple[float, WindowQuery]:
    """Drain the whole backlog (AvailableNow, bounded admission); returns the
    wall time from start to termination, with ``on_done(query)`` (a traced
    drain's span collection) inside it."""
    wq = WindowQuery(spark, work, label, backlog_dir, DRAIN_MAX_FILES)
    t0 = time.perf_counter()
    wq.query = wq.writer.trigger(availableNow=True).start()
    wq.query.awaitTermination()
    if on_done is not None:
        on_done(wq)
    return time.perf_counter() - t0, wq


def phase_stats(wq: WindowQuery, prefix: str) -> dict[str, float]:
    """Median per data batch of each trigger phase, and batch counts, from
    the query's progress."""
    prog = wq.progress()
    data = [p for p in prog if p.get("numInputRows", 0) > 0]
    out = {f"{prefix}.{ph}_ms": stats.median(p["durationMs"].get(ph, 0) for p in data) for ph in PHASES}
    out[f"{prefix}.batches"] = len(prog)
    out[f"{prefix}.data_batch_ratio"] = len(data) / len(prog)
    return out


def state_sink_stats(wq: WindowQuery) -> dict[str, float]:
    """State store size (at the last data batch) and median commit time;
    sink time per data batch and as a share of ``addBatch``."""
    data = [p for p in wq.progress() if p.get("numInputRows", 0) > 0]
    ops = [p["stateOperators"][0] for p in data]
    sink = [wq.sink_ms[int(p["batchId"])] for p in data]
    add = sum(p["durationMs"]["addBatch"] for p in data)
    return {
        "rows_total": ops[-1]["numRowsTotal"],
        "memory_bytes": ops[-1]["memoryUsedBytes"],
        "commit_ms": stats.median(o["commitTimeMs"] for o in ops),
        "sink_write_ms": stats.median(sink),
        "sink_share": sum(sink) / add,
    }


def dropped_by_watermark(wq: WindowQuery) -> int:
    return sum(
        sum(op.get("numRowsDroppedByWatermark", 0) for op in p.get("stateOperators", ())) for p in wq.progress()
    )


def trace_batches(tracer, wq: WindowQuery, parent: dict) -> None:
    """stream.batch spans from the progress, storage.sink_write spans from the
    sink timer, as children of ``parent``."""
    from datetime import datetime

    for p in wq.progress():
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        b = tracer.add("stream.batch", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
                       parent["id"], parent["trace"], batch=int(p["batchId"]))
        bid = int(p["batchId"])
        if bid in wq.sink_done:
            tracer.add("storage.sink_write", wq.sink_done[bid] - wq.sink_ms[bid] / 1000.0, wq.sink_done[bid],
                       b["id"], b["trace"], batch=bid)


class StreamWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.work = ctx.work
        self.backlog_dir = os.path.join(self.work, "backlog")
        self.backlog_manifest = os.path.join(self.work, "backlog.json")
        self.layers: dict[str, float] = {}

    def generate_load(self) -> None:
        wait_ok(generate("backlog", self.backlog_dir, self.ctx.seed, BACKLOG_FILES, BACKLOG_EVENTS,
                         self.backlog_manifest), timeout=120)

    def import_modules(self) -> None:
        import simple_stream_processor_spark.storage  # noqa: F401
        import simple_stream_processor_spark.streaming.windows  # noqa: F401

    def compute_expected(self) -> None:
        with open(self.backlog_manifest) as fh:
            self.backlog_ref = reference_counts(self.backlog_dir, json.load(fh))

    def check_drain(self, wq: WindowQuery) -> bool:
        return counts_match(sink_counts(self.ctx.spark, wq.sink_path), self.backlog_ref)

    def warm_up(self) -> list[float]:
        """Drains of the backlog. (The open loop's first ticks are its own
        warm-up.)"""
        self.ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        times = []
        for k in range(WARM_DRAINS):
            dt, wq = drain(self.ctx.spark, self.work, f"warm{k}", self.backlog_dir)
            if not self.check_drain(wq):
                raise RuntimeError("warm-up drain result differs from the reference")
            times.append(dt)
        return times

    def run(self) -> dict:
        res: dict = {"attempted": 0, "failed": 0}
        self._open_loop(res)
        self._drains(res)
        return res

    def _open_loop(self, res: dict) -> None:
        ctx, spark, tracer, layers = self.ctx, self.ctx.spark, self.ctx.tracer, self.layers
        live_dir = os.path.join(self.work, "live")
        os.makedirs(live_dir)
        live_manifest = os.path.join(self.work, "live.json")
        n_files = LIVE_WARM_FILES + max(LIVE_TIMED_FILES, int(round(ctx.seconds / LIVE_INTERVAL_S)))
        wq = WindowQuery(spark, self.work, "live", live_dir, None)
        with tracer.span("stream.open", new_trace=True) if tracer else contextlib.nullcontext() as open_span:
            wq.query = wq.writer.trigger(processingTime=LIVE_TRIGGER).start()
            gen = generate("live", live_dir, ctx.seed, n_files, LIVE_EVENTS, live_manifest, interval=LIVE_INTERVAL_S,
                           late_from=LIVE_LATE_FROM, late=LIVE_LATE,
                           commit_marker=os.path.join(wq.ckpt, "commits", "1"))
            wait_ok(gen, timeout=n_files * LIVE_INTERVAL_S + 60)
            wq.query.processAllAvailable()
            wq.query.stop()
        if tracer:
            trace_batches(tracer, wq, open_span)
        with open(live_manifest) as fh:
            files = json.load(fh)["files"]
        ctx.first_timed_at = files[LIVE_WARM_FILES]["due"]

        file_batch = stats.file_to_query_batch(
            stats.read_file_source_log(os.path.join(wq.ckpt, "sources", "0")),
            stats.source_end_offsets(wq.progress()),
        )
        timed = files[LIVE_WARM_FILES:]
        lat = stats.file_latencies({f["name"]: f["due"] for f in timed}, file_batch, wq.sink_done)
        if not lat:
            raise RuntimeError("no timed file reached the sink")
        late_total = sum(f["late"] for f in files)
        dropped = dropped_by_watermark(wq)
        got, want = sink_counts(spark, wq.sink_path), reference_counts(live_dir, {"files": files})
        checks = {
            "every timed file read": len(lat) == len(timed),
            "late events written after the second commit": all(f["late_after_marker"] for f in files),
            f"dropped by watermark ({dropped}) == late events ({late_total})": dropped == late_total,
            f"final counts == reference ({diff_summary(got, want)})": counts_match(got, want),
        }
        for what, ok in checks.items():
            if not ok:
                print(f"# stream open-loop check failed: {what}", file=sys.stderr)
        if not all(checks.values()):
            for p in wq.progress():
                op = (p.get("stateOperators") or [{}])[0]
                print(f"#   batch {p['batchId']} at {p['timestamp']}: {p['numInputRows']} rows, watermark "
                      f"{p.get('eventTime', {}).get('watermark')}, dropped {op.get('numRowsDroppedByWatermark')}, "
                      f"source end {p['sources'][0].get('endOffset')}", file=sys.stderr)
        res["attempted"] += 1
        res["failed"] += 0 if all(checks.values()) else 1
        res["event_latency_p50_s"] = stats.median(lat.values())
        res["event_latency_p90_s"] = stats.tail_percentile(lat.values(), 90)
        res["event_latency_samples"] = len(lat)

        lateness = [f["done"] - f["due"] for f in files]
        gen_end = max(f["done"] for f in files)
        print(f"# stream open loop: {len(lat)} timed files, latency p50 {res['event_latency_p50_s']:.3f} s, "
              f"generator lateness max {max(lateness):.3f} s, {len(wq.progress())} batches", file=sys.stderr)
        layers.update(phase_stats(wq, "stream.open"))
        ss = state_sink_stats(wq)
        layers["storage.open.sink_write_ms"] = ss["sink_write_ms"]
        layers["storage.open.sink_share"] = ss["sink_share"]
        layers["gen.lateness_p50_s"] = stats.median(lateness)
        layers["gen.lateness_max_s"] = max(lateness)
        layers["gen.late_events"] = late_total
        layers["state.dropped_by_watermark"] = dropped
        layers["stream.backlog_files_end"] = sum(
            1 for f in files if wq.sink_done.get(file_batch.get(f["name"], -1), float("inf")) > gen_end
        )

    def _drains(self, res: dict) -> None:
        tracer, layers = self.ctx.tracer, self.layers
        times, traced_times = [], []
        for k in range(TIMED_DRAINS):
            # a traced run alternates untraced and traced drains to measure the
            # overhead; a traced drain collects its spans before its clock stops
            traced = tracer is not None and k % 2 == 1
            with tracer.span("stream.drain", new_trace=True) if traced else contextlib.nullcontext() as dspan:
                on_done = (lambda wq: trace_batches(tracer, wq, dspan)) if traced else None
                dt, dq = drain(self.ctx.spark, self.work, f"drain{k}", self.backlog_dir, on_done)
            (traced_times if traced else times).append(dt)
            res["attempted"] += 1
            if not self.check_drain(dq):
                print(f"# stream drain {k}: final counts differ from the reference", file=sys.stderr)
                res["failed"] += 1
            if k == 0:
                layers.update(phase_stats(dq, "stream.drain"))
                ss = state_sink_stats(dq)
                layers.update({f"state.{m}": ss[m] for m in ("rows_total", "memory_bytes", "commit_ms")})
                layers["storage.sink_write_ms"] = ss["sink_write_ms"]
                layers["storage.sink_share"] = ss["sink_share"]
        if traced_times:
            layers["trace.overhead_pct"] = 100.0 * (stats.median(traced_times) / stats.median(times) - 1.0)
        print(f"# stream drains: {' '.join(f'{t:.2f}' for t in times)} s", file=sys.stderr)
        res["drain_s"] = stats.median(times)
        res["drain_eps"] = BACKLOG_FILES * BACKLOG_EVENTS / res["drain_s"]

    def summary(self, res: dict) -> tuple[dict, dict, dict]:
        """(end-to-end metrics, named figures with units, e2e.* layers)."""
        e2e = {"pass_s": res["drain_s"], "latency_s": res["event_latency_p50_s"]}
        info = {
            "event_latency_p50_s": (res["event_latency_p50_s"], "s"),
            "event_latency_p90_s": (res["event_latency_p90_s"], f"s (n={res['event_latency_samples']})"),
            "drain_eps": (res["drain_eps"], "1/s"),
        }
        layers = {"e2e.event_latency_p50_s": res["event_latency_p50_s"],
                  "e2e.event_latency_p90_s": res["event_latency_p90_s"] or 0.0,
                  "e2e.event_latency_samples": res["event_latency_samples"],
                  "e2e.drain_eps": res["drain_eps"], **self.layers}
        return e2e, info, layers
