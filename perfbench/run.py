"""Benchmark of the engine end to end and per layer.

    python3 perfbench/run.py --workload {batch,stream} --seed N --seconds S --trace {0,1}

Run from the repository root. Each run is one process with a fresh JVM at
``local[<cores>]``. Inputs are generated from ``--seed`` inside the run's
own work directory (under ``.perfbench/``); every timed result is checked.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). NOTES.md explains the workloads
and what each metric is predicted to move.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("batch", "stream")

END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_s": "s"}

SPANS = ("run", "setup.session", "setup.registry", "setup.warmup", "pass", "query", "query.build", "query.exec",
         "parmap", "stream.open", "stream.drain", "stream.batch", "storage.sink_write")


def _per_layer() -> dict[str, str]:
    from batch import BATCH
    from stream import PHASES

    m = {
        "session.start_s": "s", "registry.import_s": "s", "setup.warmup_s": "s", "setup.warmup_passes": "count",
        "e2e.mix_s": "s", "e2e.query_geomean_s": "s", "e2e.parmap_eps": "1/s",
        "e2e.event_latency_p50_s": "s", "e2e.event_latency_p90_s": "s", "e2e.event_latency_samples": "count",
        "e2e.drain_eps": "1/s",
        "build.s": "s", "build.jobs": "count", "build.py4j_calls": "count",
        "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes", "exec.input_bytes": "bytes",
        "exec.py4j_calls": "count",
    }
    for q in BATCH:
        m.update({f"q.{q}.build_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.jobs": "count"})
    m.update({"parmap.s": "s", "parmap.tasks": "count"})
    for phase in ("open", "drain"):
        m.update({f"stream.{phase}.{p}_ms": "ms" for p in PHASES})
        m.update({f"stream.{phase}.batches": "count", f"stream.{phase}.data_batch_ratio": "ratio"})
    m.update({
        "state.rows_total": "count", "state.memory_bytes": "bytes", "state.commit_ms": "ms",
        "state.dropped_by_watermark": "count",
        "storage.sink_write_ms": "ms", "storage.sink_share": "ratio",
        "storage.open.sink_write_ms": "ms", "storage.open.sink_share": "ratio",
        "gen.lateness_p50_s": "s", "gen.lateness_max_s": "s", "gen.late_events": "count",
        "stream.backlog_files_end": "count", "stream.drain.eps_1core": "1/s",
        "trace.overhead_pct": "%", "trace.spans": "count", "env.steal_pct": "%",
    })
    m.update({f"self.{s}_s": "s" for s in SPANS})
    return m


class Context:
    """What one run shares between its steps."""

    def __init__(self, args, root: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.root = root
        self.work = os.path.join(root, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data", "sf")
        # Half the CPUs: the rest is left to the JVM's JIT and GC threads, the
        # Python driver and the stream generator. On a 4-vCPU VM, five seeds
        # at local[4] gave batch pass_s of 2.6-4.3 s; four at local[2], 3.1-3.7 s.
        self.cores = str(max(1, len(os.sched_getaffinity(0)) // 2))
        self.spark = self.tracer = self.status = None
        self.first_timed_at: float | None = None


def configure_env(work: str, cores: str) -> None:
    """Keep every file Spark and Python write inside the work directory, and
    point the package's fixture probe at the generated tables."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cores,
            "SPARK_GRAFT_DRIVER_MEM": "4g",
            "SPARK_GRAFT_TESTDATA_ROOT": os.path.join(work, "data"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options -Djava.io.tmpdir={tmp} "
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
            ),
        }
    )


def start_spark(cores: str):
    from simple_stream_processor_spark.session import get_spark

    return get_spark("perfbench", cores)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def drain_1core(backlog: str, work: str) -> None:
    """Single-core baseline for the drain: warm-up drain, then one timed
    drain, at ``local[1]`` in this (child) process."""
    import stream

    configure_env(work, "1")
    spark = start_spark("1")
    try:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        stream.drain(spark, work, "warm1", backlog)
        dt, _ = stream.drain(spark, work, "timed1", backlog)
    finally:
        stop_spark(spark)
    print(json.dumps({"eps": stream.BACKLOG_FILES * stream.BACKLOG_EVENTS / dt}))


def run(args, ctx: Context) -> tuple[dict, dict]:
    """Returns (result, metrics to report)."""
    import batch
    import stream
    import trace

    wl = stream.StreamWorkload(ctx) if args.workload == "stream" else batch.BatchWorkload(ctx)
    excluded = 0.0  # load generation and expected answers are not set-up
    t = time.time()
    wl.generate_load()
    excluded += time.time() - t

    ctx.tracer = trace.Tracer() if ctx.trace else None
    span = ctx.tracer.span if ctx.tracer else (lambda name, **kw: contextlib.nullcontext())
    layers: dict[str, float] = {}
    with span("run", new_trace=True):
        t = time.time()
        with span("setup.registry"):
            wl.import_modules()
        layers["registry.import_s"] = time.time() - t
        t = time.time()
        wl.compute_expected()
        excluded += time.time() - t
        cpu0 = trace.cpu_times()
        t = time.time()
        with span("setup.session"):
            ctx.spark = start_spark(ctx.cores)
        layers["session.start_s"] = time.time() - t
        try:
            if ctx.tracer:
                ctx.status = trace.SparkStatus(ctx.spark)
            t = time.time()
            with span("setup.warmup"):
                layers["setup.warmup_passes"] = len(wl.warm_up())
            layers["setup.warmup_s"] = time.time() - t
            res = wl.run()
        finally:
            stop_spark(ctx.spark)
    layers["env.steal_pct"] = trace.steal_pct(cpu0, trace.cpu_times())
    setup_s = ctx.first_timed_at - T_START - excluded

    e2e, info, e2e_layers = wl.summary(res)
    e2e["setup_s"] = setup_s
    info["setup_s"] = (setup_s, "s")
    layers.update(e2e_layers)
    for name, (value, unit) in info.items():
        print(f"{args.workload} {name} {value if value is not None else 'n/a'} {unit}")

    if not ctx.trace:
        return res, {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    if args.workload == "stream":
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--drain-1core", wl.backlog_dir,
             "--work", os.path.join(ctx.work, "one-core")],
            capture_output=True, text=True, timeout=150, check=True,
        )
        layers["stream.drain.eps_1core"] = json.loads(out.stdout.strip().splitlines()[-1])["eps"]
    self_times = ctx.tracer.self_times()
    layers.update({f"self.{s}_s": self_times.get(s, 0.0) for s in SPANS})
    layers["trace.spans"] = len(ctx.tracer.spans)
    out_dir = os.path.join(ctx.root, ".perfbench")
    ctx.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    units = _per_layer()
    # metrics a workload does not exercise read 0
    return res, {k: {"value": float(layers.get(k) or 0.0), "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="engine benchmark")
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--drain-1core", help=argparse.SUPPRESS)
    p.add_argument("--work", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "simple_stream_processor_spark", "__init__.py")):
        print("perfbench: simple_stream_processor_spark not found; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.drain_1core:
        drain_1core(args.drain_1core, args.work)
        return 0
    if args.workload is None:
        p.error("--workload is required")

    ctx = Context(args, root)
    configure_env(ctx.work, ctx.cores)
    try:
        res, metrics = run(args, ctx)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
