"""The closed-loop ``batch`` workload: one client calls declared queries
through the registry, one after another, materialises each with
``collect()``, then runs the canonical pipeline."""

from __future__ import annotations

import sys
import time

import oracle
import stats
import trace

# Single-pass, executor-bound queries: scan with a wide aggregate,
# multi-way join with a per-order aggregate, range join and session
# windows; the canonical pipeline adds Arrow UDFs. (q_tpch_q1 disagrees with
# its oracle on some seeds; those calls count as failed, see NOTES.md.)
BATCH = ("q_tpch_q1", "q_tpch_q21", "q_range_join", "q_session_window")

DATA_SCALE = 0.5  # half the sf0.1 row counts
PARMAP_N = 200_000
# The first pass pays JIT, codegen and Python-worker start (5-8x a warm
# pass); later passes keep speeding up for a while. Warm up until a pass is
# within WARMUP_SETTLED of the one before it.
WARMUP_MIN_PASSES = 2
WARMUP_MAX_PASSES = 3
WARMUP_SETTLED = 0.15
MIN_TIMED_PASSES = 3


def parmap_pipeline(spark, n: int):
    """The reference's canonical pipeline (BASELINE.md):
    Source(1..N) -> parMap(4)(x2) -> asyncBoundary(16) -> Sink(sum)."""
    from pyspark.sql import functions as F

    from simple_stream_processor_spark.pipeline import Pipeline

    src = spark.range(1, n + 1, numPartitions=4).select(F.col("id").alias("x"))
    return (
        Pipeline.source(src)
        # a lambda, so cloudpickle ships it by value to the Python workers
        .par_map("x", lambda s: s * 2, "x", "y", "long", parallelism=4)
        .async_boundary(16)
        .to_sink(F.sum("y").alias("s"))
    )


class BatchWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.names = BATCH

    def generate_load(self) -> None:
        import datagen

        self.sf_dir = self.ctx.data_dir
        datagen.write_tables(self.sf_dir, self.ctx.seed, DATA_SCALE)

    def import_modules(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def compute_expected(self) -> None:
        import datagen

        self.expected = oracle.expected(self.sf_dir, {n: self.oracles[n] for n in self.names}, datagen.TABLES)

    # -- one pass -------------------------------------------------------------

    def _call(self, name: str, rec: dict, py4j) -> None:
        from simple_stream_processor_spark import registry

        ctx = self.ctx
        registry.release_scoped_caches()
        fn = self.queries[name]
        if py4j is not None:
            tr, st = ctx.tracer, ctx.status
            b0, p0 = st.executor_bytes(), py4j.n
            g_build = st.new_group(f"{name}.build")
            with tr.span("query", new_trace=True, query=name) as q:
                with tr.span("query.build"):
                    df = fn(ctx.spark, self.sf_dir)
                p1 = py4j.n
                g_exec = st.new_group(f"{name}.exec")
                b1 = st.executor_bytes()
                with tr.span("query.exec") as ex:
                    rows = df.collect()
            p2 = py4j.n
            b2 = st.executor_bytes()
            rec["build_s"] = q["end"] - q["start"] - (ex["end"] - ex["start"])
            rec["exec_s"] = ex["end"] - ex["start"]
            rec["s"] = q["end"] - q["start"]
            rec["build"] = st.group_counts(g_build)
            rec["exec"] = st.group_counts(g_exec)
            rec["build_py4j"], rec["exec_py4j"] = p1 - p0, p2 - p1
            rec["exec_bytes"] = {k: b2[k] - b1[k] for k in b2}
        else:
            t0 = time.perf_counter()
            df = fn(ctx.spark, self.sf_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            rec["build_s"], rec["exec_s"], rec["s"] = t1 - t0, t2 - t1, t2 - t0
        rec["ok"] = oracle.rows_fingerprint(rows, df.columns) == self.expected[name]

    def _parmap(self, rec: dict, traced: bool) -> None:
        ctx = self.ctx
        if traced:
            g = ctx.status.new_group("parmap")
            with ctx.tracer.span("parmap", new_trace=True) as sp:
                row = parmap_pipeline(ctx.spark, PARMAP_N).collect()[0]
            rec["s"] = sp["end"] - sp["start"]
            rec["tasks"] = ctx.status.group_counts(g)["tasks"]
        else:
            t0 = time.perf_counter()
            row = parmap_pipeline(ctx.spark, PARMAP_N).collect()[0]
            rec["s"] = time.perf_counter() - t0
        rec["ok"] = row["s"] == PARMAP_N * (PARMAP_N + 1)

    def _calls(self, out: dict, py4j) -> None:
        for name in self.names:
            self._call(name, out["calls"][name], py4j)
        self._parmap(out["parmap"], py4j is not None)

    def one_pass(self, traced: bool = False) -> dict:
        """One pass of the mix. A traced pass installs the py4j counter and
        the job groups for its own length only; ``wall_s`` covers the whole
        pass, tracing work included."""
        out: dict = {"calls": {n: {} for n in self.names}, "parmap": {}}
        t0 = time.perf_counter()
        if traced:
            with trace.Py4JCounter(self.ctx.spark) as py4j, self.ctx.tracer.span("pass"):
                self._calls(out, py4j)
            self.ctx.status.clear_group()
        else:
            self._calls(out, None)
        out["wall_s"] = time.perf_counter() - t0
        out["s"] = sum(c["s"] for c in out["calls"].values()) + out["parmap"]["s"]
        out["bad"] = [n for n, c in out["calls"].items() if not c["ok"]] + ([] if out["parmap"]["ok"] else ["parmap"])
        detail = " ".join(f"{n}={c['build_s']:.2f}+{c['exec_s']:.2f}" for n, c in out["calls"].items())
        wrong = f" WRONG: {' '.join(out['bad'])}" if out["bad"] else ""
        print(f"# pass{' (traced)' if traced else ''} {out['s']:.2f}s: {detail} parmap={out['parmap']['s']:.2f}{wrong}",
              file=sys.stderr, flush=True)
        return out

    # -- the run ----------------------------------------------------------------

    def warm_up(self) -> list[float]:
        """Untimed passes until pass times settle. Their results are not
        counted: the timed passes repeat the same calls on the same tables."""
        times: list[float] = []
        while len(times) < WARMUP_MIN_PASSES or (
            abs(times[-1] - times[-2]) > WARMUP_SETTLED * times[-2] and len(times) < WARMUP_MAX_PASSES
        ):
            times.append(self.one_pass()["s"])
        return times

    def run(self) -> dict:
        ctx = self.ctx
        traced = ctx.tracer is not None
        passes, traced_passes = [], []
        t_end = time.perf_counter() + ctx.seconds
        ctx.first_timed_at = time.time()
        while len(passes) < MIN_TIMED_PASSES or time.perf_counter() < t_end:
            passes.append(self.one_pass())
            if traced:  # alternate untraced and traced passes; compare them for the overhead
                traced_passes.append(self.one_pass(traced=True))
        timed = passes + traced_passes
        res = {
            "attempted": sum(len(p["calls"]) + 1 for p in timed),
            "failed": sum(len(p["bad"]) for p in timed),
        }
        res["mix_s"] = stats.median(p["s"] for p in passes)
        per_query = {n: stats.median(p["calls"][n]["s"] for p in passes) for n in self.names}
        res["query_geomean_s"] = stats.geomean(per_query.values())
        res["parmap_eps"] = PARMAP_N / stats.median(p["parmap"]["s"] for p in passes)
        if traced:
            res["layers"] = self.traced_layers(traced_passes)
            untraced_wall, traced_wall = (stats.median(p["wall_s"] for p in ps) for ps in (passes, traced_passes))
            res["layers"]["trace.overhead_pct"] = 100.0 * (traced_wall / untraced_wall - 1.0)
        return res

    def summary(self, res: dict) -> tuple[dict, dict, dict]:
        """(end-to-end metrics, named figures with units, e2e.* layers)."""
        e2e = {"pass_s": res["mix_s"], "latency_s": res["query_geomean_s"]}
        info = {
            "mix_s": (res["mix_s"], "s"),
            "query_geomean_s": (res["query_geomean_s"], "s"),
            "parmap_eps": (res["parmap_eps"], "1/s"),
        }
        layers = {"e2e.mix_s": res["mix_s"], "e2e.query_geomean_s": res["query_geomean_s"],
                  "e2e.parmap_eps": res["parmap_eps"], **res.get("layers", {})}
        return e2e, info, layers

    def traced_layers(self, passes: list[dict]) -> dict[str, float]:
        med = stats.median
        per_pass = lambda f: med(sum(f(c) for c in p["calls"].values()) for p in passes)  # noqa: E731
        out = {
            "build.s": per_pass(lambda c: c["build_s"]),
            "build.jobs": per_pass(lambda c: c["build"]["jobs"]),
            "build.py4j_calls": per_pass(lambda c: c["build_py4j"]),
            "exec.s": per_pass(lambda c: c["exec_s"]),
            "exec.jobs": per_pass(lambda c: c["exec"]["jobs"]),
            "exec.stages": per_pass(lambda c: c["exec"]["stages"]),
            "exec.tasks": per_pass(lambda c: c["exec"]["tasks"]),
            "exec.py4j_calls": per_pass(lambda c: c["exec_py4j"]),
        }
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes"):
            out[f"exec.{k}"] = per_pass(lambda c, k=k: c["exec_bytes"][k])
        for n in self.names:
            out[f"q.{n}.build_s"] = med(p["calls"][n]["build_s"] for p in passes)
            out[f"q.{n}.exec_s"] = med(p["calls"][n]["exec_s"] for p in passes)
            out[f"q.{n}.jobs"] = med(p["calls"][n]["build"]["jobs"] + p["calls"][n]["exec"]["jobs"] for p in passes)
        out["parmap.s"] = med(p["parmap"]["s"] for p in passes)
        out["parmap.tasks"] = med(p["parmap"]["tasks"] for p in passes)
        return out
