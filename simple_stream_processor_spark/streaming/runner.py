"""Streaming execution helpers: file-based sources over the testdata
parquet (rate-limited = backpressure boundary) and memory-sink collection.

``Stream.fromBlockingQueue`` (reference Stream.scala:330-348) maps to a
rate-limited ``readStream``: the queue's end-of-stream signal becomes
``Trigger.AvailableNow`` (drain everything, then stop), the error signal
becomes a source exception failing the query, and the bounded-queue
admission becomes ``maxFilesPerTrigger``/``maxOffsetsPerTrigger``.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".tmp")

# Streaming audit capture: when SPARK_GRAFT_STREAM_AUDIT=1, every stream
# this module drains appends one record here — the final micro-batch
# physical plan plus all progress dicts — so tools/stream_audit.py can
# assert the Python-boundary and state-bound disciplines over the LIVE
# micro-batch plans, which tools/plan_audit.py (batch-only) structurally
# skips. Off by default: zero overhead on the driver/bench paths.
AUDIT_LOG: list[dict] = []


def _audit_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_STREAM_AUDIT", "0") == "1"


def audit_record(query, progress: list[dict] | None = None) -> None:
    """Append a (plan, progress) audit record for a finished StreamingQuery.
    Safe on any query state; never raises into the caller."""
    if not _audit_enabled():
        return
    rec: dict = {"plan": "", "progress": progress or []}
    try:
        if progress is None:
            rec["progress"] = [
                p.asDict() if hasattr(p, "asDict") else p for p in query.recentProgress
            ]
    except Exception:
        pass
    try:
        # the last executed micro-batch's physical plan; every batch of an
        # AvailableNow drain compiles the same shape, so one is representative
        rec["plan"] = query._jsq.explainInternal(False)
    except Exception as exc:
        rec["plan_error"] = f"{type(exc).__name__}: {exc}"[:200]
    AUDIT_LOG.append(rec)


def _tmpdir(kind: str) -> str:
    path = os.path.join(TMP_ROOT, kind, uuid.uuid4().hex[:12])
    os.makedirs(path, exist_ok=True)
    return path


# The file streaming source needs an explicit schema, and probing it is a
# driver-side footer read (~0.1 s). The schema is metadata keyed on file
# mtime+size, so caching it caches no query output and a changed fixture
# busts the key: one probe per (path, mtime, size) per process.
_SCHEMA_CACHE: dict = {}


def stream_schema(spark: SparkSession, sf_dir: str, table: str):
    """Memoized parquet schema probe for the streaming twins' readStream."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, None, None)
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


def _table_reader(spark: SparkSession, sf_dir: str, table: str):
    # the file streaming source requires a directory; a glob narrows it to
    # the one table file
    return spark.readStream.schema(stream_schema(spark, sf_dir, table)).option(
        "pathGlobFilter", f"{table}.parquet"
    )


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Unbounded view of one testdata table via the file streaming source,
    with the columns exactly as stored (timestamps stay TIMESTAMP_NTZ)."""
    return _table_reader(spark, sf_dir, table).parquet(sf_dir)


def stream_events(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Unbounded view of the events table via the file streaming source,
    with ``ts`` normalised to plain TIMESTAMP exactly as the batch path
    does (tables._normalize_timestamps). ``max_files_per_trigger`` is the
    admission-control knob — the Spark form of the reference's bounded
    queue capacity (ADR-0004: block, never drop: unread files simply wait
    for the next trigger)."""
    from simple_stream_processor_spark.tables import _normalize_timestamps

    reader = _table_reader(spark, sf_dir, "events")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _normalize_timestamps(spark, reader.parquet(sf_dir))


def _drain(spark: SparkSession, writer, checkpoint: str, timeout_s: float) -> list[dict]:
    """Start ``writer`` with Trigger.AvailableNow, wait for it to drain,
    and return its progress dicts. A drain still running after
    ``timeout_s`` is stopped and raises ``TimeoutError``: its sink holds a
    partial answer.

    State-store partition count is frozen to spark.sql.shuffle.partitions
    at first checkpoint, and AQE never applies to streaming, so under a
    default-config session every micro-batch would pay 200 state tasks.
    The count is sized to the state, not the cores: every drained twin
    keeps O(types x days) ≈ 150-200 state rows, and at ~100 rows per store
    that is 2 stores; each extra store pays fixed open/commit checkpoint
    I/O per micro-batch for a handful of rows (4-twin alternating A/B at
    sf0.1: 8 -> 2 stores is −8% per drain). Keyed state at production
    volume sizes the same rule through SPARK_GRAFT_STREAM_STATE_PARTITIONS.
    A foreachBatch drain has no state store; there the value sizes each
    batch's shuffles over a few thousand rows, where 2 partitions measured
    no slower than 4. The caller's value is restored once the drain ends,
    so batch queries are untouched."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    state_parts = int(
        os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", min(spark.sparkContext.defaultParallelism, 2))
    )
    spark.conf.set("spark.sql.shuffle.partitions", state_parts)
    try:
        query = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
        if not query.awaitTermination(timeout_s):
            query.stop()
            raise TimeoutError(f"stream {query.name or query.id} did not drain within {timeout_s} s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    progress = [p.asDict() if hasattr(p, "asDict") else p for p in query.recentProgress]
    audit_record(query, progress)
    return progress


def run_stream_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    timeout_s: int = 120,
) -> tuple[DataFrame, list[dict]]:
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink; return (result DataFrame, progress dicts). The progress list is
    the metrics surface — ``stateOperators[].numRowsDroppedByWatermark``
    is the reference's ``ssp_late_event_dropped_total``. Raises
    ``TimeoutError`` if the drain does not finish within ``timeout_s``."""
    spark = sdf.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    writer = sdf.writeStream.format("memory").queryName(name).outputMode(output_mode)
    progress = _drain(spark, writer, _tmpdir("chk"), timeout_s)
    return spark.table(name), progress
