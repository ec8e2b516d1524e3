"""Parquet scan layer over the driver testdata (TESTDATA.md).

Maps the reference's in-memory sources (``Stream.fromList``,
reference Stream.scala:320-323; ``Source`` node, Node.scala:129-133) onto
``spark.read.parquet`` — the idiomatic bounded source. Catalyst handles
column pruning and predicate pushdown into the parquet scan, which is the
scale-critical property the reference's cons-list source has no analog for.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _partsupp_fixture_present() -> bool:
    """True iff the driver's fixtures have grown a ``partsupp`` table
    (absent today — TESTDATA.md). The partsupp-dependent TPC-H queries
    (Q2/Q9/Q11/Q16/Q20, queries_tpch.py) self-register when it appears;
    requiring it in EVERY standard sf dir keeps the query registry
    consistent across the driver's smoke (sf0.001) / correctness
    (sf0.01) / bench (sf0.1) tiers."""
    root = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")
    dirs = [os.path.join(root, d) for d in ("sf0.001", "sf0.01", "sf0.1") if os.path.isdir(os.path.join(root, d))]
    return bool(dirs) and all(os.path.exists(os.path.join(d, "partsupp.parquet")) for d in dirs)


TABLES = _BASE_TABLES + (("partsupp",) if _partsupp_fixture_present() else ())

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_SESSION_MEMOS: weakref.WeakKeyDictionary[SparkSession, dict[str, dict]] = weakref.WeakKeyDictionary()


def session_memo(spark: SparkSession, name: str) -> dict:
    """The memo dict ``name`` of session ``spark``.

    Memos are keyed on the session object (weakly), never on ``id(spark)``:
    CPython reuses an id once its object is freed, so an id key can serve
    one session's DataFrame to another. A memoised DataFrame refers back
    to its session and so keeps the weak key alive; the memos of stopped
    sessions are therefore dropped whenever a new session asks for one."""
    memos = _SESSION_MEMOS.get(spark)
    if memos is None:
        for stopped in [s for s in _SESSION_MEMOS if s.sparkContext._jsc is None]:
            del _SESSION_MEMOS[stopped]
        memos = _SESSION_MEMOS[spark] = {}
    return memos.setdefault(name, {})


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one testdata table. Plain parquet scan — no caching of data, no
    schema override — so Catalyst sees the native parquet footer schema and
    can push filters/projections down (check: .explain shows PushedFilters).

    SESSION INVARIANT (explicit, not a side effect to discover later): this
    package pins ``spark.sql.session.timeZone=UTC`` on the session the first
    time a table with naive (NTZ / legacy-nanos) timestamps is loaded, and
    every event-time operator in the package (date_trunc, window, hour, ...)
    assumes that zone stays in force — the DuckDB oracles interpret naive
    timestamps as UTC, so restoring a non-UTC caller zone mid-stream would
    silently shift day/hour bucket boundaries. Embedders that need another
    session timezone should use a separate SparkSession for this package."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # (sf_dir, table) → DataFrame. A DataFrame is just a logical plan; reusing
    # it reuses the resolved file index + footer schema (driver-side
    # listing/inference cost) while keeping every per-query optimization
    # intact — Catalyst re-prunes columns and re-pushes filters per plan.
    scans = session_memo(spark, "scan")
    key = (sf_dir, name)
    if key not in scans:
        scans[key] = _normalize_timestamps(spark, spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))
    return scans[key]


def _normalize_timestamps(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Testdata parquet stores timestamps with isAdjustedToUTC=false, which
    Spark reads as TIMESTAMP_NTZ (and, under legacy nanosAsLong with NANOS
    data, as bigint). Normalize every such column to plain TIMESTAMP with the
    session timezone pinned to UTC, so the NTZ wall-clock value equals the
    UTC instant — the same convention DuckDB's epoch_ms() applies to naive
    timestamps. This runs under ANY SparkSession (ours or the driver's), so
    downstream unix_micros/window/withWatermark code sees one stable type."""
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    legacy_ns = [f.name for f in df.schema.fields if f.name == "ts" and f.dataType.simpleString() == "bigint"]
    if ntz or legacy_ns:
        # runtime-mutable conf; NTZ→TIMESTAMP cast interprets wall time in the
        # session tz, so UTC makes the cast value-preserving in epoch terms.
        # The cast's zone is frozen at analysis (ResolveTimeZone) immediately
        # below, but the pin must NOT be restored afterwards: downstream
        # tz-sensitive expressions (date_trunc/hour/window) resolve lazily at
        # query-build time and must see the same UTC zone the oracles assume.
        # This is the documented session invariant in load_table's docstring.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    for c in legacy_ns:
        # integer div — ns epochs overflow double-precision mantissa
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def spread(df: DataFrame, key: str) -> DataFrame:
    """Guarantee compute parallelism behind a scan: hash-repartition on
    ``key`` ONLY when the plan has fewer partitions than the session's
    cores. The testdata files are single-row-group parquet, so their scans
    can never exceed one task — without this, per-row-heavy operators
    (explode+hash, regex, array math) serialize on one core. On a real
    cluster the scan is already split by maxPartitionBytes into >= cores
    partitions and this is a no-op, preserving narrow (never-shuffle)
    operator shapes at scale.

    CONTRACT: call this on scan-stage DataFrames only. The parallelism
    probe (df.rdd) finalizes the physical plan, and under AQE that EXECUTES
    any upstream exchange stages at build time — free for plain scans (no
    exchanges), a hidden double-execution for shuffled inputs."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so operators can be written in SQL
    where that is clearer than the DataFrame API."""
    for name in tables:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)


def _lineitem_columns_present(*cols: str) -> bool:
    """True iff the driver's fixtures carry the given lineitem columns in
    EVERY standard sf dir (so the registry stays consistent across tiers);
    checked from the parquet footer (no Spark session at import time)."""
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover - pyarrow is a baked-in dep
        return False
    root = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")
    dirs = [os.path.join(root, d) for d in ("sf0.001", "sf0.01", "sf0.1") if os.path.isdir(os.path.join(root, d))]
    if not dirs:
        return False
    for d in dirs:
        path = os.path.join(d, "lineitem.parquet")
        if not os.path.exists(path):
            return False
        names = set(pq.read_schema(path).names)
        if not set(cols) <= names:
            return False
    return True


def _lineitem_receipt_dates_present() -> bool:
    """True iff the fixtures have grown l_commitdate and l_receiptdate
    (absent today — TESTDATA.md). TPC-H Q12 (queries_tpch.py)
    self-registers when they appear."""
    return _lineitem_columns_present("l_commitdate", "l_receiptdate")


def _lineitem_shipmode_present() -> bool:
    """True iff the fixtures have grown l_shipmode (absent today —
    TESTDATA.md). When it appears, Q12 upgrades from the reduced
    returnflag grouping to spec-exact shipmode grouping."""
    return _lineitem_columns_present("l_shipmode")
