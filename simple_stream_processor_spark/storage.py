"""Write-side storage layout: bucketed tables for shuffle-free fact-fact
joins and sorted-within-bucket layout for data skipping.

This is the materialization of SCALE.md §2's write-side strategy: the
lineitem x orders join (the one unavoidable shuffle in the TPC-H-shaped
workload) disappears entirely when both tables are bucketed on the join
key at write time — each bucket pairs 1:1, the join runs bucket-local,
and .explain shows NO Exchange on either fact side. At 100 TB this is the
difference between re-shuffling 100 TB per query and never shuffling it
again after ingest.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 16,
    sort_key: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted-within-bucket)
    managed parquet table. Bucket count rule of thumb at scale:
    total-size / n_buckets ≈ 100-200 MB per bucket file per partition.

    Idempotent across interrupted runs: a killed session can leave the
    managed table's warehouse directory behind with no metastore entry, so
    ``DROP TABLE IF EXISTS`` can't clear it and ``saveAsTable`` fails with
    LOCATION_ALREADY_EXISTS. For overwrite mode we drop the catalog entry
    AND remove any orphaned directory before writing."""
    if mode == "overwrite":
        import sys
        from urllib.parse import urlparse

        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # the session resolves warehouse.dir to an absolute file: URI at
        # start; managed locations are <warehouse>/<tbl> for the default
        # database and <warehouse>/<db>.db/<tbl> for qualified names
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
        # only act on a session-resolved ABSOLUTE warehouse path: with the
        # conf absent the relative fallback would delete a same-named
        # directory under whatever the cwd happens to be
        if warehouse and os.path.isabs(warehouse):
            parts = table.lower().split(".")
            rel = f"{parts[-2]}.db/{parts[-1]}" if len(parts) > 1 else parts[-1]
            target = os.path.join(warehouse.rstrip("/"), rel)
            if os.path.exists(target):
                print(f"# write_bucketed: clearing orphaned warehouse dir {target}", file=sys.stderr)
                shutil.rmtree(target, ignore_errors=True)
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_key)
    if sort_key is not None:
        writer = writer.sortBy(sort_key)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back; Catalyst sees the bucket spec and plans
    bucket-local joins/aggregations when keys line up
    (spark.sql.sources.bucketing.enabled, on by default)."""
    return spark.table(table)


def write_date_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    partition_col: str = "event_date",
    mode: str = "overwrite",
) -> None:
    """Persist a time-series table hive-partitioned by calendar date —
    SCALE.md §2's layout for event data: a time-window query then prunes
    to the matching date directories at PLANNING time (`PartitionFilters`
    in the scan, untouched dates never opened). At 100 TB with ~3 years
    of events, a one-week dashboard query reads ~0.6% of the files
    instead of all of them.

    The partition column is DERIVED (date(ts)) and additive — the
    original timestamp stays in the data files, so intra-day predicates
    still push down as ordinary row-group filters."""
    from pyspark.sql import functions as F

    df.withColumn(partition_col, F.to_date(F.col(ts_col))).write.mode(mode).partitionBy(
        partition_col
    ).parquet(path)


def read_date_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read back a date-partitioned table. Filters on the partition column
    (or expressions Catalyst can rewrite onto it) prune directories before
    any I/O is scheduled."""
    return spark.read.parquet(path)


def zorder_value(x, y, bits: int = 16, x_domain: int | None = None, y_domain: int | None = None):
    """Morton (Z-order) interleave of two integer columns into one sort
    key: bit i of x lands at position 2i, bit i of y at 2i+1, so sorting
    by the z-value clusters rows that are close in BOTH dimensions.

    ``x_domain``/``y_domain`` (exclusive upper bounds) rescale each input
    to the full ``bits`` resolution — REQUIRED for good clustering when
    the two domains differ in bit width, else the wider column's high
    bits dominate every split and the narrow column degrades to noise.

    Pure JVM bitwise math (shift/and/or — whole-stage-codegen'd): the
    classic bit-spreading sequence widens each ``bits``-bit input to
    2·``bits`` with zero gaps, then the two spreads are OR-merged.
    Inputs are clamped to [0, 2^bits).
    """
    from pyspark.sql import functions as F

    def norm(c, domain):
        c = c.cast("long")
        if domain is not None:
            c = F.shiftleft(c, bits) / F.lit(int(domain))
            c = c.cast("long")
        return c

    def spread(c):
        c = F.least(F.greatest(c.cast("long"), F.lit(0)), F.lit((1 << bits) - 1))
        # 16-bit spread: 0x0000FFFF -> 0x55555555 (each step doubles the gap granularity)
        c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF))
        c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333))
        c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))
        return c

    return spread(norm(x, x_domain)).bitwiseOR(F.shiftleft(spread(norm(y, y_domain)), 1))


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
    mode: str = "overwrite",
    x_domain: int | None = None,
    y_domain: int | None = None,
) -> None:
    """Write parquet Z-ordered on two integer dimensions: range-partition
    then sort by the Morton code, so every parquet row group's min/max
    stats are tight in BOTH columns — predicate pushdown on EITHER
    dimension skips most row groups at scan time.

    This is the layout answer when a 100 TB table is filtered sometimes
    by user and sometimes by value band: a single-column sort gives
    perfect skipping on one dimension and none on the other; the Z-order
    trades a little of each for useful skipping on both (verified
    quantitatively against parquet footer stats in
    tests/test_storage.py). Linear scaling: one range exchange + local
    sort, identical cost shape to any sorted write.
    """
    from pyspark.sql import functions as F

    z = zorder_value(F.col(x_col), F.col(y_col), x_domain=x_domain, y_domain=y_domain).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


# --- Snapshot versioning (manifest-pinned reads / "time travel") ------------
#
# Reproducible training runs need the EXACT file set a job read, not "the
# directory as of whenever the scheduler got around to it". A snapshot
# table is a parquet directory plus numbered manifest files: each commit
# writes its data files under data/, then atomically publishes
# _manifests/v{N}.json listing every file visible at that version (carrying
# the previous version's files forward for append, or only its own for
# overwrite). Readers pin a version and load exactly those files —
# concurrent appends can never change what a running job sees, and
# yesterday's corpus is re-readable byte-for-byte after today's ingest.
# The manifest is the same idea as Iceberg/Delta's snapshot log cut down
# to the piece reproducibility needs (no row-level deletes, no schema
# evolution log); at 100 TB the manifest holds file PATHS (KBs per
# thousand files), never data.


def _manifest_versions(mdir: str) -> list[int]:
    return sorted(int(f[1:-5]) for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json"))


def _read_manifest(mdir: str, version: int) -> dict:
    with open(os.path.join(mdir, f"v{version}.json")) as fh:
        return json.load(fh)


def _publish_manifest(mdir: str, manifest: dict) -> int:
    """Write ``manifest`` to a temporary name and rename it into place: the
    rename is the commit point, so a reader sees the whole version or none."""
    new = manifest["version"]
    tmp = os.path.join(mdir, f".v{new}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(mdir, f"v{new}.json"))
    return new


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "append",
) -> int:
    """Commit ``df`` to snapshot table ``path``; returns the new version.

    Data files land under ``path/data/commit-{N}/`` (a directory per
    commit, so concurrent history is append-only and no commit ever
    rewrites another's files); the manifest publish is the commit point.
    ``mode='append'`` carries the previous manifest's files forward;
    ``mode='overwrite'`` starts the visible set fresh (old files remain
    on disk for older-version reads — retention/GC is a vacuum policy,
    not a correctness concern).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"snapshot_write mode must be append|overwrite, got {mode!r}")
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    versions = _manifest_versions(mdir)
    prev = versions[-1] if versions else 0
    new = prev + 1

    commit_dir = os.path.join(path, "data", f"commit-{new}")
    df.write.mode("error").parquet(commit_dir)
    files = sorted(
        os.path.join(commit_dir, f)
        for f in os.listdir(commit_dir)
        if f.endswith(".parquet")
    )
    carried = _read_manifest(mdir, prev)["files"] if mode == "append" and prev else []
    return _publish_manifest(mdir, {"version": new, "files": carried + files})


def snapshot_read(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read snapshot table ``path`` at ``version`` (default: latest).

    Loads exactly the manifest's file list — files committed after that
    version (or dropped by a later overwrite) are invisible, whenever
    they were written.
    """
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions under {path}")
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"snapshot version {v} not in {versions} under {path}")
    return spark.read.parquet(*_read_manifest(os.path.join(path, "_manifests"), v)["files"])


def snapshot_versions(path: str) -> list[int]:
    """All published versions of snapshot table ``path``, ascending."""
    mdir = os.path.join(path, "_manifests")
    return _manifest_versions(mdir) if os.path.isdir(mdir) else []


def snapshot_vacuum(path: str, keep_last: int = 1) -> dict:
    """Retention: keep the newest ``keep_last`` manifests, delete older
    manifest files AND any data file no kept manifest references.

    Deleting a manifest is what retires a version; the data sweep then
    removes exactly the files that became unreachable (an overwritten
    set, or files only visible to retired versions). Files shared with a
    kept version survive — append-carried files are safe by construction.
    Only data (.parquet) files are swept; Spark's _SUCCESS/.crc markers
    are inert and left in place. Returns counts for observability. At 100 TB the sweep compares file
    PATH sets (manifest-sized), never touches data contents, and each
    unlink is independent — trivially parallelizable; correctness never
    depends on vacuum running at all.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    mdir = os.path.join(path, "_manifests")
    versions = _manifest_versions(mdir)
    kept, retired = versions[-keep_last:], versions[:-keep_last]
    live: set[str] = set()
    for v in kept:
        live.update(_read_manifest(mdir, v)["files"])
    removed_files = 0
    data_root = os.path.join(path, "data")
    for dirpath, _dirnames, filenames in os.walk(data_root):
        for f in filenames:
            full = os.path.join(dirpath, f)
            if f.endswith(".parquet") and full not in live:
                os.remove(full)
                removed_files += 1
    for v in retired:
        os.remove(os.path.join(mdir, f"v{v}.json"))
    return {"kept_versions": kept, "retired_versions": retired, "removed_files": removed_files}


def _fits_on_driver(df: DataFrame) -> bool:
    """True when the optimiser's size estimate for ``df`` is within the
    session's ``spark.sql.autoBroadcastJoinThreshold`` — the size Spark
    itself is willing to collect to the driver for a broadcast. A threshold
    of 0 or less (broadcasts off) keeps everything on the executors."""
    limit = df.sparkSession._jconf.autoBroadcastJoinThreshold()
    if limit <= 0:
        return False
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())) <= limit


def _write_arrow(df: DataFrame, commit_dir: str) -> str:
    """Run ``df`` once into Arrow on the driver and write it as one parquet
    file under ``commit_dir`` (cleared first: a crashed attempt may have
    left files there). No Spark write job and no Hadoop output committer:
    on local disk those fork a ``chmod`` per created file."""
    import pyarrow.parquet as pq

    table = df.toArrow()
    shutil.rmtree(commit_dir, ignore_errors=True)
    os.makedirs(commit_dir)
    final = os.path.join(commit_dir, "part-00000.parquet")
    tmp = os.path.join(commit_dir, ".part-00000.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    return final


def snapshot_write_batch(spark: SparkSession, df: DataFrame, path: str, batch_id: int) -> int:
    """Idempotent per-micro-batch commit for ``foreachBatch`` — the
    exactly-once sink contract: Structured Streaming replays a batch id
    after failure, and a replay of an already-committed id must be a
    NO-OP, not a duplicate append.

    Idempotence key = the batch id recorded in each manifest. Batch ids
    only grow within a checkpoint, so a commit reads the latest manifest
    alone: an id above its ``batch_id`` is new, and only an id at or below
    it (a replay) scans the older manifests backwards for its version. A
    table whose latest manifest has no ``batch_id`` (written by
    ``snapshot_write``) is always scanned.

    Data lands under ``data/batch-{id}`` (replay-stable name), and the
    atomic manifest rename is the commit point — a crash after the data
    write but before the rename leaves an unreferenced directory that a
    replay overwrites and vacuum sweeps, never a half-visible batch. A
    batch the optimiser sizes within the broadcast threshold is written
    from Arrow on the driver (``_write_arrow``); a larger one by a Spark
    write job, the only path that works when a batch does not fit on the
    driver.
    Usage: ``q.foreachBatch(lambda b, i: snapshot_write_batch(spark, b, path, i))``.
    """
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    versions = _manifest_versions(mdir)
    prev = versions[-1] if versions else 0
    latest = _read_manifest(mdir, prev) if prev else {"batch_id": -1, "files": []}
    if batch_id <= latest.get("batch_id", batch_id):
        for v in reversed(versions):
            if _read_manifest(mdir, v).get("batch_id") == batch_id:
                return v  # replayed batch: already committed, no-op

    commit_dir = os.path.join(path, "data", f"batch-{batch_id}")
    if _fits_on_driver(df):
        files = [_write_arrow(df, commit_dir)]
    else:
        df.write.mode("overwrite").parquet(commit_dir)  # overwrite: crash-retry-safe
        files = sorted(
            os.path.join(commit_dir, f)
            for f in os.listdir(commit_dir)
            if f.endswith(".parquet")
        )
    manifest = {"version": prev + 1, "batch_id": batch_id, "files": latest["files"] + files}
    return _publish_manifest(mdir, manifest)
