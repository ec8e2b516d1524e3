"""Bucketed-layout tests: the write-side strategy SCALE.md promises,
verified against the physical plan — a fact-fact join over co-bucketed
tables must run with NO shuffle exchange on either side."""

import contextlib

import pytest
from pyspark.sql import functions as F

from simple_stream_processor_spark import storage
from simple_stream_processor_spark.tables import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_extendedprice", "l_discount")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    storage.write_bucketed(li, "li_bucketed", "l_orderkey", 8)
    storage.write_bucketed(o, "o_bucketed", "o_orderkey", 8)
    yield "li_bucketed", "o_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    li_t, o_t = bucketed_tables
    li = storage.read_table(spark, li_t)
    o = storage.read_table(spark, o_t)
    # disable broadcast so the plan MUST choose a co-bucketed join strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "extended")
        phys = plan.split("== Physical Plan ==")[-1]
        assert "Exchange hashpartitioning" not in phys, "bucketed join still shuffles"
        assert "SortMergeJoin" in phys or "ShuffledHashJoin" in phys
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_bucketed_join_values_match_plain_join(spark, sf_dir, bucketed_tables):
    li_t, o_t = bucketed_tables
    li = storage.read_table(spark, li_t)
    o = storage.read_table(spark, o_t)
    bucketed_rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("r"))
        .collect()[0]
        .r
    )
    li_p = load_table(spark, "lineitem", sf_dir)
    o_p = load_table(spark, "orders", sf_dir)
    plain_rev = (
        li_p.join(o_p, li_p.l_orderkey == o_p.o_orderkey)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("r"))
        .collect()[0]
        .r
    )
    assert bucketed_rev == plain_rev


def test_bucketed_agg_avoids_exchange(spark, bucketed_tables):
    li_t, _ = bucketed_tables
    li = storage.read_table(spark, li_t)
    agg = li.groupBy("l_orderkey").agg(F.sum("l_extendedprice").alias("s"))
    plan = agg._sc._jvm.PythonSQLUtils.explainString(agg._jdf.queryExecution(), "extended")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange hashpartitioning" not in phys, "groupBy on bucket key still shuffles"


def test_date_partitioned_write_prunes_at_planning_time(spark, sf_dir, tmp_path):
    """SCALE.md §2: a date filter on the partition column must become a
    PartitionFilter (directory pruning), not a data filter — and the
    pruned read must agree with the unpartitioned read."""
    from pyspark.sql import functions as F

    from simple_stream_processor_spark import storage
    from simple_stream_processor_spark.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    path = str(tmp_path / "events_by_date")
    storage.write_date_partitioned(ev, path)

    back = storage.read_date_partitioned(spark, path)
    lo, hi = "2024-01-08", "2024-01-15"
    pruned = back.where((F.col("event_date") >= lo) & (F.col("event_date") < hi))

    plan = pruned._sc._jvm.PythonSQLUtils.explainString(pruned._jdf.queryExecution(), "formatted")
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and "event_date" in scan[0], plan
    # no residual event_date predicate on the data side
    data_filters = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert all("event_date" not in ln for ln in data_filters)

    expect = ev.where((F.to_date("ts") >= F.lit(lo)) & (F.to_date("ts") < F.lit(hi))).count()
    assert pruned.count() == expect and expect > 0


def _row_group_ranges(path: str, col: str) -> list[int]:
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(f"{path}/*.parquet"):
        pf = pq.ParquetFile(f)
        for i in range(pf.metadata.num_row_groups):
            rg = pf.metadata.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema == col:
                    out.append(c.statistics.max - c.statistics.min)
    return out


def test_zorder_write_tightens_stats_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered layout must yield parquet row-group min/max stats that
    are tight in BOTH clustering columns (≈ sqrt(n_rg) cells per dim),
    where a single-column sort leaves the other column at ~full domain —
    the quantitative basis for two-dimensional row-group skipping."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.col("value").cast("int").alias("val")
    )
    lo_u, hi_u, lo_v, hi_v = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("val"), F.max("val")
    ).collect()[0]
    zp, sp = str(tmp_path / "z"), str(tmp_path / "s")
    storage.write_zordered(
        ev, zp, "user_id", "val", n_files=8, x_domain=hi_u + 1, y_domain=hi_v + 1
    )
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(sp)

    def mean(xs):
        return sum(xs) / len(xs)

    zu, zv = mean(_row_group_ranges(zp, "user_id")), mean(_row_group_ranges(zp, "val"))
    su, sv = mean(_row_group_ranges(sp, "user_id")), mean(_row_group_ranges(sp, "val"))
    du, dv = hi_u - lo_u, hi_v - lo_v
    # z-order: useful skipping on BOTH dims
    assert zu < 0.5 * du and zv < 0.5 * dv, (zu, du, zv, dv)
    # single-column sort: great on its key, none on the other
    assert su < 0.2 * du and sv > 0.6 * dv, (su, sv)
    # layout change must not change the data
    back = spark.read.parquet(zp)
    assert back.count() == ev.count()
    assert back.groupBy().agg(F.sum("user_id"), F.sum("val")).collect() == \
        ev.groupBy().agg(F.sum("user_id"), F.sum("val")).collect()


def test_snapshot_versions_pin_reads(spark, sf_dir, tmp_path):
    """Append creates a new version without disturbing pinned reads;
    overwrite starts the visible set fresh while older versions stay
    readable; a pinned DataFrame built BEFORE a later commit still
    resolves to its own file set."""
    from simple_stream_processor_spark.storage import (
        snapshot_read,
        snapshot_versions,
        snapshot_write,
    )
    from simple_stream_processor_spark.tables import load_table

    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    path = str(tmp_path / "snap")

    v1 = snapshot_write(spark, nation.where("n_nationkey < 10"), path)
    pinned_v1 = snapshot_read(spark, path, version=v1)
    v2 = snapshot_write(spark, nation.where("n_nationkey >= 10"), path)  # append

    assert snapshot_versions(path) == [v1, v2] == [1, 2]
    assert snapshot_read(spark, path, version=1).count() == 10
    assert snapshot_read(spark, path).count() == nation.count()  # latest = union
    assert pinned_v1.count() == 10  # a commit AFTER the read changes nothing

    v3 = snapshot_write(spark, nation.where("n_nationkey = 0"), path, mode="overwrite")
    assert snapshot_read(spark, path).count() == 1
    assert snapshot_read(spark, path, version=2).count() == nation.count()  # history intact
    assert snapshot_versions(path) == [1, 2, 3] and v3 == 3


def test_snapshot_read_unknown_version_raises(spark, sf_dir, tmp_path):
    import pytest

    from simple_stream_processor_spark.storage import snapshot_read, snapshot_write
    from simple_stream_processor_spark.tables import load_table

    path = str(tmp_path / "snap2")
    snapshot_write(spark, load_table(spark, "region", sf_dir), path)
    with pytest.raises(FileNotFoundError, match="not in"):
        snapshot_read(spark, path, version=99)


def test_snapshot_vacuum_preserves_kept_versions(spark, sf_dir, tmp_path):
    """Vacuum retires old versions and their unreachable files, but every
    file a kept manifest references (including append-carried ones)
    survives and the kept version still reads identically."""
    from simple_stream_processor_spark.storage import (
        snapshot_read,
        snapshot_vacuum,
        snapshot_versions,
        snapshot_write,
    )
    from simple_stream_processor_spark.tables import load_table

    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    path = str(tmp_path / "snapv")
    snapshot_write(spark, nation.where("n_nationkey < 10"), path)
    snapshot_write(spark, nation.where("n_nationkey >= 10"), path)  # v2 carries v1 files
    snapshot_write(spark, nation.where("n_nationkey = 3"), path, mode="overwrite")  # v3 orphans both

    out = snapshot_vacuum(path, keep_last=2)  # keep v2 (full union) and v3
    assert out["retired_versions"] == [1] and out["removed_files"] == 0  # v2 still needs v1's files
    assert snapshot_versions(path) == [2, 3]
    assert snapshot_read(spark, path, version=2).count() == nation.count()

    out2 = snapshot_vacuum(path, keep_last=1)  # only v3 survives
    assert out2["retired_versions"] == [2] and out2["removed_files"] > 0
    assert snapshot_read(spark, path).count() == 1


def test_snapshot_batch_sink_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch → snapshot_write_batch is an exactly-once sink: a
    real stream commits its micro-batches, and replaying an
    already-committed batch id (what Structured Streaming does after a
    failure) is a no-op — versions, files, and row counts unchanged."""
    from simple_stream_processor_spark.storage import (
        snapshot_read,
        snapshot_versions,
        snapshot_write_batch,
    )
    from simple_stream_processor_spark.session import _LOCAL_CHECKPOINT_MANAGER
    from simple_stream_processor_spark.streaming.runner import stream_events

    # runs under the checkpoint manager get_spark picks for local disk
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == _LOCAL_CHECKPOINT_MANAGER
    path = str(tmp_path / "snap_stream")
    sdf = stream_events(spark, sf_dir).select("event_id", "event_type", "value")
    q = (
        sdf.writeStream.foreachBatch(
            lambda batch, bid: snapshot_write_batch(spark, batch, path, bid)
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    versions = snapshot_versions(path)
    assert versions, "stream committed no batches"
    total = snapshot_read(spark, path).count()
    from simple_stream_processor_spark.tables import load_table

    assert total == load_table(spark, "events", sf_dir).count()

    # replay every committed batch id with fresh (even different) data:
    # all must no-op because the ids are already in the manifest log
    replay = load_table(spark, "events", sf_dir).limit(5).select("event_id", "event_type", "value")
    for bid in range(len(versions)):
        v = snapshot_write_batch(spark, replay, path, bid)
        assert v in versions  # returned the existing commit, minted nothing
    assert snapshot_versions(path) == versions
    assert snapshot_read(spark, path).count() == total


# --- micro-batch commit paths ------------------------------------------------


def _typed_batch(spark):
    """Long, double, string, null, timestamp and decimal columns, as a
    local relation the optimiser can size (like a micro-batch's plan)."""
    return spark.sql(
        """
        SELECT CAST(id AS BIGINT) AS id, CAST(x AS DOUBLE) AS x, CAST(s AS STRING) AS s,
               CAST(n AS BIGINT) AS n, CAST(ts AS TIMESTAMP) AS ts, CAST(amt AS DECIMAL(12, 2)) AS amt
        FROM VALUES
          (1, 0.5, 'a', NULL, '2024-01-01 12:30:00', '1.25'),
          (2, NULL, NULL, 7, NULL, NULL),
          (3, -2.75, 'ü€', -1, '1999-12-31 23:59:59.123456', '-9999999999.99')
        AS t(id, x, s, n, ts, amt)
        """
    )


@contextlib.contextmanager
def _broadcast_threshold(spark, value: str):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _commit_batches(spark, path, threshold, monkeypatch):
    """Commit a three-row batch then an empty one under ``threshold``;
    returns the number of commits that took the Arrow path."""
    arrow_calls = []
    real = storage._write_arrow
    monkeypatch.setattr(storage, "_write_arrow", lambda df, d: arrow_calls.append(d) or real(df, d))
    batch = _typed_batch(spark)
    with _broadcast_threshold(spark, threshold):
        assert storage.snapshot_write_batch(spark, batch, path, 0) == 1
        assert storage.snapshot_write_batch(spark, batch.where(F.lit(False)), path, 1) == 2
    return len(arrow_calls)


@pytest.mark.parametrize("threshold, arrow_commits", [("-1", 0), ("1", 1)], ids=["broadcast-off", "threshold-1"])
def test_snapshot_batch_arrow_and_spark_paths_read_back_equal(spark, tmp_path, monkeypatch, threshold, arrow_commits):
    """A batch within the broadcast threshold is written from Arrow, one
    above it by a Spark write job; both read back identically, in rows and
    schema, at both versions (the second batch is empty). With broadcasts
    off every batch takes the Spark path; at a 1-byte threshold only the
    empty batch, estimated at 0 bytes, still fits."""
    fast, slow = str(tmp_path / "fast"), str(tmp_path / "slow")
    assert _commit_batches(spark, fast, str(64 * 1024 * 1024), monkeypatch) == 2
    assert _commit_batches(spark, slow, threshold, monkeypatch) == arrow_commits
    slow_files = storage._read_manifest(f"{slow}/_manifests", 1)["files"]
    assert slow_files and not any(f.endswith("/part-00000.parquet") for f in slow_files)  # Spark part files

    want = sorted(_typed_batch(spark).collect())
    for v in (1, 2):
        a = storage.snapshot_read(spark, fast, version=v)
        b = storage.snapshot_read(spark, slow, version=v)
        assert a.schema == b.schema
        assert sorted(a.collect()) == sorted(b.collect()) == want


@pytest.mark.parametrize("threshold", [str(64 * 1024 * 1024), "-1"], ids=["arrow", "spark"])
def test_snapshot_batch_crash_before_manifest_rename(spark, tmp_path, monkeypatch, threshold):
    """A crash after the batch's data is written but before its manifest
    is renamed into place leaves the previous version as the table; the
    replayed batch id then publishes exactly once."""
    import os

    path = str(tmp_path / "snap")
    batch = _typed_batch(spark)
    real_replace = os.replace

    def crash_on_manifest(src, dst):
        if "_manifests" in str(dst):
            raise OSError("simulated crash before the manifest rename")
        real_replace(src, dst)

    with _broadcast_threshold(spark, threshold):
        storage.snapshot_write_batch(spark, batch.where("id = 1"), path, 0)
        monkeypatch.setattr(os, "replace", crash_on_manifest)
        with pytest.raises(OSError, match="simulated crash"):
            storage.snapshot_write_batch(spark, batch, path, 1)
        monkeypatch.setattr(os, "replace", real_replace)

        assert os.listdir(os.path.join(path, "data", "batch-1"))  # the data write happened
        assert storage.snapshot_versions(path) == [1]
        assert [r.id for r in storage.snapshot_read(spark, path).collect()] == [1]

        assert storage.snapshot_write_batch(spark, batch, path, 1) == 2
        assert storage.snapshot_write_batch(spark, batch, path, 1) == 2  # replay again: no-op
        assert storage.snapshot_versions(path) == [1, 2]
        assert sorted(r.id for r in storage.snapshot_read(spark, path).collect()) == [1, 1, 2, 3]


def _manifest_opens_per_commit(spark, path, n_versions, monkeypatch) -> int:
    """Fake ``n_versions`` committed batches (ids 0..n-1), then count how
    many manifests one new commit and one replay of the newest id open."""
    import builtins
    import json
    import os

    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir)
    for v in range(1, n_versions + 1):
        with open(os.path.join(mdir, f"v{v}.json"), "w") as fh:
            json.dump({"version": v, "batch_id": v - 1, "files": []}, fh)
    opened = []

    def counting_open(file, mode="r", *args, **kwargs):
        if "_manifests" in str(file) and "r" in mode:
            opened.append(file)
        return builtins.open(file, mode, *args, **kwargs)

    monkeypatch.setattr(storage, "open", counting_open, raising=False)
    batch = _typed_batch(spark)
    assert storage.snapshot_write_batch(spark, batch, path, n_versions) == n_versions + 1
    assert storage.snapshot_write_batch(spark, batch, path, n_versions) == n_versions + 1
    monkeypatch.undo()
    return len(opened)


def test_snapshot_batch_commit_reads_a_constant_number_of_manifests(spark, tmp_path, monkeypatch):
    """Batch ids only grow within a checkpoint, so a new commit reads the
    latest manifest alone instead of every manifest: the count of opened
    manifests is the same at version 10 and at version 1,000."""
    small = _manifest_opens_per_commit(spark, str(tmp_path / "v10"), 10, monkeypatch)
    large = _manifest_opens_per_commit(spark, str(tmp_path / "v1000"), 1000, monkeypatch)
    assert small == large == 3  # commit: latest; replay of the latest id: latest + itself


def test_snapshot_batch_after_snapshot_write_scans_for_replays(spark, tmp_path):
    """A table whose latest manifest carries no batch id (written by
    ``snapshot_write``) falls back to scanning every manifest: a batch id
    committed before it is still recognised as a replay."""
    path = str(tmp_path / "mixed")
    batch = _typed_batch(spark)
    assert storage.snapshot_write_batch(spark, batch, path, 5) == 1
    assert storage.snapshot_write(spark, batch.where("id = 1"), path) == 2
    assert storage.snapshot_write_batch(spark, batch, path, 5) == 1  # replay: no-op
    assert storage.snapshot_write_batch(spark, batch, path, 0) == 3  # never committed
    assert storage.snapshot_read(spark, path).count() == 7


def test_get_spark_uses_filesystem_checkpoint_manager_on_local_disk(spark):
    """On a ``file:`` default filesystem the session renames checkpoint
    files with RawLocalFileSystem (one File.renameTo) instead of the
    FileContext manager, whose rename forks ``readlink`` without Hadoop's
    native libraries."""
    from simple_stream_processor_spark import session

    assert spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS").startswith("file:")
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == session._LOCAL_CHECKPOINT_MANAGER
