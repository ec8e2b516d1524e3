"""Guards that must hold under ``python -O`` (which strips ``assert``) and
memos that must never outlive the session they were built in."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def test_minhash_signatures_wider_than_eight_raise(spark):
    from simple_stream_processor_spark.operators import dedup

    sh = spark.createDataFrame([(1, "a b c")], "doc_id long, shingle string")
    with pytest.raises(ValueError, match="n_hashes=9"):
        dedup.minhash_signatures(sh, n_hashes=9)


def test_equidepth_hist_raises_past_its_radix_width(spark, tmp_path):
    """Prices spanning 4,097 coarse cells (cents div 65536) exceed the
    histogram's driver-side bound: the query refuses to build."""
    from simple_stream_processor_spark.queries_relational_ext import q_equidepth_hist

    prices = [i * 65536 / 100 for i in range(4097)]
    pq.write_table(pa.table({"l_extendedprice": prices}), str(tmp_path / "lineitem.parquet"))
    with pytest.raises(ValueError, match="outgrew its radix width"):
        q_equidepth_hist(spark, str(tmp_path))


def test_load_table_memo_follows_a_restarted_session(sf_dir):
    """Stop a session and start another in the same process: load_table
    must hand back a DataFrame of the new session, and the stopped
    session's memos are dropped. Runs in a child process so the suite's
    shared session stays up."""
    script = textwrap.dedent(
        f"""
        from simple_stream_processor_spark import tables
        from simple_stream_processor_spark.session import get_spark

        old = get_spark("memo-old", "1")
        assert tables.load_table(old, "region", {sf_dir!r}).sparkSession is old
        old.stop()
        new = get_spark("memo-new", "1")
        assert new is not old
        df = tables.load_table(new, "region", {sf_dir!r})
        assert df.sparkSession is new, "served a DataFrame of the stopped session"
        assert df.count() == 5
        assert list(tables._SESSION_MEMOS) == [new]
        new.stop()
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=repo)
    out = subprocess.run([sys.executable, "-c", script], cwd=repo, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
