"""Ordered parallelism + execution boundaries (SURVEY §2.3, ADR-0002/0004).

- **parMap** (reference Stream.scala:103-186): ordered parallel map. The
  reference batches elements, runs them on a thread pool, and reassembles
  results in input order via an indexed array. Spark-native equivalent:
  *partition-parallel* execution with an explicit order key carried through
  the computation, restored by sorting on that key whenever order must be
  observable. The heavy lift (the user function) runs Arrow-batched in a
  Pandas UDF across all task slots — the reference's thread pool,
  generalized to a cluster.

- **asyncBoundary** (reference Node.scala:214-274): a bounded-queue
  producer/consumer decoupling with block-not-drop backpressure
  (ADR-0004). Spark's analog is the stage/exchange boundary plus
  micro-batch admission control — value-transparent by contract, so the
  operator here is ``repartition``: it introduces exactly the
  pipeline-decoupling exchange and provably does not change the bag of
  rows. Backpressure itself lives in Structured Streaming's source rate
  limits (maxOffsetsPerTrigger / maxFilesPerTrigger), see
  ``streaming/runner.stream_events(max_files_per_trigger=...)``.

Fail-fast parity: parallelism <= 0 raises (reference Stream.scala:104),
buffer_size <= 0 raises (reference Node.scala:216).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def par_map_ordered(
    df: DataFrame,
    order_col: str,
    fn: Callable[[pd.Series], pd.Series],
    in_col: str,
    out_col: str,
    out_type: str,
    parallelism: int | None = None,
) -> DataFrame:
    """Ordered parallel map (reference Stream.scala:103-186).

    The user function runs as an Arrow-vectorized pandas_udf on every task
    slot; the order key rides along so callers can ``orderBy(order_col)``
    to observe input order — the Spark form of the reference's indexed
    reassembly (Stream.scala:121,154). ``parallelism`` maps to an explicit
    repartition; None keeps the upstream partitioning (usually better:
    avoids a shuffle)."""
    if parallelism is not None and parallelism <= 0:
        raise ValueError(f"parallelism must be > 0, got {parallelism}")
    out = df if parallelism is None else df.repartition(parallelism)
    udf = F.pandas_udf(fn, out_type)
    return out.withColumn(out_col, udf(F.col(in_col)))


def async_boundary(df: DataFrame, buffer_size: int) -> DataFrame:
    """Value-transparent execution boundary (reference Node.scala:214-274).
    ``buffer_size`` becomes the partition count of the decoupling exchange —
    the degree of pipelined parallelism downstream, the closest structural
    analog of the reference's queue capacity."""
    if buffer_size <= 0:
        raise ValueError(f"buffer_size must be > 0, got {buffer_size}")
    return df.repartition(buffer_size)
