"""Stateless transforms + terminals (SURVEY §2.2, reference ADR-0001 family 1).

Reference semantics re-expressed:
- ``map``/``filter``/``flatMap`` (reference Stream.scala:14-47) are pure
  per-element transforms → ``select``/``where``/``explode``. Catalyst fuses
  them into one whole-stage-codegen span, the analog (and superset) of the
  reference's lazy closure fusion (SURVEY §4).
- ``append`` (Stream.scala:49-54) → ``unionAll``: bag concatenation.
- ``fold`` sink (Node.scala:439-468) → global aggregation; Spark computes it
  as partial (map-side) + final combine, which is exactly the
  monoid-fold contract the reference requires ((O,O)=>O with zero).
- ``take``/iterator (Stream.scala:268-302) → sort + limit: Spark has no
  global order without a sort, so the ordered-prefix contract carries an
  explicit key (SURVEY §4 "ordered emission" convention).

Scale notes: all operators here are narrow (no shuffle) except fold's final
combine (one-row exchange) and take's TakeOrderedAndProject (top-k per
partition then merge — no full sort at 100 TB).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def round_like_duckdb(col: Column, d: int) -> Column:
    """``round(col, d)`` for a DOUBLE ``col`` with DuckDB's arithmetic:
    scale by 10^d, round half away from zero, scale back, each step in
    doubles. Spark's own ``round`` rounds the shortest decimal form of the
    double half-up, so a money sum of 1.005 (stored as 1.00499999...)
    gives 1.01 in Spark and 1.0 in DuckDB; here the multiply reproduces
    DuckDB's 100.49999999999999 and both engines give 1.0."""
    scale = 10.0**d
    return F.round(col * scale, 0) / scale


def map_transform(df: DataFrame, *cols: Column) -> DataFrame:
    """1→1 projection (reference Stream.scala:14-23). Alias every computed
    column at the call site so downstream schemas are stable."""
    return df.select(*cols)


def filter_where(df: DataFrame, predicate: Column) -> DataFrame:
    """Predicate keep (reference Stream.scala:36-47). Push-down friendly:
    pass plain column comparisons so they reach the parquet scan."""
    return df.where(predicate)


def flat_map_explode(df: DataFrame, out_cols: Sequence[Column], array_col: Column, alias: str) -> DataFrame:
    """1→N via array explode (reference Stream.scala:25-34). Empty arrays
    yield zero rows — same as the reference's empty sub-stream skip
    (tested there at SimpleStreamProcessorTest.scala:37-43)."""
    return df.select(*out_cols, F.explode(array_col).alias(alias))


def append_union(first: DataFrame, second: DataFrame) -> DataFrame:
    """Concatenate two streams (reference Stream.scala:49-54). UNION ALL —
    no dedup, no shuffle; partitions of both inputs are simply listed."""
    return first.unionAll(second)


def fold_agg(df: DataFrame, *aggs: Column) -> DataFrame:
    """Terminal fold with a monoid (reference Node.scala:440, fold at
    Stream.scala:56-68). Spark's partial aggregation = the reference's
    per-element fold, distributed: each partition folds locally, then one
    final combine. One row out."""
    return df.agg(*aggs)


def take_ordered(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Ordered prefix (reference iterator+take, Stream.scala:268-302 /
    PracticalUseCases.scala:74). Physical plan is TakeOrderedAndProject:
    per-partition top-k then a k-row merge on the driver — O(k) memory,
    no global sort, safe at any scale."""
    return df.orderBy(*order).limit(k)
