"""Declared query registry — the driver contract (SURVEY §2 "Declared query"
column). Every entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame``
with a DuckDB oracle SQL string over the same parquet tables; the driver
hash-compares them at sf=0.01.

Conventions (critical for hash parity — see SURVEY §7):
- every computed column is aliased identically in Spark and SQL;
- no timestamp-typed output columns: event-time outputs are epoch seconds /
  milliseconds as BIGINT (engine-portable hashing);
- doubles that result from aggregation are ``round(x, 2)`` on both sides
  (both engines do the arithmetic in IEEE double; rounding pins the text
  representation);
- integer division uses ``div``/``//`` so both sides yield BIGINT (DuckDB's
  ``floor`` returns DOUBLE);
- order-sensitive operators (top-k, ranking) carry a deterministic
  tie-break key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_stream_processor_spark.tables import load_table
from simple_stream_processor_spark.operators import core, errors, parallel, relational, windows

from simple_stream_processor_spark.registry import ORACLES, QUERIES, query  # noqa: F401


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def _revenue_units(price: str = "l_extendedprice", disc: str = "l_discount"):
    """Per-row revenue in exact 10^-4 dollar units: price has 2 decimals
    and discount is a whole percent, so cents(price) x (100 - pct) is an
    exact integer — float accumulation order differs between engines (and
    between partitionings of the same engine at cluster scale), and a sum
    landing on a x.xx5 boundary flips round(.,2) by a cent. Summed as
    decimal(38,0) so 100 TB row counts cannot overflow; divide by 1e4
    once at the end. The DuckDB oracles mirror the same expression
    (bigint sums auto-widen to int128 there)."""
    price_c = F.round(F.col(price) * 100, 0).cast("long")
    disc_pct = F.round(F.col(disc) * 100, 0).cast("long")
    return (price_c * (F.lit(100) - disc_pct)).cast("decimal(38,0)")


# ---------------------------------------------------------------------------
# §2.1 Sources / sinks
# ---------------------------------------------------------------------------


@query(
    "q_source_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S4: bounded source scan (reference Stream.fromList,
    Stream.scala:320-323 / Source node, Node.scala:129-133) → parquet scan.
    Column pruning reaches the reader via the explicit select."""
    return _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@query(
    "q_sink_fold_sum",
    oracle="""
    SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
           count(*) AS n
    FROM lineitem
    """,
)
def q_sink_fold_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S8/T8: terminal monoid fold (reference Sink, Node.scala:439-468;
    fold, Stream.scala:56-68). Spark executes it as partial aggregation per
    partition + a one-row final combine — the distributed form of the
    reference's (zero, f) fold."""
    li = _t(spark, sf_dir, "lineitem")
    return core.fold_agg(
        li,
        F.round(F.sum(_revenue_units()) / F.lit(10000.0), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# §2.2 Stateless transforms
# ---------------------------------------------------------------------------


@query(
    "q_map_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def q_map_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: 1→1 map (reference Stream.scala:14-23) as a narrow projection;
    whole-stage-codegen'd, zero shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return core.map_transform(
        li,
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("charge"),
    )


@query(
    "q_filter_predicate",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
)
def q_filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: predicate keep (reference Stream.scala:36-47). Both conjuncts are
    parquet-pushdown-eligible (check .explain PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    return core.filter_where(
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
        (F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"),
    )


@query(
    "q_flatmap_explode",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
    """,
)
def q_flatmap_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: 1→N flatMap (reference Stream.scala:25-34) as explode of a split
    array — narrow, generator-based, no row buffering."""
    docs = _t(spark, sf_dir, "documents")
    return core.flat_map_explode(docs, [F.col("doc_id")], F.split(F.col("text"), " "), "token")


@query(
    "q_union_append",
    oracle="""
    SELECT r_name AS name FROM region
    UNION ALL
    SELECT n_name AS name FROM nation
    """,
)
def q_union_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: stream append (reference Stream.scala:49-54) = UNION ALL —
    no shuffle, partition lists concatenate."""
    r = _t(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    n = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    return core.append_union(r, n)


@query(
    "q_take_limit",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_take_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: iterator + take k (reference Stream.scala:268-302) as ordered
    limit. Physical plan: TakeOrderedAndProject — per-partition top-k then a
    k-row driver merge, no global sort at any scale."""
    o = _t(spark, sf_dir, "orders")
    return core.take_ordered(
        o.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


# ---------------------------------------------------------------------------
# §2.3 Parallelism & boundaries
# ---------------------------------------------------------------------------


@query(
    "q_parmap_ordered",
    oracle="""
    SELECT event_id, round(value * 2, 2) AS doubled
    FROM events
    """,
)
def q_parmap_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: ordered parMap (reference Stream.scala:103-186). The map runs as
    an Arrow-batched pandas_udf on all task slots; event_id is the carried
    order key (the reference's indexed reassembly, Stream.scala:121,154) —
    sorting on it recovers input order exactly. Hash compare is
    order-insensitive so no final sort is needed here; the pytest golden
    asserts the ordered view."""
    ev = _t(spark, sf_dir, "events")

    def double_it(s: pd.Series) -> pd.Series:
        return s * 2

    mapped = parallel.par_map_ordered(ev, "event_id", double_it, "value", "_doubled", "double")
    return mapped.select("event_id", F.round(F.col("_doubled"), 2).alias("doubled"))


@query(
    "q_async_boundary",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
    FROM lineitem
    """,
)
def q_async_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: asyncBoundary value-transparency (reference Node.scala:214-274,
    golden test SimpleStreamProcessorTest.scala:130-138): output bag equals
    the input pipeline without the boundary. The boundary is the exchange
    introduced by repartition(16)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("l_extendedprice")
    )
    return parallel.async_boundary(li, 16)


# ---------------------------------------------------------------------------
# §2.4 Error channel
# ---------------------------------------------------------------------------


@query(
    "q_recover_value",
    oracle="""
    WITH ordered AS (
      SELECT event_id, round(value, 2) AS out_value, event_type FROM events
    ), first_err AS (
      SELECT min(event_id) AS first_err_ord FROM ordered
      WHERE event_type = 'error' AND out_value < 10
    )
    SELECT event_id, out_value
    FROM ordered, first_err
    WHERE first_err_ord IS NULL OR event_id < first_err_ord
    UNION ALL
    SELECT -1 AS event_id, -1.0 AS out_value
    FROM first_err WHERE first_err_ord IS NOT NULL
    """,
)
def q_recover_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: reference ``recover`` (Stream.scala:90-93): elements before the
    first in-band error pass through, then ONE fallback value, then halt
    (golden [10, 5, -1], SimpleStreamProcessorTest.scala:45-53). Here the
    in-band Error is an event with event_type='error' in event_id arrival
    order; fallback row is (-1, -1.0). The min-over-errors is a one-row
    aggregate broadcast into the filter — no full shuffle."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.round("value", 2).alias("out_value"),
        ((F.col("event_type") == "error") & (F.round("value", 2) < 10)).alias("is_err"),
    )
    first_err = ev.where(F.col("is_err")).agg(F.min("event_id").alias("first_err_ord"))
    prefix = (
        ev.join(F.broadcast(first_err))
        .where(F.col("first_err_ord").isNull() | (F.col("event_id") < F.col("first_err_ord")))
        .select("event_id", "out_value")
    )
    fallback = (
        first_err.where(F.col("first_err_ord").isNotNull())
        .select(F.lit(-1).cast("long").alias("event_id"), F.lit(-1.0).alias("out_value"))
    )
    return prefix.unionAll(fallback)


@query(
    "q_recover_with_stream",
    oracle="""
    WITH ordered AS (
      SELECT event_id, round(value, 2) AS out_value, event_type FROM events
    ), first_err AS (
      SELECT min(event_id) AS first_err_ord FROM ordered
      WHERE event_type = 'error' AND out_value < 10
    )
    SELECT event_id, out_value
    FROM ordered, first_err
    WHERE first_err_ord IS NULL OR event_id < first_err_ord
    UNION ALL
    SELECT * FROM (VALUES (-1, 99.0), (-2, 100.0)) AS fb(event_id, out_value)
    WHERE EXISTS (SELECT 1 FROM first_err WHERE first_err_ord IS NOT NULL)
    """,
)
def q_recover_with_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: reference ``recoverWith`` (Stream.scala:95-101): splice a whole
    fallback *stream* after truncation (golden fallback [99, 100] →
    docs/examples.md:142). Fallback here is the two-row stream
    (-1, 99.0), (-2, 100.0)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.round("value", 2).alias("out_value"),
        ((F.col("event_type") == "error") & (F.round("value", 2) < 10)).alias("is_err"),
    )
    first_err = ev.where(F.col("is_err")).agg(F.min("event_id").alias("first_err_ord"))
    prefix = (
        ev.join(F.broadcast(first_err))
        .where(F.col("first_err_ord").isNull() | (F.col("event_id") < F.col("first_err_ord")))
        .select("event_id", "out_value")
    )
    fallback_stream = spark.createDataFrame([(-1, 99.0), (-2, 100.0)], "event_id long, out_value double")
    fallback = fallback_stream.join(F.broadcast(first_err.where(F.col("first_err_ord").isNotNull()))).select(
        "event_id", "out_value"
    )
    return prefix.unionAll(fallback)


# ---------------------------------------------------------------------------
# §2.5 Windows & event time
# ---------------------------------------------------------------------------


@query(
    "q_count_window",
    oracle="""
    SELECT event_id // 100 AS window_no,
           count(*) AS n,
           min(event_id) AS first_id,
           max(event_id) AS last_id,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/W3: count windows (reference grouped/windowByCount,
    Stream.scala:230-256) over event_id arrival order, size 100; final
    partial window kept (ADR-0006:15). Scale path: event_id is dense, so
    window assignment is pure arithmetic — no global row_number, fully
    parallel (windows.count_window_scalable)."""
    ev = _t(spark, sf_dir, "events")
    chunked = windows.count_window_scalable(ev, "event_id", 100)
    return chunked.groupBy("window_no").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "q_tumbling_window",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: tumbling event-time windows (reference windowByEventTime,
    Node.scala:315-356): assignment (ts/size)*size ≡ Spark window() buckets
    (epoch-aligned, ADR-0006). Batch mode computes all windows — the
    Watermark(MaxValue) flush view (ADR-0006:18-19). Streaming twin with
    withWatermark + late-drop metric lives in streaming/windows.py."""
    ev = _t(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_sliding_window",
    oracle="""
    WITH grid AS (
      SELECT event_id, value,
             unnest([epoch_ms(ts) // 1000 // 1800 * 1800,
                     epoch_ms(ts) // 1000 // 1800 * 1800 - 1800]) AS window_start_s
      FROM events
    )
    SELECT window_start_s, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM grid
    GROUP BY 1
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N13: sliding windows (1 h size, 30 min slide) — reference non-goal
    (ADR-0006:50-53) supplied natively by Spark's window(ts, size, slide).
    Each record lands in size/slide = 2 windows; the oracle materializes the
    same 2-window grid arithmetically."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start_s"), "n", "sum_value")
    )


@query(
    "q_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev_ts) >= 600000
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N13: session windows (10 min gap) per user — reference non-goal
    supplied by Spark's session_window. A new session starts when the gap to
    the previous event is >= the timeout; the oracle reproduces that with
    gaps-and-islands SQL."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window(F.col("ts"), "10 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.expr("unix_micros(w.start) div 1000").alias("session_start_ms"),
            "n",
            "sum_value",
        )
    )


@query(
    "q_watermark_cadence",
    oracle="""
    WITH ranked AS (
      SELECT event_id, epoch_ms(ts) AS ts_ms,
             (row_number() OVER (ORDER BY event_id) - 1) // 100 AS block
      FROM events
    ), block_max AS (
      SELECT block, max(ts_ms) AS block_max FROM ranked GROUP BY block
    ), running AS (
      SELECT block,
             max(block_max) OVER (ORDER BY block
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_ms
      FROM block_max
    )
    SELECT r.event_id, r.block, g.wm_ms,
           CASE WHEN g.wm_ms IS NOT NULL AND r.ts_ms < g.wm_ms THEN TRUE ELSE FALSE END AS is_late
    FROM ranked r JOIN running g USING (block)
    """,
)
def q_watermark_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: per-N-record watermark cadence (reference withWatermarks,
    Node.scala:289-313): watermark = max event time over completed
    100-record arrival blocks; a record is late iff ts < that watermark
    (drop policy ADR-0007:13-14; initial watermark Long.MinValue → null).
    Spark streaming advances watermarks per trigger, not per N rows, so
    cadence is batch-emulated here; the *policy* (late drop, monotonicity)
    is asserted on the streaming twin in tests."""
    ev = _t(spark, sf_dir, "events")
    out = windows.watermark_cadence(ev, "event_id", "ts", 100)
    return out.select("event_id", "block", "wm_ms", "is_late")


# ---------------------------------------------------------------------------
# §2.8 Relational extensions N1-N9
# ---------------------------------------------------------------------------


@query(
    "q_group_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_base_price,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS sum_disc_price,
           round(avg(l_quantity), 2) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1: keyed hash aggregation, TPC-H Q1 shape. Partial+final hash agg:
    the exchange carries only #distinct(returnflag,linestatus) rows per
    partition — constant shuffle volume regardless of input size.

    Money sums run in exact integer cents (prices have 2 decimals,
    discounts are whole percents), divided back once at the end: float
    accumulation order differs between engines and partitionings, and a
    sum landing on a x.xx5 boundary flips round(·,2) by a cent — the
    cross-engine rounding discipline fuzz enforces."""
    li = _t(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return relational.group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        core.round_like_duckdb(F.sum("l_quantity"), 2).alias("sum_qty"),
        core.round_like_duckdb(F.sum(price_c) / F.lit(100.0), 2).alias("sum_base_price"),
        core.round_like_duckdb(F.sum(_revenue_units()) / F.lit(10000.0), 2).alias("sum_disc_price"),
        core.round_like_duckdb(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q_join_orders_customer",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2: equi-join with broadcast dimension. customer is the small side →
    BroadcastHashJoin; the orders fact never shuffles for the join (only the
    5-row agg exchange follows)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = relational.join_broadcast_dim(o, c, o.o_custkey == c.c_custkey)
    return relational.group_agg(
        joined,
        ["c_mktsegment"],
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q_join_multiway",
    oracle="""
    SELECT n_name,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3: multi-way join + agg (TPC-H Q5 shape): one fact-fact join
    (lineitem x orders, shuffle on orderkey — at 100 TB both sides are
    bucketed on orderkey at write time to make it shuffle-free) then a
    cascade of broadcast dims. The region filter prunes before the join
    (Catalyst pushes it through the join chain)."""
    from simple_stream_processor_spark.tables import spread

    li = spread(_t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"), "l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE")).select("r_regionkey")
    joined = (
        relational.join_shuffle(li, o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(_revenue_units()) / F.lit(10000.0), 2).alias("revenue")
    )


@query(
    "q_semi_anti",
    oracle="""
    SELECT 'has_orders' AS tag, c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'no_orders' AS tag, c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4: left-semi (EXISTS) + left-anti (NOT EXISTS) in one result, tagged.
    Semi/anti stop probing at first match — cheaper than join+distinct."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = relational.semi_join(c, o, "c_custkey").select(F.lit("has_orders").alias("tag"), "c_custkey")
    anti = relational.anti_join(c, o, "c_custkey").select(F.lit("no_orders").alias("tag"), "c_custkey")
    return semi.unionAll(anti)


@query(
    "q_topk",
    oracle="""
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC
    LIMIT 15
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5: sort/top-k with deterministic tie-break. TakeOrderedAndProject —
    no global sort."""
    c = _t(spark, sf_dir, "customer")
    return core.take_ordered(
        c.select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")),
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        15,
    )


@query(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6: distinct = group-by-all. Partial dedup per partition bounds the
    exchange at #distinct values."""
    return relational.distinct_rows(_t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus"))


@query(
    "q_set_ops",
    oracle="""
    SELECT 'both' AS tag, k FROM
      (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey AS k FROM supplier) t
    UNION ALL
    SELECT 'cust_only' AS tag, k FROM
      (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey AS k FROM supplier) t
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6: INTERSECT / EXCEPT (distinct semantics, same as Spark's
    intersect/subtract)."""
    ck = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    sk = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    both = relational.set_intersect(ck, sk).select(F.lit("both").alias("tag"), "k")
    only = ck.subtract(sk).select(F.lit("cust_only").alias("tag"), "k")
    return both.unionAll(only)


@query(
    "q_rank_window",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
             round(o_totalprice - lag(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC), 2) AS diff_prev
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, rn, diff_prev
    FROM ranked WHERE rn <= 3
    """,
)
def q_rank_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7: ranking + analytic window functions (row_number, lag) — top-3
    orders per customer. One hash exchange on o_custkey, partition-local
    sort; no global sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.row_number().over(w).alias("rn"),
            F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("diff_prev"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "q_scalar_funcs",
    oracle="""
    SELECT event_id,
           upper(event_type) AS type_upper,
           substr(event_type, 1, 3) AS type_prefix,
           CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
           value * 1.1 AS value_taxed,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           concat(event_type, '#', CAST(user_id AS VARCHAR)) AS tagged
    FROM events
    """,
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N8: scalar function library — string/date/math/JSON, all JVM-side
    codegen'd built-ins (the reference's whole API is a UDF surface; here
    the library replaces arbitrary closures for the common cases)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_s"),
        (F.col("value") * 1.1).alias("value_taxed"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.concat_ws("#", F.col("event_type"), F.col("user_id").cast("string")).alias("tagged"),
    )


@query(
    "q_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
              <= 0.15 * count(DISTINCT user_id)) AS within_bound
    FROM events GROUP BY event_type
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N9: approximate distinct via HyperLogLog++ sketch, with a
    hash-stable VERDICT contract: the sketch estimate itself is
    engine-specific (DuckDB's approx_count_distinct is a different HLL),
    so the hashed output is (exact count, |approx−exact| ≤ 3·rsd·exact) —
    each engine certifies its OWN sketch against its OWN exact count.
    rsd defaults to 0.05, so the bound is 0.15 (3σ). Sketch aggs matter
    at 100 TB: constant memory per group vs the unbounded hash set of a
    countDistinct; the exact pass here exists only to express the
    cross-engine contract."""
    ev = _t(spark, sf_dir, "events")
    exact = F.count_distinct("user_id")
    approx = F.approx_count_distinct("user_id")
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (F.abs(approx - exact) <= 0.15 * exact).alias("within_bound"),
    )


@query(
    "q_approx_quantiles",
    oracle="""
    WITH ap AS (
      SELECT l_returnflag,
             approx_quantile(l_extendedprice, 0.25) AS ap25,
             approx_quantile(l_extendedprice, 0.50) AS ap50,
             approx_quantile(l_extendedprice, 0.75) AS ap75,
             approx_quantile(l_extendedprice, 0.95) AS ap95,
             count(*)::BIGINT AS n
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT li.l_returnflag, max(ap.n) AS n,
           (abs(CAST(sum(CASE WHEN li.l_extendedprice <= ap.ap25 THEN 1 ELSE 0 END) AS BIGINT)
                - 0.25 * max(ap.n)) <= 0.02 * max(ap.n)) AS ok25,
           (abs(CAST(sum(CASE WHEN li.l_extendedprice <= ap.ap50 THEN 1 ELSE 0 END) AS BIGINT)
                - 0.50 * max(ap.n)) <= 0.02 * max(ap.n)) AS ok50,
           (abs(CAST(sum(CASE WHEN li.l_extendedprice <= ap.ap75 THEN 1 ELSE 0 END) AS BIGINT)
                - 0.75 * max(ap.n)) <= 0.02 * max(ap.n)) AS ok75,
           (abs(CAST(sum(CASE WHEN li.l_extendedprice <= ap.ap95 THEN 1 ELSE 0 END) AS BIGINT)
                - 0.95 * max(ap.n)) <= 0.02 * max(ap.n)) AS ok95
    FROM lineitem li JOIN ap ON li.l_returnflag = ap.l_returnflag
    GROUP BY li.l_returnflag
    """,
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N9b: approximate quantiles via the Greenwald-Khanna sketch
    (percentile_approx), with a hash-stable VERDICT contract: the sketch
    value is engine-specific (DuckDB's approx_quantile is a t-digest), so
    the hashed output is the per-group count plus, per quantile q, the
    boolean rank-error check |rank(approx_q)/n − q| ≤ 0.02 — each engine
    certifies its own sketch against the true rank of the value it
    returned. GK at accuracy 10000 guarantees 1e-4 rank error and the
    t-digest lands ~1e-3 mid-range; 0.02 absorbs tie blocks at the cent
    grain. Scale shape: the sketch pass is one bounded-memory aggregate;
    the rank certification broadcasts the 3-row sketch table back over
    the scan — one extra corpus pass, no sort, no per-group collect (the
    exact-percentile alternative is a full per-group sort at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem")
    qs = (0.25, 0.50, 0.75, 0.95)
    ap = li.groupBy("l_returnflag").agg(
        *[
            F.percentile_approx("l_extendedprice", q, 10000).alias(f"ap{int(q * 100)}")
            for q in qs
        ],
        F.count(F.lit(1)).alias("n"),
    )
    j = li.select("l_returnflag", "l_extendedprice").join(F.broadcast(ap), "l_returnflag")
    n = F.max("n")
    return j.groupBy("l_returnflag").agg(
        n.alias("n"),
        *[
            (
                F.abs(
                    F.sum(
                        F.when(F.col("l_extendedprice") <= F.col(f"ap{int(q * 100)}"), 1).otherwise(0)
                    )
                    - F.lit(q) * n
                )
                <= F.lit(0.02) * n
            ).alias(f"ok{int(q * 100)}")
            for q in qs
        ],
    )


@query(
    "q_dedup",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event_id
    FROM events
    GROUP BY user_id, event_type
    """,
)
def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N10: exact keyed dedup, deterministic keep-first policy (min event_id
    per key) — the distributed form of dropDuplicates with a defined winner
    instead of an arbitrary one. Streaming twin:
    dropDuplicatesWithinWatermark (bounded state), in streaming/dedup.py."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(F.min("event_id").alias("first_event_id"))


@query(
    "q_histogram",
    oracle="""
    SELECT event_type,
           CAST(round(value * 100) AS BIGINT) // 1000 AS bucket,
           count(*)::BIGINT AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact histogram binning per event type ($10-wide value buckets).
    Bucket assignment happens in EXACT integer cents (round to cents,
    integer-divide by 1000) — narrow scan-side math, bit-identical
    cross-engine where float bucket edges would straddle. The groupBy
    gets map-side partial aggregation: the exchange carries
    (type × bucket) group cardinality — bounded by the value range,
    never event volume. The distribution twin of q_approx_quantiles:
    this is the fixed-width-bucket shape dashboards use at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT) div 1000").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_exact_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_exact_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (sort-based `percentile`, linear
    interpolation — the same formula as DuckDB's quantile_cont, so the
    values match bit-for-bit before rounding). The exact twin of the
    q_approx_quantiles sketch: at 100 TB you pay a per-group sort for
    exactness where the GK sketch pays one pass — the engine offers
    both and the docstrings tell you which to reach for. Per-group
    state is that group's value list; use the sketch when groups are
    corpus-sized."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.expr(f"percentile(l_extendedprice, {q})"), 4).alias(f"p{int(q*100)}")
            for q in (0.25, 0.5, 0.75, 0.95)
        ]
    )
