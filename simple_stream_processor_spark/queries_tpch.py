"""Classic TPC-H query shapes (Q1/Q3/Q6) as declared queries — the
canonical analytics-engine workload, exercising date-predicate pushdown,
multi-aggregate grouping, and join+agg+topk in one plan — plus the SQL
entry point (spark.sql over registered views), proving the engine's SQL
surface produces the identical plans/results as the DataFrame surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_stream_processor_spark.operators.core import round_like_duckdb
from simple_stream_processor_spark.queries import _revenue_units
from simple_stream_processor_spark.registry import query
from simple_stream_processor_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


@query(
    "q_tpch_q1",
    oracle="""
    WITH l AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity * 100) AS BIGINT) AS qc,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(round(l_discount * 100) AS BIGINT) AS dp,
             CAST(round(l_tax * 100) AS BIGINT) AS tp
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           round(sum(qc) / 100.0, 2) AS sum_qty,
           round(sum(pc) / 100.0, 2) AS sum_base_price,
           round(sum(pc * (100 - dp)) / 10000.0, 2) AS sum_disc_price,
           round(sum(pc * (100 - dp) * (100 + tp)) / 1000000.0, 2) AS sum_charge,
           ((200 * sum(qc) + count(*)) // (2 * count(*))) / 10000.0 AS avg_qty,
           ((200 * sum(pc) + count(*)) // (2 * count(*))) / 10000.0 AS avg_price,
           ((20000 * sum(dp) + count(*)) // (2 * count(*))) / 1000000.0 AS avg_disc,
           count(*) AS count_order
    FROM l
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary): one scan with a pushed date predicate,
    partial+final hash agg over a 4-6 key group. The widest aggregate list
    in the suite — all in one codegen span, one tiny exchange.

    Money aggregates run on exact integer primitives (cents / whole
    percents; TPC-H itself specifies decimal columns) summed as
    decimal(38,0): float accumulation order differs across engines and
    partitionings, and a sum on a x.xx5 boundary flips round(.,2) —
    cross-engine fuzz (tests/test_oracle_fuzz.py) caught exactly that on
    this shape."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qc = F.round(F.col("l_quantity") * 100, 0).cast("long")
    dp = F.round(F.col("l_discount") * 100, 0).cast("long")
    tp = F.round(F.col("l_tax") * 100, 0).cast("long")
    disc_u = (pc * (F.lit(100) - dp)).cast("decimal(38,0)")
    charge_u = (pc * (F.lit(100) - dp) * (F.lit(100) + tp)).cast("decimal(38,0)")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        round_like_duckdb(F.sum(qc) / F.lit(100.0), 2).alias("sum_qty"),
        round_like_duckdb(F.sum(pc) / F.lit(100.0), 2).alias("sum_base_price"),
        round_like_duckdb(F.sum(disc_u) / F.lit(10000.0), 2).alias("sum_disc_price"),
        round_like_duckdb(F.sum(charge_u) / F.lit(1000000.0), 2).alias("sum_charge"),
        # averages divide by n, so the true rational can sit EXACTLY on a
        # decimal half-boundary where Spark's round (exact binary
        # expansion) and DuckDB's (re-rounding multiply) disagree — found
        # by cross-engine fuzz. Round half-up in EXACT integer arithmetic
        # ((2*scaled + n) div (2n), nonneg domains), then one exact
        # power-of-ten division for display.
        # The scaled sums widen to decimal(38,0) BEFORE the 200x/20000x
        # multiply (r6 ADVICE): sum(pc) grows ~6e13 per SF, so a BIGINT
        # product would overflow around SF>=700 while the DuckDB oracle is
        # implicitly HUGEINT-safe; `div` stays the exact integral division.
        (
            F.expr(
                "(200 * cast(sum(cast(round(l_quantity * 100, 0) as long)) as decimal(38,0))"
                " + count(1)) div (2 * count(1))"
            )
            / F.lit(10000.0)
        ).alias("avg_qty"),
        (
            F.expr(
                "(200 * cast(sum(cast(round(l_extendedprice * 100, 0) as long)) as decimal(38,0))"
                " + count(1)) div (2 * count(1))"
            )
            / F.lit(10000.0)
        ).alias("avg_price"),
        (
            F.expr(
                "(20000 * cast(sum(cast(round(l_discount * 100, 0) as long)) as decimal(38,0))"
                " + count(1)) div (2 * count(1))"
            )
            / F.lit(1000000.0)
        ).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
           CAST(epoch_ms(o_orderdate) AS BIGINT) AS orderdate_ms
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate < TIMESTAMP '1997-06-01' AND l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (top revenue orders): both date filters push to their
    scans BEFORE the join, the filtered orders side broadcasts, and the
    top-10 is TakeOrderedAndProject — no global sort."""
    cutoff = F.lit("1997-06-01").cast("timestamp")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    j = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        # exact integer units: a cent flip near the top-10 frontier would
        # otherwise reorder the LIMIT under a different accumulation order
        .agg(round_like_duckdb(F.sum(_revenue_units()) / F.lit(10000.0), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000").alias("orderdate_ms"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round(l_discount * 100) AS BIGINT)) / 10000.0, 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure scan-filter-fold. Every
    predicate reaches the parquet reader; the whole query is one codegen
    span plus a one-row combine."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        round_like_duckdb(
            F.sum(
                (
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                    * F.round(F.col("l_discount") * 100, 0).cast("long")
                ).cast("decimal(38,0)")
            )
            / F.lit(10000.0),
            2,
        ).alias("revenue")
    )


@query(
    "q_sql_surface",
    oracle="""
    SELECT n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: registered temp views + ``spark.sql`` — the
    same Catalyst plans as the DataFrame surface (broadcast join picked by
    the optimizer from the view stats), proving a reference user can bring
    plain SQL to this engine unchanged."""
    from simple_stream_processor_spark.tables import register_views

    register_views(spark, sf_dir, ("customer", "nation"))
    return spark.sql(
        """
        SELECT n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): date-pruned orders
    LEFT SEMI join lineitem on the EXISTS condition — the semi join stops
    probing at first match and never widens the row."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi"
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q_tpch_q14",
    oracle="""
    WITH l AS (
      SELECT p_type,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
    )
    SELECT round(100.00 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev_u ELSE 0 END) AS DOUBLE)
                 / CAST(sum(rev_u) AS DOUBLE), 4) AS promo_revenue
    FROM l
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): date-pruned lineitem, broadcast part
    dim, conditional aggregation ratio in one pass."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    rev_u = _revenue_units()
    promo_u = F.when(F.col("p_type").like("PROMO%"), rev_u).otherwise(F.lit(0).cast("decimal(38,0)"))
    # exact integer units both sides of the ratio; cast to double before
    # dividing so both engines run the identical int->double->divide chain
    return j.agg(
        F.round(
            F.lit(100.0) * F.sum(promo_u).cast("double") / F.sum(rev_u).cast("double"), 4
        ).alias("promo_revenue")
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, n_name,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))::BIGINT
             AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, n_name
    ORDER BY revenue_cents DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): both filters pushed to
    their scans, quarter-pruned orders and the two dims broadcast, top-20
    via TakeOrderedAndProject. Revenue is summed in integer cents
    (per-term round, exact integer sum) — double-sum order differs between
    engines and a 2dp round of the float total can flip on a .005
    boundary; integer cents are order-independent."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("long")
    return (
        j.groupBy("c_custkey", "n_name")
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q_tpch_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 90
    )
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM orders
    JOIN big ON o_orderkey = big.l_orderkey
    JOIN lineitem ON lineitem.l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_custkey, o_totalprice
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the HAVING subquery is a
    pre-aggregation whose (small) result broadcasts back against both
    facts — the aggregate acts as its own semi-join filter, so the wide
    join only ever sees qualifying orders."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")).where(F.col("q") > 90).select("l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    j = li.join(F.broadcast(big), "l_orderkey").join(
        F.broadcast(o), F.col("l_orderkey") == o.o_orderkey
    )
    return j.groupBy("o_orderkey", "o_custkey", "o_totalprice").agg(
        F.round(F.sum("l_quantity"), 2).alias("total_qty")
    ).select(
        "o_orderkey", "o_custkey", F.round(F.col("o_totalprice"), 2).alias("totalprice"), "total_qty"
    )


def _cents(expr):
    """Revenue in integer cents (per-term round, exact integer sum).

    Double-sum order differs between engines (Spark sums per-partition,
    DuckDB sequentially); a 2dp round of the float total can flip on a
    .005 boundary. Rounding each term to cents first makes the sum exact
    integer arithmetic — order-independent on both engines.
    """
    return F.round(expr * 100, 0).cast("long")


_CENTS_SQL = "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)"


@query(
    "q_tpch_q5",
    oracle=f"""
    SELECT n_name, sum({_CENTS_SQL})::BIGINT AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): five-way join where every
    dimension (region-pruned nations, suppliers, customers, year-pruned
    orders) broadcasts against the single lineitem scan — zero shuffles
    before the final tiny per-nation aggregate. The c_nationkey =
    s_nationkey "local" condition rides the supplier broadcast join."""
    n = (
        _t(spark, sf_dir, "nation")
        .join(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    j = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.groupBy("n_name").agg(F.sum(rev).alias("revenue_cents"))


@query(
    "q_tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, sum(cents)::BIGINT AS revenue_cents
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             {_CENTS_SQL} AS cents
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
          OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): nation dimension joined twice under
    different roles (supplier side vs customer side) — two independent
    broadcasts of the same tiny table; the disjunctive nation-pair
    predicate is applied after both roles resolve, then a 2-year shipdate
    prune rides the lineitem scan."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    j = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_10"))
            | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_12"))
        )
    )
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(F.sum(rev).alias("revenue_cents"))


@query(
    "q_tpch_q8",
    oracle=f"""
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN cents ELSE 0 END) AS DOUBLE)
                 / CAST(sum(cents) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             {_CENTS_SQL} AS cents,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the most-joined query in the
    suite — seven broadcast dims against one fact scan, a conditional-sum
    ratio per year. Numerator and denominator are exact integer cents, so
    the final double division is bit-identical across engines and the
    6dp round is stable."""
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    n1 = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cust_nation_key"))
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nation_key"), F.col("n_name").alias("nation")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cust_nation_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("supp_nation_key"))
    )
    cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    num = F.sum(F.when(F.col("nation") == "NATION_3", cents).otherwise(F.lit(0)))
    den = F.sum(cents)
    return j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.round(num.cast("double") / den.cast("double"), 6).alias("mkt_share")
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): outer join
    with the filter INSIDE the join condition (so zero-order customers
    survive), per-customer count, then a second tiny aggregate over the
    counts. The double aggregation reuses the same custkey partitioning
    — AQE coalesces the second exchange to near-nothing."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q_tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, sum({_CENTS_SQL})::BIGINT AS total_revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_cents
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarter-pruned per-supplier revenue, then
    the scalar-max filter expressed as a global window over the ALREADY
    AGGREGATED rev table (supplier cardinality, not fact cardinality) —
    one lineitem scan total, where a naive `rev JOIN (SELECT max FROM
    rev)` scans the fact twice unless exchange reuse happens to fire.
    Integer-cents revenue makes the max-equality exact — a float `=` on
    a double sum is an engine-dependent coin flip."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("total_revenue_cents")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    w = Window.partitionBy()  # global: one task over |suppliers| rows, never fact rows
    return (
        rev.withColumn("max_rev", F.max("total_revenue_cents").over(w))
        .where(F.col("total_revenue_cents") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 700.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
      SELECT l_partkey AS agg_pk, count(*) AS cnt, CAST(sum(l_quantity) AS DOUBLE) AS sq
      FROM lineitem GROUP BY l_partkey
    ) agg ON agg_pk = l_partkey
    WHERE p_brand = 'Brand#12' AND p_size < 10
      AND l_quantity * cnt * 5 < sq
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    `l_quantity < 0.2 * avg(l_quantity per part)` subquery decorrelated
    into a per-part pre-aggregate joined back to the fact. The threshold
    compare is restated as `5 * qty * cnt < sum_qty` — all integer-valued
    doubles, exact on both engines, where `0.2 * avg` would hinge on a
    float ulp. Brand+size prune broadcasts; only matching parts' lines
    reach the per-part aggregate join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#12") & (F.col("p_size") < 10)
    ).select("p_partkey")
    agg = li.groupBy(F.col("l_partkey").alias("agg_pk")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").cast("double").alias("sq")
    )
    j = (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(agg, F.col("agg_pk") == F.col("l_partkey"))
        .where(F.col("l_quantity") * F.col("cnt") * 5 < F.col("sq"))
    )
    return j.agg(
        F.round(F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")) / 700.0, 2).alias("avg_yearly")
    )


@query(
    "q_tpch_q19",
    oracle=f"""
    SELECT sum({_CENTS_SQL})::BIGINT AS revenue_cents
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): a
    three-branch OR spanning both join sides. The common quantity bound
    (1..30) and the part-side brand/size disjunction are each separable —
    Catalyst derives the part-only and lineitem-only conjuncts and pushes
    them below the broadcast join, so the OR only evaluates on
    already-thinned rows."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    qty = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.where(branch).agg(F.sum(rev).alias("revenue_cents"))


@query(
    "q_tpch_q21",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' AND n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting, adapted: the
    fixture has no commit/receipt dates, so "waiting" = the sole returned
    line in a multi-supplier finalized order). The oracle states it as
    EXISTS / NOT EXISTS self-joins; the Spark plan decorrelates BOTH into
    ONE per-order aggregate — n_suppliers and n_suppliers-with-R — then a
    single keyed join: `n_supp > 1 AND n_rsupp = 1` ⇔ "another supplier
    exists, none of them returned". Two semi-join passes over the fact
    become one shuffle, the scalable form at 100 TB."""
    from simple_stream_processor_spark.tables import spread

    # One exchange on l_orderkey up front; the two-level aggregate
    # ((orderkey,suppkey) dedup → orderkey counts) and the R-lines join
    # below all reuse that partitioning. Two countDistincts in one agg
    # would instead plan an Expand (2× the fact rows through the shuffle).
    li = spread(_t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag"), "l_orderkey")
    per_ls = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    per_order = per_ls.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_r").alias("n_rsupp"),
    )
    qualifying = per_order.where((F.col("n_supp") > 1) & (F.col("n_rsupp") == 1)).select("l_orderkey")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = li.where(F.col("l_returnflag") == "R")
    j = (
        l1.join(qualifying, "l_orderkey")
        .join(F.broadcast(o), F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
    )
    return (
        j.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


@query(
    "q_tpch_q22",
    oracle="""
    WITH cust AS (
      SELECT c_custkey, c_mktsegment, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
      FROM customer
    ), pos AS (
      SELECT CAST(sum(bal_cents) AS BIGINT) AS s, count(*) AS c FROM cust WHERE bal_cents > 0
    )
    SELECT c_mktsegment, count(*) AS numcust, sum(bal_cents)::BIGINT AS totacctbal_cents
    FROM cust, pos
    WHERE bal_cents * c > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_mktsegment
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity, adapted: no phone column
    — country-code grouping becomes market segment, "no orders" becomes
    "no orders since 1999"). The scalar avg-balance subquery is a one-row
    broadcast; `bal > avg(bal)` is restated in integer cents as
    `bal_cents * count > sum_cents` — exact on both engines. The NOT
    EXISTS is a left-anti join against date-pruned orders."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents")
    )
    pos = cust.where(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("c")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .where(F.col("bal_cents") * F.col("c") > F.col("s"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"), F.sum("bal_cents").alias("totacctbal_cents"))
    )


# ---------------------------------------------------------------------------
# partsupp-gated TPC-H completions (VERDICT r4 stretch): Q2/Q9/Q11/Q16/Q20
# need a partsupp table the driver fixtures do not ship today (TESTDATA.md —
# SURVEY §2.8 N20 documents the gap). They are pre-staged behind the
# fixture-presence check in tables._partsupp_fixture_present and
# SELF-REGISTER the moment partsupp.parquet appears in every standard sf
# dir; until then the registry is unchanged and nothing here executes.
# Assumed schema (standard TPC-H, reduced like the other fixtures):
# ps_partkey long, ps_suppkey long, ps_availqty numeric, ps_supplycost
# dollars. All money math follows the repo's exact-integer cents
# discipline so the oracles hash-match from day one.
# ---------------------------------------------------------------------------

from simple_stream_processor_spark.tables import TABLES as _TABLES_NOW  # noqa: E402

if "partsupp" in _TABLES_NOW:

    @query(
        "q_tpch_q2",
        oracle="""
        WITH eu AS (
          SELECT ps_partkey, CAST(round(ps_supplycost * 100) AS BIGINT) AS cost_c,
                 s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS bal_c, n_name
          FROM partsupp
          JOIN supplier ON s_suppkey = ps_suppkey
          JOIN nation ON n_nationkey = s_nationkey
          JOIN region ON r_regionkey = n_regionkey
          WHERE r_name = 'EUROPE'
        ),
        mc AS (SELECT ps_partkey, min(cost_c) AS m FROM eu GROUP BY 1)
        SELECT round(bal_c / 100.0, 2) AS s_acctbal, s_name, n_name,
               p_partkey, p_type, round(cost_c / 100.0, 2) AS supplycost
        FROM part
        JOIN eu ON ps_partkey = p_partkey
        JOIN mc ON mc.ps_partkey = p_partkey AND cost_c = m
        WHERE p_size = 15
        ORDER BY bal_c DESC, n_name, s_name, p_partkey LIMIT 100
        """,
    )
    def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q2 (minimum-cost supplier), reduced-schema form: for each
        size-15 part, the EUROPE suppliers quoting the per-part minimum
        supply cost. Min-cost matching runs in integer cents (float
        equality against a min would be engine-fragile). dims broadcast;
        the min-cost table is a partsupp-keyed aggregate re-joined on
        (partkey, cost) — at 100 TB both sides shuffle once on
        ps_partkey, and the (acctbal, name, partkey) frontier is a
        TakeOrdered."""
        ps = _t(spark, sf_dir, "partsupp")
        s = _t(spark, sf_dir, "supplier")
        n = _t(spark, sf_dir, "nation")
        r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
        p = _t(spark, sf_dir, "part").where(F.col("p_size") == 15)
        eu = (
            ps.select(
                "ps_partkey",
                "ps_suppkey",
                F.round(F.col("ps_supplycost") * 100, 0).cast("long").alias("cost_c"),
            )
            .join(
                F.broadcast(
                    s.select(
                        "s_suppkey",
                        "s_name",
                        "s_nationkey",
                        F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("bal_c"),
                    )
                ),
                F.col("ps_suppkey") == F.col("s_suppkey"),
            )
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        )
        mc = eu.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(F.min("cost_c").alias("m"))
        win = eu.join(
            mc, (eu.ps_partkey == F.col("mc_partkey")) & (F.col("cost_c") == F.col("m"))
        )
        return (
            p.join(win, p.p_partkey == win.ps_partkey)
            .orderBy(F.col("bal_c").desc(), "n_name", "s_name", "p_partkey")
            .limit(100)
            .select(
                F.round(F.col("bal_c") / 100.0, 2).alias("s_acctbal"),
                "s_name",
                "n_name",
                "p_partkey",
                "p_type",
                F.round(F.col("cost_c") / 100.0, 2).alias("supplycost"),
            )
        )

    @query(
        "q_tpch_q9",
        oracle="""
        WITH amt AS (
          SELECT n_name AS nation, year(o_orderdate) AS o_year,
                 CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u,
                 CAST(round(ps_supplycost * 100) AS BIGINT)
                   * CAST(round(l_quantity) AS BIGINT) AS cost_c
          FROM lineitem
          JOIN orders ON o_orderkey = l_orderkey
          JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
          JOIN part ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation ON n_nationkey = s_nationkey
          WHERE p_name LIKE '%red%'
        )
        SELECT nation, CAST(o_year AS BIGINT) AS o_year,
               round(sum(rev_u) / 10000.0 - sum(cost_c) / 100.0, 2) AS profit
        FROM amt GROUP BY nation, o_year
        """,
    )
    def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q9 (product-type profit): revenue minus supply cost per
        supplier nation and order year, parts matching a name pattern.
        The one genuinely fact-fact-fact join in the suite: lineitem x
        orders shuffles on orderkey, then x partsupp on (partkey,
        suppkey) — at 100 TB both pre-bucketed on their keys; part is
        pattern-filtered then joined (semi-selective), supplier/nation
        broadcast. Profit sums exact integer revenue units and cost
        cents as decimal(38,0), one float conversion at the end."""
        li = _t(spark, sf_dir, "lineitem")
        o = _t(spark, sf_dir, "orders").select("o_orderkey", F.year("o_orderdate").alias("o_year"))
        ps = _t(spark, sf_dir, "partsupp").select(
            "ps_partkey",
            "ps_suppkey",
            F.round(F.col("ps_supplycost") * 100, 0).cast("long").alias("psc_c"),
        )
        p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%")).select("p_partkey")
        s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        n = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
        rev_u = _revenue_units()
        cost_c = (F.col("psc_c") * F.round(F.col("l_quantity"), 0).cast("long")).cast("decimal(38,0)")
        amt = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(ps, (F.col("l_partkey") == F.col("ps_partkey")) & (F.col("l_suppkey") == F.col("ps_suppkey")))
            .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        )
        return (
            amt.groupBy("nation", "o_year")
            .agg(
                F.round(
                    F.sum(rev_u) / F.lit(10000.0) - F.sum(cost_c) / F.lit(100.0), 2
                ).alias("profit")
            )
            .select("nation", F.col("o_year").cast("long").alias("o_year"), "profit")
        )

    @query(
        "q_tpch_q11",
        oracle="""
        WITH v AS (
          SELECT ps_partkey,
                 CAST(round(ps_supplycost * 100) AS BIGINT)
                   * CAST(round(ps_availqty) AS BIGINT) AS val_c
          FROM partsupp
          JOIN supplier ON s_suppkey = ps_suppkey
          JOIN nation ON n_nationkey = s_nationkey
          WHERE n_name = 'NATION_8'
        ),
        tot AS (SELECT sum(val_c) AS t FROM v)
        SELECT ps_partkey, round(sum(val_c) / 100.0, 2) AS value
        FROM v, tot
        GROUP BY ps_partkey, t
        HAVING CAST(sum(val_c) AS DOUBLE) > 0.0001 * t
        """,
    )
    def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q11 (important stock): per-part inventory value for one
        nation's suppliers, kept when above 0.01% of the nation total.
        Value accumulates as exact integer cents x whole availqty; the
        national total is a one-row broadcast; the threshold compare
        casts the exact integer sum to double on both engines so the
        frontier cannot flicker. One shuffle on ps_partkey."""
        ps = _t(spark, sf_dir, "partsupp").select(
            "ps_partkey",
            "ps_suppkey",
            (
                F.round(F.col("ps_supplycost") * 100, 0).cast("long")
                * F.round(F.col("ps_availqty"), 0).cast("long")
            ).alias("val_c"),
        )
        s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_8")
        v = ps.join(F.broadcast(s), F.col("ps_suppkey") == F.col("s_suppkey")).join(
            F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
        )
        tot = v.agg(F.sum("val_c").alias("t"))
        return (
            v.groupBy("ps_partkey")
            .agg(F.sum("val_c").alias("sv"))
            .crossJoin(F.broadcast(tot))
            .where(F.col("sv").cast("double") > F.lit(0.0001) * F.col("t"))
            .select("ps_partkey", F.round(F.col("sv") / 100.0, 2).alias("value"))
        )

    @query(
        "q_tpch_q16",
        oracle="""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp
        JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        """,
    )
    def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q16 (parts/supplier relationship), reduced-schema form:
        distinct supplier counts per (brand, type, size) bucket, excluding
        flagged suppliers (negative balance stands in for the original's
        comment filter — the fixtures carry no s_comment). The exclusion
        is a broadcast left-anti join; the distinct count is Spark's
        two-phase partial-distinct aggregate — one shuffle on the group
        key, never a global distinct."""
        p = (
            _t(spark, sf_dir, "part")
            .where(
                (F.col("p_brand") != "Brand#1")
                & (~F.col("p_type").like("PROMO%"))
                & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
            )
            .select("p_partkey", "p_brand", "p_type", "p_size")
        )
        bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
        ps = _t(spark, sf_dir, "partsupp").join(
            F.broadcast(bad), F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        return (
            ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt"))
        )

    @query(
        "q_tpch_q20",
        oracle="""
        WITH shipped AS (
          SELECT l_partkey, l_suppkey,
                 sum(CAST(round(l_quantity) AS BIGINT)) AS qty
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1996-01-01'
          GROUP BY l_partkey, l_suppkey
        ),
        excess AS (
          SELECT DISTINCT ps_suppkey
          FROM partsupp
          JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
            AND 2 * CAST(round(ps_availqty) AS BIGINT) > qty
        )
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal, n_name
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        JOIN excess ON ps_suppkey = s_suppkey
        WHERE n_name = 'NATION_13'
        """,
    )
    def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q20 (potential part promotion), reduced-schema form:
        NATION_13 suppliers holding more than half a year's shipped
        quantity of any 'small%' part. The availqty > 0.5*sum(qty)
        comparison is restated as 2*availqty > qty in exact integers.
        shipped is a (partkey, suppkey)-keyed partial aggregate of the
        date-pruned lineitem scan; partsupp joins it on the same key
        (bucket-ready at 100 TB); the part name filter is a broadcast
        semi-join; the final supplier/nation step is all-broadcast."""
        shipped = (
            _t(spark, sf_dir, "lineitem")
            .where(
                (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            )
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("qty"))
        )
        small = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select("p_partkey")
        excess = (
            _t(spark, sf_dir, "partsupp")
            .join(F.broadcast(small), F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
            .join(
                shipped,
                (F.col("ps_partkey") == F.col("l_partkey")) & (F.col("ps_suppkey") == F.col("l_suppkey")),
            )
            .where(F.lit(2) * F.round(F.col("ps_availqty"), 0).cast("long") > F.col("qty"))
            .select("ps_suppkey")
            .distinct()
        )
        s = _t(spark, sf_dir, "supplier")
        n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_13")
        return (
            s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(excess), F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
            .select("s_name", F.round(F.col("s_acctbal"), 2).alias("s_acctbal"), "n_name")
        )


# ---------------------------------------------------------------------------
# Receipt-date-gated TPC-H Q12 (the last staged gap beside partsupp): needs
# l_commitdate / l_receiptdate, absent from today's lineitem fixture
# (TESTDATA.md). Self-registers via tables._lineitem_receipt_dates_present
# the moment the columns appear; proven against a synthetic shadow fixture
# in tests/test_tpch_partsupp.py. Reduced-schema form: the fixtures carry
# no l_shipmode, so the late-shipment split groups by l_returnflag.
# ---------------------------------------------------------------------------

from simple_stream_processor_spark.tables import _lineitem_receipt_dates_present as _q12_gate  # noqa: E402
from simple_stream_processor_spark.tables import _lineitem_shipmode_present as _q12_shipmode_gate  # noqa: E402

if _q12_gate():
    # spec-exact group key the moment the fixture grows l_shipmode
    # (gated upgrade proven in tests/test_tpch_partsupp.py); reduced
    # returnflag grouping until then. The fixture's shipmode value
    # universe is unknown, so the spec's IN ('MAIL','SHIP') restriction
    # is deliberately dropped — grouping over all modes is its superset.
    _Q12_KEY = "l_shipmode" if _q12_shipmode_gate() else "l_returnflag"

    @query(
        "q_tpch_q12",
        oracle=f"""
        SELECT {_Q12_KEY},
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_commitdate < l_receiptdate
          AND l_shipdate < l_commitdate
          AND l_receiptdate >= TIMESTAMP '1995-01-01'
          AND l_receiptdate < TIMESTAMP '1996-01-01'
        GROUP BY {_Q12_KEY}
        """,
    )
    def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q12 (shipping priority vs actual lateness): lineitems
        received in 1995 that were committed after shipping but received
        after commitment, split by order priority per group key —
        spec-exact l_shipmode when the fixture carries it, l_returnflag
        as the reduced-schema stand-in otherwise (the date-logic core is
        verbatim either way). All three date predicates push to the
        lineitem scan; orders joins on the shuffle key both sides bucket
        on at 100 TB; the split is one conditional aggregate."""
        li = _t(spark, sf_dir, "lineitem").where(
            (F.col("l_commitdate") < F.col("l_receiptdate"))
            & (F.col("l_shipdate") < F.col("l_commitdate"))
            & (F.col("l_receiptdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_receiptdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(_Q12_KEY)
            .agg(
                F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
            )
        )
