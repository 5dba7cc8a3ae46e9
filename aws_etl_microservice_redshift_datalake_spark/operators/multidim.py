"""Multi-level aggregation (ROLLUP / CUBE / GROUPING SETS) and the raw-SQL
entry path — SURVEY.md §2.4 A10 and §3.2 E3.

Reference parity: Redshift GROUPING SETS/ROLLUP/CUBE (public semantics;
/root/reference is empty — SURVEY.md §0).

Scale notes: Spark plans these as a single Expand (one input row → one row
per grouping set) + hash aggregate — one scan regardless of set count.

q_sql_* queries deliberately go through ``spark.sql`` over registered temp
views to exercise the parser/analyzer path (external-table analog, S8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import (
    QTY_MAX,
    money_col,
    o_exact_sum,
    o_money_col,
    query,
    rnd,
    s_exact_sum,
    s_money_col,
)
from ..sources import io
from ..sources.io import load_table


@query(
    "q_agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           COUNT(*) AS n,
           ROUND(SUM({o_money_col("l_quantity", QTY_MAX)}), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10a: ROLLUP — hierarchical subtotals (flag×status, flag, grand total)
    with grouping_id distinguishing the levels.

    Empty-input contract (r8, the whole multi-level family): an empty
    relation — a stray all-filtered partition on a real lake — produces an
    EMPTY report (Spark's native semantics), not the SQL-standard 0-count
    grand-total row DuckDB would emit; the oracle mirrors with
    HAVING COUNT(*) > 0, a no-op on any non-empty input (every real
    grouping-set row aggregates ≥ 1 source row)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        rnd(F.sum(money_col(F.col("l_quantity"), QTY_MAX))).alias("sum_qty"),
    ).select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
           COUNT(*) AS n,
           ROUND(SUM({o_money_col("o_totalprice")}), 2) AS sum_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10b: CUBE — all 2^k grouping combinations in one pass. Empty input
    → empty report (the q_agg_rollup r8 contract; oracle HAVING mirror)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        rnd(F.sum(money_col(F.col("o_totalprice")))).alias("sum_price"),
    ).select("o_orderstatus", "o_orderpriority", "gid", "n", "sum_price")


@query(
    "q_sql_grouping_sets",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           COUNT(*) AS n,
           ROUND(SUM({o_money_col("c_acctbal")}), 2) AS sum_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    HAVING COUNT(*) > 0
    """,
)
def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10c + E3: GROUPING SETS through the raw SQL parser path over
    registered temp views (Spectrum/external-table analog). Empty input →
    empty report (the q_agg_rollup r8 contract; oracle HAVING mirror)."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT c_mktsegment, c_nationkey,
               COUNT(*) AS n,
               ROUND(SUM({s_money_col("c_acctbal")}), 2) AS sum_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """,
    )


@query(
    "q_sql_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {o_exact_sum("l_extendedprice * (1.0::DOUBLE - l_discount)", 4)} AS revenue,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 end-to-end (TPC-H Q3 shape, reduced to existing columns): raw-SQL
    three-way join + agg + top-k through the parser. Revenue is rounded
    before the ORDER BY so the top-10 cut is deterministic on both engines;
    l_orderkey breaks ties."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT l_orderkey,
               {s_exact_sum("l_extendedprice * (1.0D - l_discount)", 4)} AS revenue,
               o_orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """,
    )


@query(
    "q_sql_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           {o_exact_sum("l.l_extendedprice * (1.0::DOUBLE - l.l_discount)", 4)} AS revenue,
           COUNT(*) AS n_items
    FROM customer c, orders o, lineitem l, nation n
    WHERE c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND l.l_returnflag = 'R'
      AND c.c_nationkey = n.n_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q_sql_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 end-to-end (TPC-H Q10 shape, reduced to existing columns): the
    returned-item revenue report — customers who returned the most, with
    their nation, over one quarter. Raw SQL through the parser; revenue
    rounded before ORDER BY for a deterministic top-20 (custkey ties)."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               {s_exact_sum("l.l_extendedprice * (1.0D - l.l_discount)", 4)} AS revenue,
               COUNT(*) AS n_items
        FROM customer c, orders o, lineitem l, nation n
        WHERE c.c_custkey = o.o_custkey
          AND l.l_orderkey = o.o_orderkey
          AND l.l_returnflag = 'R'
          AND c.c_nationkey = n.n_nationkey
          AND o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
        """,
    )


@query(
    "q_sql_priority_class",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           ROUND(SUM({o_money_col("o_totalprice")}), 2) / COUNT(*) AS avg_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_sql_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 end-to-end (TPC-H Q12/Q4 flavor): order-priority service-class
    report — finished vs open order counts per priority over a year, via
    conditional aggregation in raw SQL. The price sum inside avg_price
    folds the MONEY_MAX conformance guard in both twins (r9 raw-sum wave;
    registry.s_money_col declares the Spark-dialect body)."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT o_orderpriority,
               SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_finished,
               SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS n_open,
               ROUND(SUM({s_money_col("o_totalprice")}), 2) / COUNT(*) AS avg_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY o_orderpriority
        """,
    )
