"""Correlated & nested query shapes — the decorrelation surface (SURVEY.md
§2.3/§3.2 extension; TPC-H Q2/Q4/Q6/Q7/Q8/Q13/Q14/Q15/Q17/Q18/Q19/Q21/Q22
shapes adapted to the fixture columns — FIXTURES.md lists what's missing vs
real TPC-H, e.g. no l_commitdate/l_receiptdate/partsupp, so "late" is
expressed against o_orderdate and min-cost-supplier becomes min-price-per-
brand).

Reference parity: Redshift supports the full ANSI correlated-subquery surface
(EXISTS / NOT EXISTS / IN / NOT IN / scalar subqueries); an ETL microservice
driving Redshift runs exactly these report shapes (public semantics;
/root/reference is empty — SURVEY.md §0).

Spark-first design, two deliberate routes:

- ``q_subq_*`` build the DECORRELATED plan directly with the DataFrame API —
  EXISTS→left-semi, NOT EXISTS/NOT IN→left-anti, correlated scalar agg→
  groupBy+equi-join. This is the shape Catalyst itself rewrites subqueries
  into, stated explicitly so the physical plan is pinned (semi/anti hash
  joins, no nested-loop re-execution per outer row — the only plan that
  survives 100 TB).
- ``q_sql_*`` feed the raw subquery SQL through the parser and let Catalyst's
  decorrelation framework do the same rewrite, exercising the
  analyzer/optimizer path a Redshift-SQL user would hit verbatim.

Float discipline (registry docstring): revenue sums of price×(1−disc)
products use exact_sum/o_exact_sum (grid 4); threshold comparisons against
correlated averages are restated as INTEGER cross-multiplications
(5·qty·cnt < sum ⟺ qty < 0.2·avg) so no engine-order-dependent double ever
feeds a filter.

Scale notes: every shape here is one scan per table + hash semi/anti/equi
joins on the correlation key. The scalar subqueries (Q15 max, Q22 avg)
reduce to a 1-row broadcast. Nothing is quadratic; nothing re-executes per
row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import (
    QTY_MAX,
    dec,
    exact_sum,
    guarded_bigint,
    o_dec,
    o_exact_sum,
    o_guarded_bigint,
    o_money_col,
    query,
    s_exact_sum,
    s_money_col,
)
from ..sources import io
from ..sources.io import load_table

# "Very late" shipment: >1800 days after the order date (~p95 of the fixture's
# ship-delay distribution — FIXTURES.md; the synthetic delays reach ~2400 d).
LATE_DAYS = 1800

_REV4 = "l_extendedprice * (1.0::DOUBLE - l_discount)"
_REV4_S = "l_extendedprice * (1.0D - l_discount)"


def _rev_col() -> Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


# --------------------------------------------------------------------------
# DataFrame-API manually-decorrelated shapes (q_subq_*)
# --------------------------------------------------------------------------


@query(
    "q_subq_exists",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_subq_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS): orders with at least one very-late line,
    counted per priority. DataFrame route: the correlated EXISTS is stated
    directly as a LEFT SEMI join on the correlation key with the non-equi
    lateness predicate in the join condition — one hash semi-join, each
    order emitted at most once, no per-row subquery re-execution."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAY")
    )
    return (
        o.join(li, on=late, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q_subq_not_exists",
    oracle=f"""
    WITH pos AS (
        SELECT SUM({o_dec("c_acctbal")}) AS s, COUNT(*) AS n
        FROM customer WHERE c_acctbal > 0.0::DOUBLE
    )
    SELECT c_nationkey, COUNT(*) AS n_cust,
           CAST(SUM({o_dec("c_acctbal")}) AS DOUBLE) AS total_bal
    FROM customer, pos
    WHERE {o_dec("c_acctbal")} * pos.n > pos.s
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
)
def q_subq_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (NOT EXISTS + scalar subquery): dormant rich
    customers — account balance above the positive-balance average, no order
    since 2000 — per nation. DataFrame route: NOT EXISTS → LEFT ANTI join on
    custkey; the scalar avg is a 1-row aggregate cross-joined (broadcast) in.
    The avg threshold is compared exactly — bal·n > sum in DECIMAL cents —
    so no order-dependent double avg feeds the filter. The decimal hop goes
    through the MONEY_MAX-guarded registry.dec/o_dec helpers (r7
    extreme-money sweep: a 1e308 balance threw the raw DECIMAL(14,2) cast;
    round(x,2) is the identity on the fixture's 2-grid balances, so clean
    output is unchanged)."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "bal_dec", dec(F.col("c_acctbal"))
    )
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum("bal_dec").alias("s"), F.count(F.lit(1)).alias("n")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(F.col("bal_dec") * F.col("n") > F.col("s"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("bal_dec").cast("double").alias("total_bal"),
        )
    )


@query(
    "q_subq_in_agg",
    oracle=f"""
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(SUM({o_guarded_bigint("l_quantity")}) AS BIGINT) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM({o_guarded_bigint("l_quantity")}) > 250
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q_subq_in_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (IN over an aggregated subquery): large-volume
    orders. DataFrame route: the IN-list is the aggregate itself —
    groupBy(orderkey).sum(qty) filtered >250, then LEFT SEMI join back.
    Quantities are integral doubles (FIXTURES.md); summing them as BIGINT
    keeps the HAVING threshold and output exact on both engines. The
    narrowing carries the QTY_MAX guard (r7 extreme-money sweep: ANSI
    CAST_OVERFLOW on a 1e308 sentinel; the tighter quantity bound also
    keeps the per-order bigint SUM overflow-free at any line count)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qty", guarded_bigint(F.col("l_quantity"))
    )
    big = li.groupBy("l_orderkey").agg(F.sum("qty").alias("tq")).filter(F.col("tq") > 250)
    o = load_table(spark, sf_dir, "orders").join(
        big.select("l_orderkey"), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate")
        .agg(F.sum("qty").alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "q_subq_not_in",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part
    WHERE p_partkey NOT IN (
        SELECT l_partkey FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity > 40.0::DOUBLE
      )
    GROUP BY p_brand
    """,
)
def q_subq_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a subquery (TPC-H Q16 flavor): parts with no large
    returned shipment (the qty>40 cut keeps the anti-join discriminating —
    ~15% of parts survive at both test SFs; without it every part has some
    return and the result is empty), per brand. NOT IN is null-AWARE anti-join semantics — one NULL in the
    list empties the result; l_partkey is a non-null FK (FIXTURES.md), so
    it degenerates to a plain LEFT ANTI hash join, which is what the
    DataFrame route states directly. (Spark plans the general null-aware
    case as NAAJ only for single-column NOT IN; keeping keys non-null is
    the 100 TB-safe contract.)"""
    p = load_table(spark, sf_dir, "part")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 40.0))
        .select("l_partkey")
    )
    return (
        p.join(returned, p.p_partkey == returned.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@query(
    "q_subq_scalar_corr_avg",
    oracle=f"""
    WITH pa AS (
        SELECT l_partkey AS pk,
               SUM({o_guarded_bigint("l_quantity")}) AS sq,
               COUNT(*) AS nq
        FROM lineitem GROUP BY l_partkey
    )
    SELECT {o_exact_sum(_REV4, 4)} AS small_qty_revenue,
           COUNT(*) AS n_lines
    FROM lineitem, part, pa
    WHERE p_partkey = l_partkey AND pa.pk = l_partkey
      AND p_type = 'SMALL'
      AND {o_guarded_bigint("l_quantity")} * 5 * pa.nq < pa.sq
    """,
)
def q_subq_scalar_corr_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar AVG): revenue from lines whose
    quantity is below 20% of the part's average quantity. DataFrame route:
    the correlated ``(SELECT AVG(..) WHERE same part)`` is decorrelated into
    one groupBy(partkey) aggregate equi-joined back — the per-part avg is
    computed ONCE, not per outer row. The threshold ``qty < 0.2·avg`` is
    cross-multiplied into integers (5·qty·n < sum) so both engines filter on
    exact arithmetic. The quantity narrowing carries the QTY_MAX guard in
    both twins (r7 extreme-money sweep: ANSI CAST_OVERFLOW on a ±1e308
    sentinel; the tight bound also keeps ``qty·5·nq`` and the per-part SUM
    overflow-free at any line count) — a NULL qty row then drops from the
    filter in both engines, exactly like the NULL comparison semantics."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qty", guarded_bigint(F.col("l_quantity"))
    )
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty").alias("sq"), F.count(F.lit(1)).alias("nq")
    )
    small = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    return (
        li.join(small, li.l_partkey == small.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("qty") * 5 * F.col("nq") < F.col("sq"))
        .agg(
            exact_sum(_rev_col(), 4).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_subq_corr_min",
    oracle="""
    SELECT p.p_brand, p.p_partkey, p.p_name, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice = (
        SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
      )
    ORDER BY p.p_brand ASC, p.p_partkey ASC
    """,
)
def q_subq_corr_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated MIN equality): the cheapest part(s) within
    each brand. DataFrame route: groupBy(brand).min(price) equi-joined back
    on (brand, price) — MIN over doubles is order-insensitive and the values
    compared are raw parquet doubles, so the equality is bit-exact on both
    engines. (A window ``min() over (partition by brand)`` is the same plan
    minus the join; the join form is kept because it mirrors the correlated
    subquery 1:1.)"""
    p = load_table(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_brand").alias("mb")).agg(
        F.min("p_retailprice").alias("mp")
    )
    return (
        p.join(
            F.broadcast(mins),
            (p.p_brand == F.col("mb")) & (p.p_retailprice == F.col("mp")),
        )
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
        .orderBy(F.asc("p_brand"), F.asc("p_partkey"))
    )


# --------------------------------------------------------------------------
# Raw-SQL Catalyst-decorrelated shapes (q_sql_*)
# --------------------------------------------------------------------------


@query(
    "q_sql_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               {o_exact_sum(_REV4, 4)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, rev
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey ASC
    """,
)
def q_sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier, scalar MAX subquery over a named
    aggregate view) through the SQL parser — Catalyst evaluates the
    uncorrelated scalar subquery once and broadcasts the 1-row result.
    Revenue uses the exact-decimal sum so the MAX-equality cut is
    deterministic (exact_sum docstring)."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        WITH rev AS (
            SELECT l_suppkey AS supplier_no,
                   {s_exact_sum(_REV4_S, 4)} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier, rev
        WHERE s_suppkey = supplier_no
          AND total_revenue = (SELECT MAX(total_revenue) FROM rev)
        ORDER BY s_suppkey ASC
        """,
    )


@query(
    "q_sql_waiting_orders",
    oracle=f"""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3, orders o3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND o3.o_orderkey = l3.l_orderkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL {LATE_DAYS} DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def q_sql_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS, both correlated with a
    non-equi predicate): suppliers who were the SOLE very-late shipper on a
    finished multi-supplier order. Exercises Catalyst's decorrelation of
    two subqueries against the same outer row — planned as one semi- plus
    one anti-join on l_orderkey, no per-row re-execution."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier, lineitem l1, orders
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o3.o_orderdate + INTERVAL {LATE_DAYS} DAY
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
        LIMIT 20
        """,
    )


@query(
    "q_sql_cust_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '4-%'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_sql_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join with
    an extra join-condition filter (NOT LIKE on priority — the fixture has
    no o_comment), COUNT of a nullable column, then a second aggregation
    over the counts. All-integer output."""
    return io.sql(
        spark,
        sf_dir,
        """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '4-%'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
        """,
    )


@query(
    "q_sql_promo_revenue",
    oracle=f"""
    SELECT CASE WHEN den <> 0 THEN 100.0::DOUBLE * num / den END AS promo_pct,
           n_lines
    FROM (
        SELECT {o_exact_sum(f"CASE WHEN p_type = 'PROMO' THEN {_REV4} ELSE 0.0::DOUBLE END", 4)} AS num,
               {o_exact_sum(_REV4, 4)} AS den,
               COUNT(*) AS n_lines
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    ) sums
    """,
)
def q_sql_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promo revenue share): conditional revenue over total for
    one month. Both the numerator and denominator are exact-decimal sums
    rendered to canonical doubles, so the division (and ×100) is the same
    correctly-rounded IEEE op on both engines. A zero-revenue month (or an
    all-zero-priced slice — r6 zero-money sweep) yields a NULL share, not
    an ANSI DIVIDE_BY_ZERO crash: the sums are named in a subquery so the
    guard tests the evaluated denominator once, identically on both
    engines."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT CASE WHEN den <> 0 THEN 100.0D * num / den END AS promo_pct,
               n_lines
        FROM (
            SELECT {s_exact_sum(f"CASE WHEN p_type = 'PROMO' THEN {_REV4_S} ELSE 0.0D END", 4)} AS num,
                   {s_exact_sum(_REV4_S, 4)} AS den,
                   COUNT(*) AS n_lines
            FROM lineitem, part
            WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
        ) sums
        """,
    )


@query(
    "q_sql_disjunctive_pred",
    oracle=f"""
    SELECT {o_exact_sum(_REV4, 4)} AS revenue, COUNT(*) AS n_lines
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1.0::DOUBLE AND 20.0::DOUBLE)
        OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
            AND l_quantity BETWEEN 10.0::DOUBLE AND 30.0::DOUBLE)
        OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
            AND l_quantity BETWEEN 20.0::DOUBLE AND 40.0::DOUBLE))
    """,
)
def q_sql_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunction of conjunctive ranges): revenue from
    three OR'd brand/size/quantity bands. Exercises CNF extraction — the
    common ``p_partkey = l_partkey`` stays a hash-join key and the shared
    ``p_brand IN (...)`` implied filter is pushed to the part scan rather
    than evaluating the OR as a nested-loop residual."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT {s_exact_sum(_REV4_S, 4)} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1.0D AND 20.0D)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10.0D AND 30.0D)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20.0D AND 40.0D))
        """,
    )


@query(
    "q_sql_discount_revenue",
    oracle=f"""
    SELECT {o_exact_sum("l_extendedprice * l_discount", 4)} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05::DOUBLE AND 0.07::DOUBLE
      AND l_quantity < 24.0::DOUBLE
    """,
)
def q_sql_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast discount revenue): single-table scan-heavy agg
    with tight range predicates — the canonical pushdown/zone-map probe.
    All three filters reach the parquet scan (PushedFilters, asserted in
    the plan suite); price×discount lives on the 4-decimal grid →
    exact-decimal sum."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT {s_exact_sum("l_extendedprice * l_discount", 4)} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05D AND 0.07D
          AND l_quantity < 24.0D
        """,
    )


@query(
    "q_sql_volume_shipping",
    oracle=f"""
    SELECT r2.r_name AS cust_region,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           {o_exact_sum(_REV4, 4)} AS revenue
    FROM supplier, lineitem, orders, customer,
         nation n1, nation n2, region r1, region r2
    WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey
      AND s_nationkey = n1.n_nationkey AND n1.n_regionkey = r1.r_regionkey
      AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r1.r_name = 'ASIA'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY cust_region, l_year
    ORDER BY cust_region ASC, l_year ASC
    """,
)
def q_sql_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing from ASIA-region
    suppliers to each customer region per ship-year (region-level instead of
    the classic nation pair — the synthetic supplier table is too small at
    sf0.001 for any single nation pair to be populated; FIXTURES.md). Two
    independent nation→region dimension chains broadcast onto one fact
    scan."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT r2.r_name AS cust_region,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {s_exact_sum(_REV4_S, 4)} AS revenue
        FROM supplier, lineitem, orders, customer,
             nation n1, nation n2, region r1, region r2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey
          AND s_nationkey = n1.n_nationkey AND n1.n_regionkey = r1.r_regionkey
          AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
          AND r1.r_name = 'ASIA'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY cust_region, l_year
        ORDER BY cust_region ASC, l_year ASC
        """,
    )


@query(
    "q_sql_market_share",
    oracle=f"""
    SELECT o_year,
           CASE WHEN den <> 0 THEN num / den END AS mkt_share
    FROM (
        SELECT o_year,
               {o_exact_sum(f"CASE WHEN supp_region = 'ASIA' THEN volume ELSE 0.0::DOUBLE END", 4)} AS num,
               {o_exact_sum("volume", 4)} AS den
        FROM (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   {_REV4} AS volume,
                   r1.r_name AS supp_region
            FROM part, supplier, lineitem, orders, customer,
                 nation n1, nation n2, region r1, region r2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey
              AND s_nationkey = n1.n_nationkey AND n1.n_regionkey = r1.r_regionkey
              AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
              AND r2.r_name = 'AMERICA'
              AND p_type = 'STANDARD' AND p_partkey = l_partkey
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        ) all_lines
        GROUP BY o_year
    ) sums
    ORDER BY o_year ASC
    """,
)
def q_sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): the ASIA-supplier share of STANDARD-
    part volume sold to AMERICA-region customers, per order-year —
    conditional-sum ÷ total-sum over one joined relation (region-level for
    the same fixture-sparsity reason as q_sql_volume_shipping). Both sums
    are exact-decimal; their quotient is one correctly-rounded IEEE divide
    on each engine. A zero-volume year yields a NULL share instead of an
    ANSI DIVIDE_BY_ZERO crash (r6 zero-money sweep): sums are named in a
    subquery so the guard tests the evaluated denominator, identically on
    both engines."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT o_year,
               CASE WHEN den <> 0 THEN num / den END AS mkt_share
        FROM (
            SELECT o_year,
                   {s_exact_sum("CASE WHEN supp_region = 'ASIA' THEN volume ELSE 0.0D END", 4)} AS num,
                   {s_exact_sum("volume", 4)} AS den
            FROM (
                SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                       {_REV4_S} AS volume,
                       r1.r_name AS supp_region
                FROM part, supplier, lineitem, orders, customer,
                     nation n1, nation n2, region r1, region r2
                WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                  AND c_custkey = o_custkey
                  AND s_nationkey = n1.n_nationkey AND n1.n_regionkey = r1.r_regionkey
                  AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
                  AND r2.r_name = 'AMERICA'
                  AND p_type = 'STANDARD' AND p_partkey = l_partkey
                  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            ) all_lines
            GROUP BY o_year
        ) sums
        ORDER BY o_year ASC
        """,
    )


_PROFIT = f"{_REV4} - p_retailprice * l_quantity * 0.1::DOUBLE"
_PROFIT_S = f"{_REV4_S} - p_retailprice * l_quantity * 0.1D"


@query(
    "q_sql_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           {o_exact_sum(_PROFIT, 4)} AS profit
    FROM part, supplier, lineitem, orders, nation
    WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation ASC, o_year DESC
    """,
)
def q_sql_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier-nation and order
    year, profit on parts matching a name pattern — revenue minus a
    holding-cost proxy (10% of retail value; the fixture has no partsupp/
    ps_supplycost — FIXTURES.md). The per-row profit expression is the same
    IEEE arithmetic on both engines, then exact-decimal summed. Plan: one
    lineitem scan, part/supplier/nation broadcast, orders join, one
    aggregation shuffle."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               {s_exact_sum(_PROFIT_S, 4)} AS profit
        FROM part, supplier, lineitem, orders, nation
        WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
          AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
          AND p_name LIKE '%red%'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation ASC, o_year DESC
        """,
    )


@query(
    "q_sql_value_concentration",
    oracle=f"""
    SELECT l_suppkey,
           CAST(SUM({o_dec("l_extendedprice", 2, 27)}) AS DOUBLE) AS supp_value
    FROM lineitem
    GROUP BY l_suppkey
    HAVING SUM({o_dec("l_extendedprice", 2, 27)})
         > (SELECT SUM({o_dec("l_extendedprice", 2, 27)}) * 0.0105::DOUBLE
            FROM lineitem)
    ORDER BY supp_value DESC, l_suppkey ASC
    """,
)
def q_sql_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (scalar subquery inside HAVING): suppliers carrying
    more than 1.05% of total lineitem value (the cut keeps ~16% of suppliers at sf0.01 — shares are near-uniform, so the threshold sits just above the median). Unlike Q15's max-equality, the
    threshold is an uncorrelated scalar aggregate COMPARED inside HAVING —
    Catalyst evaluates it once and broadcasts the single row into the
    post-aggregation filter. Both the per-supplier and the grand total are
    EXACT decimal sums (prices are 2-dec-grid money), so the threshold cut
    is deterministic; the decimal×double product keeps the comparison the
    same IEEE op on both engines. The decimal hop carries the MONEY_MAX
    guard in all three spots, identically in both twins (r7 extreme-money
    sweep: one 1e308 price otherwise throws the stage out of decimal
    range under ANSI; NaN/±Inf fail the BETWEEN in both engines)."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT l_suppkey,
               CAST(SUM({o_dec("l_extendedprice", 2, 27)}) AS DOUBLE) AS supp_value
        FROM lineitem
        GROUP BY l_suppkey
        HAVING SUM({o_dec("l_extendedprice", 2, 27)})
             > (SELECT SUM({o_dec("l_extendedprice", 2, 27)}) * 0.0105D
                FROM lineitem)
        ORDER BY supp_value DESC, l_suppkey ASC
        """,
    )


@query(
    "q_sql_regional_revenue",
    oracle=f"""
    SELECT n_name, {o_exact_sum(_REV4, 4)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
)
def q_sql_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue per nation for orders
    where the CUSTOMER and the SUPPLIER sit in the same nation of one region
    — the classic 6-table star-plus-snowflake join with an extra
    same-nation equi-constraint (c_nationkey = s_nationkey) that is NOT a
    star edge, so the optimizer must thread the constraint through the join
    order rather than treat each dim independently.

    Scale shape: region→nation prune first (broadcast, cuts customers and
    suppliers to 1/5 before any fact-table work), lineitem joins suppliers
    and orders on their keys (shuffle joins on the two fact keys — the only
    big exchanges), dims broadcast. Revenue is exact_sum (grid 4) so the
    ORDER BY on the double is deterministic cross-engine."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT n_name,
               {s_exact_sum(_REV4_S, 4)} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name ASC
        """,
    )


@query(
    "q_sql_parts_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    LIMIT 50
    """,
)
def q_sql_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers can ship each surviving (brand, type, size) combination,
    excluding a supplier denylist via NOT IN. Fixture adaptation (documented
    deviation, FIXTURES.md): no partsupp table exists, so lineitem IS the
    part↔supplier relation, and the denylist (TPC-H's complaint-comment
    suppliers) is suppliers with negative account balance.

    Plan: the NOT IN subquery is uncorrelated over a NON-NULLABLE key, so
    Catalyst plans a broadcast left-anti join (no null-aware penalty); the
    IN-list and two <> predicates push into the part scan; distinct-count
    runs as a two-phase partial/final aggregate over (brand,type,size,
    suppkey). LIMIT 50 carries the full ORDER BY tie-break, so the cut is
    deterministic."""
    return io.sql(
        spark,
        sf_dir,
        """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
        LIMIT 50
        """,
    )


@query(
    "q_sql_recursive_spine",
    oracle=f"""
    WITH RECURSIVE months(m) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < DATE '2001-08-01'
    )
    SELECT m AS month,
           COUNT(o_orderkey) AS n_orders,
           ROUND(SUM({o_money_col("o_totalprice")}), 2) AS total_price
    FROM months
    LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
    GROUP BY m
    """,
)
def q_sql_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — new native SQL surface in Spark 4.x;
    Redshift supports the same ANSI recursion): generate an 80-month
    calendar spine by recursion, then LEFT-join monthly order revenue onto
    it so empty months survive with zero counts — the gap-preserving
    report shape (the date-spine idiom every BI layer runs; the
    non-recursive twin is q_time_gapfill's sequence() expansion).

    Scale shape: recursion happens on the 1-row-per-level spine (driver-
    side iteration over 80 levels, each a trivial localRelation step — the
    corpus is NOT in the recursion); the fact table joins once, hashed on
    the month key. Money sum is a raw 2-decimal column — plain ROUND is
    exact (registry rnd contract) under the MONEY_MAX conformance guard
    (r8 degmoney wave: one ±1e308/NaN price otherwise poisons the whole
    month's fold, differently per engine); empty months yield NULL sums on
    both engines identically."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        WITH RECURSIVE months(m) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT add_months(m, 1) FROM months
            WHERE m < DATE '2001-08-01'
        )
        SELECT m AS month,
               COUNT(o_orderkey) AS n_orders,
               ROUND(SUM({o_money_col("o_totalprice")}), 2) AS total_price
        FROM months
        LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m
        """,
    )


@query(
    "q_sql_lateral_topn",
    oracle="""
    SELECT c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer CROSS JOIN LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
    ) t
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def q_sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with ORDER BY + LIMIT — the top-N-per-
    group idiom written the way an ANSI-SQL user writes it (each customer's
    two largest orders). The scale story is in what Catalyst does with it:
    the correlated limit decorrelates into WindowGroupLimit — a PARTIAL
    per-partition top-k before the shuffle and a FINAL one after, so only
    ≤ N rows per key ever cross the exchange (verified by plan audit) —
    exactly the hand-built shape of q_window_topk, derived automatically.
    The money tie-break is o_orderkey, so the LIMIT cut is deterministic
    and the raw parquet doubles hash bit-identically."""
    return io.sql(
        spark,
        sf_dir,
        """
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
        WHERE c_mktsegment = 'BUILDING'
        """,
    )


@query(
    "q_sql_modern_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           ROUND(SUM({o_money_col("l_quantity", QTY_MAX)})
                 FILTER (WHERE l_tax > 0.04), 2) AS qty_taxed
    FROM lineitem
    GROUP BY ALL
    """,
)
def q_sql_modern_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern ANSI aggregate surface: GROUP BY ALL (grouping keys inferred
    from the non-aggregate select list) + the FILTER clause on aggregates
    (the standard's form of conditional aggregation — q_agg_conditional is
    the CASE-WHEN spelling). Both parse natively on Spark 4 and DuckDB, so
    the oracle is the IDENTICAL string (registry.s_money_col declares the
    Spark-dialect body). Plans to the same partial/final hash aggregate as
    an explicit GROUP BY — the sugar is analyzer-only. l_quantity is
    integral-valued (FIXTURES.md) so its filtered SUM is exact in doubles;
    ROUND is belt-and-braces on both sides, and the QTY_MAX conformance
    guard inside the SUM (r9 raw-sum wave) nulls finite-absurd sentinels
    identically in both twins."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               ROUND(SUM({s_money_col("l_quantity", QTY_MAX)})
                     FILTER (WHERE l_tax > 0.04), 2) AS qty_taxed
        FROM lineitem
        GROUP BY ALL
        """,
    )


@query(
    "q_sql_relational_division",
    oracle="""
    WITH statuses AS (SELECT DISTINCT o_orderstatus AS st FROM orders),
    missing AS (
        SELECT c.c_custkey
        FROM customer c CROSS JOIN statuses s
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = s.st
        )
    )
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT c_custkey FROM missing)
    ORDER BY c_custkey ASC
    """,
)
def q_sql_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (Codd's ÷, the classic "for all" query): customers
    who have placed orders in EVERY order status. The textbook spelling is
    a double-NOT-EXISTS whose innermost query correlates TWO scopes up;
    Spark's decorrelation supports only single-level correlation
    (UNRESOLVED_COLUMN on the outer reference — measured), so this uses
    the equally classic set-difference spelling: build the (customer,
    status) pairs that are MISSING (cross join the tiny domain, one-level
    NOT EXISTS), then anti-join customers with any missing pair.

    Plan: the NOT EXISTS decorrelates to an anti-join of the customer ×
    status cross product (|customers|·|statuses| rows — the domain is 3)
    against the distinct order pairs, then NOT IN (non-nullable key) is a
    second plain anti-join. The status domain is data-derived, so the
    query stays correct if the domain grows."""
    return io.sql(
        spark,
        sf_dir,
        """
        WITH statuses AS (SELECT DISTINCT o_orderstatus AS st FROM orders),
        missing AS (
            SELECT c.c_custkey
            FROM customer c CROSS JOIN statuses s
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = s.st
            )
        )
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM missing)
        ORDER BY c_custkey ASC
        """,
    )
