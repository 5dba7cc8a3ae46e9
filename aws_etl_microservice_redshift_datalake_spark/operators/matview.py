"""Materialized views and parameterized SQL — the remaining Redshift
service-surface verbs (CREATE MATERIALIZED VIEW / REFRESH MATERIALIZED
VIEW, and the parameterized queries a service API issues).

Reference parity: Redshift materialized views precompute expensive
aggregations and are refreshed on demand; service code queries them instead
of the base tables. Parameterized SQL (bind parameters) is how any
microservice issues user-scoped queries safely (public semantics;
/root/reference is empty — SURVEY.md §0).

Spark-first design: a materialized view is a CACHED DataFrame registered as
a temp view — the first action materializes it (InMemoryRelation), later
queries hit the columnar cache (plan-asserted in tests); ``refresh``
unpersists and re-caches, picking up new source data. At cluster scale the
same API persists to ``StorageLevel.MEMORY_AND_DISK`` partitions across
executors (Spark's cache IS distributed); a lake-durable variant would
CTAS to parquet — that path is `sources/io.unload` + re-register, already
covered. Parameterized SQL uses Spark's native named-parameter binding
(`spark.sql(query, args=...)`) — literals are injected as typed literals by
the parser, never string-spliced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import o_money_col, query, s_money_col
from ..sources import io

_MV_REGISTRY: dict[str, str] = {}


def create_materialized_view(spark: SparkSession, name: str, sql: str) -> DataFrame:
    """CREATE MATERIALIZED VIEW analog: evaluate ``sql``, cache the result,
    register it as a temp view. Returns the cached DataFrame (lazy — the
    first action materializes the cache)."""
    df = spark.sql(sql).cache()
    df.createOrReplaceTempView(name)
    _MV_REGISTRY[name] = sql
    return df


def refresh_materialized_view(spark: SparkSession, name: str) -> DataFrame:
    """REFRESH MATERIALIZED VIEW analog: drop the cached copy and rebuild
    from the (possibly changed) base relations."""
    sql = _MV_REGISTRY[name]
    spark.catalog.dropTempView(name)
    try:
        spark.catalog.uncacheTable(name)
    except Exception:
        pass  # already dropped with the view
    return create_materialized_view(spark, name, sql)


@query(
    "q_sql_parameterized",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM({o_money_col("o_totalprice")}), 2) AS total_price
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL through Spark's native named-parameter binding —
    the injection-safe path a service API uses for user-scoped queries.
    The status and date arrive as BOUND PARAMETERS (typed literals injected
    by the parser), not string concatenation; Catalyst then constant-folds
    and pushes them down exactly like hand-written literals (the oracle is
    the literal form — the hash match proves equivalence). The price sum
    folds the MONEY_MAX conformance guard in both twins (r9 raw-sum wave;
    registry.s_money_col declares the Spark-dialect body)."""
    return io.sql(
        spark,
        sf_dir,
        f"""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               ROUND(SUM({s_money_col("o_totalprice")}), 2) AS total_price
        FROM orders
        WHERE o_orderstatus = :status
          AND o_orderdate >= :cutoff
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "cutoff": "1996-01-01 00:00:00"},
    )
