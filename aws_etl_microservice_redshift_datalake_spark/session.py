"""SparkSession factory tuned for this engine.

Reference parity: the reference (aws-samples/aws-etl-microservice-redshift-datalake)
is an ETL microservice that drives Amazon Redshift; its "session" is a JDBC
connection to a warehouse (SURVEY.md §0, §3.1 — reference dir is empty, so the
characterization is from public Redshift semantics). Our engine is in-process
PySpark: one SparkSession with AQE enabled plays the role of the warehouse.

Scale notes (100 TB design):
- AQE on: runtime partition coalescing + skew-join splitting replace manual
  DISTKEY tuning.
- shuffle.partitions defaults to 32, not Spark's 200 (200 tasks would
  dominate wall-clock on local runs); pass ``shuffle_partitions=`` or set
  ``spark.sql.shuffle.partitions`` at runtime for a real cluster.
- UTC session timezone: deterministic date_trunc/extract semantics that match
  the DuckDB oracle (which is timezone-naive).
- One session serves many threads: a query that needs its own temp views or
  conf takes a ``sibling`` session, never writes to the caller's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_session(
    app_name: str = "aws-etl-datalake-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[$SPARK_GRAFT_CPUS] by default; on a real cluster the caller passes
    its own master via spark-submit and these configs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    parts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def sibling(spark: SparkSession, conf: dict[str, str] | None = None) -> SparkSession:
    """A session for one query's temp views and conf, so the caller's
    session is left as it was found.

    ``spark.newSession()`` shares the caller's SparkContext (executors,
    cache, broadcasts) but has its own SQL conf and temp-view catalog, so
    nothing the query registers or sets is visible to the caller or to a
    query running concurrently on another thread. It starts from a copy of
    the caller's modifiable SQL conf, so settings made at runtime still
    apply; ``conf`` is applied on top. This is the only place a query path
    sets conf."""
    settings = {
        k: v for k, v in spark.conf.getAll.items() if spark.conf.isModifiable(k)
    }
    settings.update(conf or {})
    s = spark.newSession()
    for k, v in settings.items():
        s.conf.set(k, v)
    return s
