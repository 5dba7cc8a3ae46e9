"""PySpark-native analytics/ETL engine with the capability surface of
aws-samples/aws-etl-microservice-redshift-datalake.

The reference is an ETL microservice driving Amazon Redshift (COPY from S3 →
SQL transform → UNLOAD to S3). Its query engine is Redshift itself, so the
capability surface re-expressed here is the Redshift SQL + COPY/UNLOAD +
external-table surface — built Spark-first (DataFrame/SQL + Catalyst + AQE +
Structured Streaming), not as a port (/root/reference is empty; see
SURVEY.md §0 for the evidence basis).

Layout (SURVEY.md §3.3):
    session.py    SparkSession factory (AQE, UTC, tuned shuffle partitions)
    schemas.py    declared schemas for the ten driver tables
    registry.py   query/oracle registry + float-hash discipline helpers
    sources/      S1-S10: parquet/CSV/JSON/JDBC sources & sinks, streaming IO
    operators/    projection, joins, aggregates, windows, setops, events,
                  text (dedup/TF-IDF/LSH), vectors (ANN), multimodal
    functions/    scalar function families F1-F9
    streaming/    T1-T9 structured-streaming operators + batch twins
    plans/        explain/plan-audit helpers

Importing this package registers every implemented query in the registry;
``__spark_entry__.py`` re-exports them for the driver.
"""

from __future__ import annotations

from . import registry as _registry
from .registry import all_oracles, all_queries, dec, o_dec, query
from .schemas import SCHEMAS, TABLES
from .session import get_session
from .sources.io import load_table

# Import operator modules for their registration side effects.
from .operators import projection as _projection  # noqa: F401
from .operators import aggregates as _aggregates  # noqa: F401
from .operators import joins as _joins  # noqa: F401
from .operators import setops as _setops  # noqa: F401
from .operators import windows as _windows  # noqa: F401
from .operators import multidim as _multidim  # noqa: F401
from .operators import events as _events  # noqa: F401
from .operators import text as _text  # noqa: F401
from .operators import dedup as _dedup  # noqa: F401
from .operators import vectors as _vectors  # noqa: F401
from .operators import multimodal as _multimodal  # noqa: F401
from .operators import udfs as _udfs  # noqa: F401
from .operators import sampling as _sampling  # noqa: F401
from .operators import subqueries as _subqueries  # noqa: F401
from .operators import merge as _merge  # noqa: F401
from .operators import dq as _dq  # noqa: F401
from .operators import matview as _matview  # noqa: F401
from .functions import families as _families  # noqa: F401
from .streaming import streams as _streams  # noqa: F401
from .sources import ingest as _ingest  # noqa: F401
from .sources import maintenance as _maintenance  # noqa: F401

__all__ = [
    "SCHEMAS",
    "TABLES",
    "all_oracles",
    "all_queries",
    "dec",
    "get_session",
    "load_table",
    "o_dec",
    "query",
]
