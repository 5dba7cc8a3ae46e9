"""Declarative ETL job orchestration — the reference's service layer
re-expressed Spark-first (SURVEY.md §3.1).

Reference parity: `aws-samples/aws-etl-microservice-redshift-datalake` is a
microservice that sequences COPY (S3 → warehouse) → SQL transform →
UNLOAD (warehouse → S3) and reports job status (public semantics;
/root/reference is empty — SURVEY.md §0). Here the warehouse is the
SparkSession itself: ingest registers sources as views, transforms are SQL
(or DataFrame builders) materialized as views, unload writes lake layouts —
and the job report carries per-stage rows/seconds like a service status
endpoint would.

Scale notes (100 TB):
- stages stay LAZY until a sink stage forces them, so Catalyst optimizes
  ACROSS stage boundaries (filter from a late transform reaches the ingest
  scan — impossible in the JDBC-orchestration original);
- `checkpoint_view` materializes a hot intermediate once when multiple
  sinks fan out from it (the only time eager evaluation pays);
- everything here is driver-side *metadata* orchestration: no data ever
  moves through Python.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .sources import io


@dataclass
class StageReport:
    name: str
    kind: str
    rows: int | None
    seconds: float


@dataclass
class JobReport:
    job: str
    stages: list[StageReport] = field(default_factory=list)

    @property
    def total_seconds(self) -> float:
        return sum(s.seconds for s in self.stages)


@dataclass
class _Stage:
    name: str
    kind: str  # ingest | transform | sink
    run: Callable[[SparkSession], int | None]


class EtlJob:
    """A COPY → transform → UNLOAD job as a declarative stage list.

    >>> job = (
    ...     EtlJob("revenue_report")
    ...     .ingest("lineitem", lambda s: load_table(s, sf, "lineitem"))
    ...     .transform("rev", "SELECT ... FROM lineitem GROUP BY ...")
    ...     .unload("rev", path, partition_cols=["l_returnflag"])
    ... )
    >>> report = job.run(spark)

    Ingest stages register DataFrames as temp views; transform stages are
    SQL over the views so far (or DataFrame builders), registered as views
    themselves; sink stages force execution. Sink rows come from the output
    footers, so no sink runs its view a second time just to count it;
    intermediate stages report rows=None and ~0 s because they only build
    plan metadata.
    """

    def __init__(self, name: str):
        self.name = name
        self._stages: list[_Stage] = []

    def ingest(self, view: str, loader: Callable[[SparkSession], DataFrame]) -> "EtlJob":
        def run(spark: SparkSession) -> None:
            loader(spark).createOrReplaceTempView(view)

        self._stages.append(_Stage(view, "ingest", run))
        return self

    def transform(
        self, view: str, sql_or_fn: str | Callable[[SparkSession], DataFrame]
    ) -> "EtlJob":
        def run(spark: SparkSession) -> None:
            df = (
                spark.sql(sql_or_fn)
                if isinstance(sql_or_fn, str)
                else sql_or_fn(spark)
            )
            df.createOrReplaceTempView(view)

        self._stages.append(_Stage(view, "transform", run))
        return self

    def checkpoint_view(self, view: str) -> "EtlJob":
        """Materialize (cache + count) a view that multiple sinks will read."""

        def run(spark: SparkSession) -> int:
            df = spark.table(view).cache()
            return df.count()

        self._stages.append(_Stage(f"checkpoint:{view}", "transform", run))
        return self

    def unload(
        self, view: str, path: str, partition_cols: list[str] | None = None
    ) -> "EtlJob":
        """Sink stage: UNLOAD a view to a parquet lake layout
        (``sources.io.unload``). Reports the rows in the output footers."""

        def run(spark: SparkSession) -> int:
            io.unload(spark.table(view), path, partition_cols)
            return io._rows_for(io._stat_sig(path))

        self._stages.append(_Stage(f"unload:{view}", "sink", run))
        return self

    def sink(self, name: str, fn: Callable[[SparkSession], int | None]) -> "EtlJob":
        """Custom sink (JDBC push, foreachBatch, ...)."""
        self._stages.append(_Stage(name, "sink", fn))
        return self

    def compact(
        self, path: str, target_file_bytes: int = io.DEFAULT_TARGET_FILE_BYTES
    ) -> "EtlJob":
        """Maintenance stage: compact the parquet layout a prior unload
        produced, in place and per partition directory
        (``sources.io.compact``). A layout already at or below its planned
        file count is left as it is, so jobs can schedule this
        unconditionally. Reports the resulting file count as rows."""

        def run(spark: SparkSession) -> int:
            return io.compact(spark, path, target_file_bytes)

        self._stages.append(_Stage(f"compact:{path.rsplit('/', 1)[-1]}", "sink", run))
        return self

    def cluster(
        self, view: str, path: str, cluster_cols: list[str], n_files: int
    ) -> "EtlJob":
        """Sink stage: SORTKEY-style clustered write of a view — each output
        file covers a disjoint range of ``cluster_cols`` so downstream
        predicate pushdown prunes whole files (sources.maintenance
        .clustered_write)."""

        def run(spark: SparkSession) -> int:
            from .sources.maintenance import clustered_write

            clustered_write(spark.table(view), path, cluster_cols, n_files)
            return io._rows_for(io._stat_sig(path))

        self._stages.append(_Stage(f"cluster:{view}", "sink", run))
        return self

    def run(self, spark: SparkSession) -> JobReport:
        report = JobReport(self.name)
        for st in self._stages:
            t0 = time.perf_counter()
            rows = st.run(spark)
            report.stages.append(
                StageReport(st.name, st.kind, rows, round(time.perf_counter() - t0, 4))
            )
        return report
