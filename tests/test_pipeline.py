"""EtlJob orchestration: the COPY → transform → UNLOAD flow end-to-end,
verified by re-reading the unloaded lake layout against a direct query."""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import functions as F

from aws_etl_microservice_redshift_datalake_spark.pipeline import EtlJob
from aws_etl_microservice_redshift_datalake_spark.sources import io
from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table

from tests.conftest import SF_MED

SCRATCH = "/root/repo/.tmp"

REV_SQL = """
    SELECT o.o_orderpriority,
           l.l_returnflag,
           COUNT(*) AS n_items,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority, l.l_returnflag
"""


def _revenue_views(name: str) -> EtlJob:
    return (
        EtlJob(name)
        .ingest("li", lambda s: load_table(s, SF_MED, "lineitem"))
        .ingest("ord", lambda s: load_table(s, SF_MED, "orders"))
        .transform("rev", REV_SQL)
    )


def _fingerprint(df):
    return tuple(df.agg(F.count(F.lit(1)), F.sum(F.hash(*df.columns))).collect()[0])


def test_etl_job_end_to_end(spark):
    out = f"{SCRATCH}/job-{uuid.uuid4().hex[:8]}"
    try:
        job = _revenue_views("quarterly_revenue").unload(
            "rev", out, partition_cols=["l_returnflag"]
        )
        report = job.run(spark)

        assert [s.kind for s in report.stages] == ["ingest", "ingest", "transform", "sink"]
        sink = report.stages[-1]

        # lake roundtrip equals the direct query
        back = spark.read.parquet(out)
        direct = (
            load_table(spark, SF_MED, "lineitem")
            .join(
                load_table(spark, SF_MED, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority", "l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            )
        )
        got = {
            (r["o_orderpriority"], r["l_returnflag"]): (r["n_items"], r["total_qty"])
            for r in back.collect()
        }
        want = {
            (r["o_orderpriority"], r["l_returnflag"]): (r["n_items"], r["total_qty"])
            for r in direct.collect()
        }
        assert got == want
        assert sink.rows == len(want)
        assert report.total_seconds > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_etl_job_unload_runs_view_once(spark):
    """An unload stage writes its view once and reads its row count from
    the output footers: it runs no more Spark jobs than a bare io.unload of
    the same view (a count() before the write would run the view twice)."""
    out = f"{SCRATCH}/job-once-{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext

    def jobs_in(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        _revenue_views("views").run(spark)  # scans' schema reads stay outside
        job = EtlJob("once").unload("rev", out, partition_cols=["l_returnflag"])
        reports = []
        stage_jobs = jobs_in(f"{out}-stage", lambda: reports.append(job.run(spark)))
        bare_jobs = jobs_in(
            f"{out}-bare",
            lambda: io.unload(spark.table("rev"), out, partition_cols=["l_returnflag"]),
        )
        assert 0 < stage_jobs <= bare_jobs, (stage_jobs, bare_jobs)
        assert reports[0].stages[-1].rows == spark.table("rev").count()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_etl_job_compact_keeps_hive_partitions(spark):
    """Compacting a hive-partitioned unload keeps its k=v directories, so
    readers keep the partition filter; content is unchanged, and a second
    compact stage leaves the files as they are. (Regression: compaction
    read the table with partition discovery and rewrote it as one flat
    file, turning event_type into a data column.)"""
    from aws_etl_microservice_redshift_datalake_spark.plans.audit import plan_str

    path = f"{SCRATCH}/job-hive-{uuid.uuid4().hex[:8]}"

    def partition_dirs():
        return sorted(d for d in os.listdir(path) if d.startswith("event_type="))

    try:
        events = load_table(spark, SF_MED, "events")
        io.unload(events, path, partition_cols=["event_type"], max_records_per_file=500)
        dirs = partition_dirs()
        assert len(dirs) == 5
        assert len(io._parquet_files(path)) >= 4 * len(dirs)  # fragmented
        before = _fingerprint(spark.read.parquet(path))

        sigs = []
        report = (
            EtlJob("hive_compact")
            .compact(path)
            .sink("stat", lambda s: sigs.append(io._stat_sig(path)))
            .compact(path)
            .run(spark)
        )
        first, second = [s for s in report.stages if s.name.startswith("compact:")]

        assert partition_dirs() == dirs
        assert first.rows == len(io._parquet_files(path)) == len(dirs)
        assert second.rows == first.rows
        assert io._stat_sig(path) == sigs[0], "second compact rewrote the table"
        back = spark.read.parquet(path)
        assert _fingerprint(back) == before
        plan = plan_str(back.filter("event_type = 'click'"))
        assert re.search(r"PartitionFilters: \[[^\]]*event_type", plan), plan
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_materialized_view_caches_and_refreshes(spark, tmp_path):
    """MV contract: queries against the view hit the columnar cache
    (InMemoryTableScan in the plan); REFRESH rebuilds from changed base
    data."""
    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.operators.matview import (
        create_materialized_view,
        refresh_materialized_view,
    )

    base = str(tmp_path / "mv-base")
    spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("g")).write.parquet(base)
    spark.read.parquet(base).createOrReplaceTempView("mv_base")

    mv = create_materialized_view(
        spark, "mv_sums", "SELECT g, COUNT(*) AS n FROM mv_base GROUP BY g"
    )
    assert mv.count() == 5  # materializes the cache
    p = spark.sql("SELECT SUM(n) FROM mv_sums")._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in p, "MV queries must hit the cache"
    assert spark.sql("SELECT SUM(n) AS s FROM mv_sums").collect()[0].s == 100

    # base data grows; REFRESH rebuilds the cache over the new file set
    # (a new file listing changes the canonical plan, so the old cache
    # entry no longer matches — Spark gives freshness, not staleness)
    spark.range(100, 150).select(F.col("id"), (F.col("id") % 5).alias("g")).write.mode(
        "append"
    ).parquet(base)
    spark.read.parquet(base).createOrReplaceTempView("mv_base")
    mv2 = refresh_materialized_view(spark, "mv_sums")
    assert mv2.count() == 5
    assert spark.sql("SELECT SUM(n) AS s FROM mv_sums").collect()[0].s == 150
    p2 = spark.sql("SELECT SUM(n) FROM mv_sums")._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in p2, "refreshed MV queries must hit the cache again"


def test_etl_job_compact_and_cluster_stages(spark):
    """The maintenance verbs as job stages: a fragmented unload compacts in
    place (idempotent — a second compact stage is a no-op), and a clustered
    sink writes range-disjoint files."""
    from aws_etl_microservice_redshift_datalake_spark.pipeline import EtlJob
    from aws_etl_microservice_redshift_datalake_spark.sources.io import _parquet_files, load_table
    from aws_etl_microservice_redshift_datalake_spark.sources.maintenance import file_ranges

    base = "/root/repo/.tmp/job-maint"
    frag = f"{base}/orders"
    clus = f"{base}/orders-clustered"

    job = (
        EtlJob("maintenance")
        .ingest("orders", lambda s: load_table(s, SF_MED, "orders"))
        .transform("big", "SELECT * FROM orders")
        .sink(
            "fragment",
            lambda s: s.table("big")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 500)
            .parquet(frag),
        )
        .compact(frag)
        .compact(frag)  # second pass must be a no-op
        .cluster("big", clus, ["o_orderkey"], n_files=4)
    )
    report = job.run(spark)
    by_name = {s.name: s for s in report.stages}
    assert len(_parquet_files(frag)) == 1
    # idempotence: the second compact stage reported the already-compact count
    compact_stages = [s for s in report.stages if s.name.startswith("compact:")]
    assert compact_stages[1].rows == 1

    # multi-file idempotence (regression: floor-divided records-per-file
    # overshot the planned file count, so every later compact re-rewrote
    # the table): with a target that plans n_target > 1, the rewrite must
    # land AT or UNDER the plan and the next compact must be a no-op
    from aws_etl_microservice_redshift_datalake_spark.sources.io import (
        _stat_sig,
        plan_compaction,
    )

    frag2 = f"{base}/orders-multi"
    spark.table("big").write.mode("overwrite").option(
        "maxRecordsPerFile", 500
    ).parquet(frag2)
    tgt = max(1, sum(os.path.getsize(f) for f in _parquet_files(frag2)) // 3)
    ((_n_before, n_target),) = plan_compaction(frag2, tgt).values()  # ~3-4 files
    assert n_target > 1
    sigs = []
    job2 = (
        EtlJob("maint2")
        .compact(frag2, tgt)
        .sink("stat", lambda s: sigs.append(_stat_sig(frag2)))
        .compact(frag2, tgt)
    )
    rep2 = job2.run(spark)
    stages2 = [s for s in rep2.stages if s.name.startswith("compact:")]
    n_after = len(_parquet_files(frag2))
    assert 1 < n_after <= n_target, (n_after, n_target)
    # second stage saw an already-compact layout and skipped the rewrite
    assert stages2[0].rows == stages2[1].rows == n_after
    assert _stat_sig(frag2) == sigs[0]
    ranges = sorted(file_ranges(clus, "o_orderkey"))
    assert len(ranges) == 4
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
