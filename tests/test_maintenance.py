"""Small-file compaction + clustered-write maintenance verbs: file counts
actually collapse, content survives byte-exact, and clustered layouts give
disjoint per-file min/max envelopes (the pruning evidence)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_MED
from aws_etl_microservice_redshift_datalake_spark.sources.io import (
    _parquet_files,
    compact,
    load_table,
    plan_compaction,
)
from aws_etl_microservice_redshift_datalake_spark.sources.maintenance import (
    clustered_write,
    file_ranges,
)

SCRATCH = "/root/repo/.tmp"


def _fingerprint(df):
    return tuple(df.agg(F.count(F.lit(1)), F.sum(F.hash(*df.columns))).collect()[0])


def test_compact_collapses_files_losslessly(spark):
    """VACUUM analog: a directory fragmented into many small files is
    rewritten in place into the planned number of files, with identical
    content and an atomic swap (no .compacting/.old residue)."""
    import os

    path = f"{SCRATCH}/t-compact-orders"
    src = load_table(spark, SF_MED, "orders")
    src.write.mode("overwrite").option("maxRecordsPerFile", 500).parquet(path)
    n_frag = len(_parquet_files(path))
    assert n_frag >= 20  # the fragmentation really happened

    tgt = -(-sum(os.path.getsize(f) for f in _parquet_files(path)) // 3)
    ((n_now, n_target),) = plan_compaction(path, tgt).values()
    assert (n_now, n_target) == (n_frag, 3)

    n_after = compact(spark, path, tgt)
    assert n_after == len(_parquet_files(path)) == n_target
    assert not os.path.exists(path + ".compacting")
    assert not os.path.exists(path + ".old")
    assert _fingerprint(spark.read.parquet(path)) == _fingerprint(src)


def test_compact_writes_one_file_per_task_under_session_record_cap(spark):
    """The rewrite ignores a session-wide maxRecordsPerFile: a capped write
    would leave the leaf above its plan and the rewrite would never stop."""
    path = f"{SCRATCH}/t-compact-capped"
    load_table(spark, SF_MED, "orders").write.mode("overwrite").option(
        "maxRecordsPerFile", 500
    ).parquet(path)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1000")
    try:
        assert compact(spark, path) == len(_parquet_files(path)) == 1
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_compact_plan_is_metadata_only():
    # plans without a SparkSession at all — pure footer/stat arithmetic
    plan = plan_compaction(f"{SF_MED}/lineitem.parquet")
    ((n_now, n_target),) = plan.values()
    assert n_now >= 1 and n_target >= 1


def test_clustered_write_disjoint_envelopes(spark):
    path = f"{SCRATCH}/t-clustered-lineitem"
    src = load_table(spark, SF_MED, "lineitem")
    clustered_write(src, path, ["l_orderkey"], n_files=8)

    ranges = sorted(file_ranges(path, "l_orderkey"))
    assert len(ranges) == 8
    # disjoint, ordered envelopes: every file's max < next file's min + 1
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo1 <= hi1
        assert hi1 <= lo2  # no overlap between consecutive key ranges

    # and an unclustered write of the same data does NOT prune: every file
    # spans ~the full domain (sanity contrast so the test can't pass vacuously)
    flat = f"{SCRATCH}/t-flat-lineitem"
    src.repartition(8).write.mode("overwrite").parquet(flat)
    fr = file_ranges(flat, "l_orderkey")
    lo_all = min(lo for lo, _ in fr)
    hi_all = max(hi for _, hi in fr)
    overlapping = sum(
        1 for lo, hi in fr if (hi - lo) > 0.5 * (hi_all - lo_all)
    )
    assert overlapping == len(fr)


def test_parquet_files_and_table_rows_hive_layout(spark, tmp_path):
    """_parquet_files / table_rows over a hive-partitioned `k=v/` layout
    (VERDICT r5 #7): every nested data file is found, _SUCCESS markers are
    ignored, footer row counts sum across partitions, and a rewrite under
    the same path changes the stat signature (the cache-freshness contract
    load_spread and every size-adaptive parameter rides on)."""
    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.sources.io import (
        _parquet_files,
        _stat_sig,
        table_rows,
    )

    root = str(tmp_path)
    path = f"{root}/hive.parquet"
    df = spark.range(120).select(
        "id", (F.col("id") % 3).alias("k"), (F.col("id") * 2).alias("v")
    )
    df.repartition(4).write.partitionBy("k").parquet(path)

    files = _parquet_files(path)
    assert len(files) >= 3, "expected at least one data file per partition"
    assert all("k=" in f for f in files), "non-partition files leaked in"
    assert not any(f.endswith("_SUCCESS") for f in files)
    assert table_rows(root, "hive") == 120

    sig1 = _stat_sig(path)
    df.limit(60).write.mode("overwrite").partitionBy("k").parquet(path)
    assert _stat_sig(path) != sig1, "rewrite did not change the signature"
    assert table_rows(root, "hive") == 60
