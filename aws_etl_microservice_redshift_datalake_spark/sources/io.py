"""Batch sources & sinks — SURVEY.md §2.1 S1-S8.

Reference parity (public Redshift ETL semantics; /root/reference is empty,
SURVEY.md §0): these are the Spark-native analogs of the COPY / UNLOAD /
Spectrum-external-table surface an ETL microservice drives:

- S1 load_table          <- lake table scan (Spectrum / COPY source)
- S2 ingest_csv          <- COPY ... FORMAT CSV (declared DDL, bad-row mode)
- S3 ingest_json         <- COPY ... FORMAT JSON
- S4 read_jdbc           <- warehouse pull (Redshift via JDBC)
- S5 write_jdbc          <- warehouse push
- S6 unload              <- UNLOAD ... PARTITION BY ... MAXFILESIZE
- S7 unload_csv          <- UNLOAD ... CSV GZIP
- S8 register_all        <- external-table/catalog registration

Scale notes: everything here is declarative `spark.read`/`df.write`, so the
same code drives s3a:// URIs on a cluster — Parquet scans get predicate
pushdown + row-group skipping (the zone-map analog) for free; `unload`'s
partitionBy + maxRecordsPerFile reproduces slice-parallel UNLOAD layout.
"""

from __future__ import annotations

import functools as _functools
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import TABLES


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def normalize_epoch_ts(colname: str):
    """Magnitude-gated epoch-long → µs timestamp conversion (column expr).

    A parquet TIMESTAMP(NANOS) column that surfaces as a long may carry ns
    (legacy ``nanosAsLong`` readers) or µs (schema-coerced readers — Spark
    4.1's stream source with a declared LongType yields µs). Any plausible
    event time is < ~4e16 µs (year 3237) and > ~4e16 ns (mid-1971), so one
    column-level gate converts both correctly with no eager scan. Integer
    ``div``, not ``/``: a float quotient loses sub-µs exactness at 1e18 ns.
    """
    from pyspark.sql import functions as F

    return F.timestamp_micros(
        F.expr(
            f"CASE WHEN abs({colname}) > 40000000000000000 "
            f"THEN {colname} div 1000 ELSE {colname} END"
        )
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: Parquet lake scan. Columnar, self-describing schema, pushdown-able.

    ``events.ts`` is parquet TIMESTAMP(NANOS) (isAdjustedToUTC=false), which
    Spark 4.1's native reader converts to TimestampNTZType, truncating to µs
    — no conversion needed here. Defensive fallback: on a build where the
    column still surfaces as a long (legacy ``nanosAsLong`` readers), a
    magnitude-gated conversion (``normalize_epoch_ts``) restores µs
    timestamps whether the long carries ns or µs.
    """
    if name == "events":
        from pyspark.sql import types as TT

        df = spark.read.parquet(table_path(sf_dir, name))
        if isinstance(df.schema["ts"].dataType, TT.LongType):  # pragma: no cover
            df = df.withColumn("ts", normalize_epoch_ts("ts"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def _parquet_files(path: str) -> list[str]:
    """Every parquet data file under ``path`` (recursively — nested and
    hive-partitioned `k=v/` layouts included). Raises on zero files: a
    silent 0 here would feed garbage into every size-adaptive parameter
    downstream (LSH banding from n=0, isqrt(0) IVF cells, log(0) IDF) with
    no error anywhere near the cause (ADVICE r3)."""
    if os.path.isdir(path):
        found = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet") or f.startswith("part-"):
                    found.append(os.path.join(root, f))
        if not found:
            raise FileNotFoundError(f"no parquet data files under {path}")
        return sorted(found)
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    return [path]


def _stat_sig(path: str) -> tuple:
    """Freshness fingerprint for the metadata caches: (file, size, mtime_ns)
    per data file. A rewrite/amplification at the same path changes the
    signature, so cached footer stats can never go stale within one process
    (ADVICE r3); stat calls are ~µs, footer parses are the part worth
    caching."""
    return tuple(
        (f, os.path.getsize(f), os.stat(f).st_mtime_ns) for f in _parquet_files(path)
    )


@_functools.lru_cache(maxsize=None)
def _rows_for(sig: tuple) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f, _sz, _mt in sig)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — free, no Spark job.

    This is the statistics pre-pass for size-adaptive operators (LSH
    parameter selection, IDF corpus constants): the same numbers a
    cost-based planner reads from catalog stats, obtained from the file
    footers the way ANALYZE does. Cached per file-stat fingerprint so
    repeated query construction never re-reads footers but a rewritten
    table is re-read; invisible to the query plan (no eager job before the
    first real stage)."""
    return _rows_for(_stat_sig(table_path(sf_dir, name)))


@_functools.lru_cache(maxsize=None)
def _splits_for(sig: tuple, max_partition_bytes: int, open_cost: int) -> int:
    import pyarrow.parquet as pq

    per_file = 0
    packed_bytes = 0
    for f, size, _mt in sig:
        rgs = pq.ParquetFile(f).metadata.num_row_groups
        per_file += max(1, min(math.ceil(size / max_partition_bytes), rgs))
        packed_bytes += size + open_cost
    # Spark packs small files into shared partitions (maxPartitionBytes
    # bins, openCostInBytes padding per file): for a many-small-files layout
    # the per-file sum overstates parallelism, so bound it by the packing
    # model — otherwise spread() would skip the repartition in exactly the
    # under-split case it exists for (ADVICE r3).
    packed = max(1, math.ceil(packed_bytes / max_partition_bytes))
    return min(per_file, packed)


def _scan_splits(path: str, max_partition_bytes: int = 128 << 20) -> int:
    """Effective scan parallelism from parquet metadata: Spark assigns one
    task per byte-range split (ceil(size / maxPartitionBytes)), a row group
    is readable by only one task (useful splits ≤ row_groups per file), and
    small files get PACKED into shared partitions (4 MiB openCostInBytes
    padding each) — the estimate models all three. Driver-side footer reads
    only — replaces the old ``df.rdd.getNumPartitions()`` probe, which cost
    an eager RDD conversion per load."""
    return _splits_for(_stat_sig(path), max_partition_bytes, 4 << 20)


def spread(df: DataFrame, spark: SparkSession, path: str | None = None) -> DataFrame:
    """Round-robin repartition a narrow scan up to the session's parallelism —
    but ONLY when the source actually under-splits (the sf* corpus tables ship
    as one single-row-group parquet file each, which pins every downstream
    pipeline to one core; measured 4-12× at sf0.1). On a many-file cluster
    corpus the scan already yields >= parallelism splits and this is a no-op —
    no gratuitous full shuffle ahead of every pipeline.

    With ``path`` the under-split check is pure parquet-footer metadata
    (cached, zero Spark jobs); without it, falls back to the RDD partition
    probe (eager plan conversion — avoid in queries())."""
    target = spark.sparkContext.defaultParallelism
    splits = _scan_splits(path) if path is not None else df.rdd.getNumPartitions()
    if splits >= target:
        return df
    return df.repartition(target)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1 + spread: the standard entry for compute-heavy operators reading a
    corpus table — metadata-driven, no eager work at query-build time."""
    return spread(load_table(spark, sf_dir, name), spark, table_path(sf_dir, name))


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """S8: register every driver table as a temp view (external-table analog).

    After this, the full SQL surface works via ``spark.sql``.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def ingest_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    header: bool = True,
    delimiter: str = ",",
    corrupt_col: str | None = None,
) -> DataFrame:
    """S2: schema-enforced CSV ingest (COPY ... FORMAT CSV analog).

    ``mode='PERMISSIVE'`` + a corrupt-record column reproduces COPY's
    MAXERROR-style bad-row tolerance; ``mode='FAILFAST'`` reproduces strict
    loads. Declared schema, never inference — mirrors COPY's target DDL.
    """
    reader = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", mode)
    )
    if corrupt_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.csv(path)


def ingest_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S3: newline-delimited JSON ingest (COPY ... FORMAT JSON analog)."""
    return spark.read.schema(schema).option("mode", mode).json(path)


def jdbc_read_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> dict[str, str]:
    """S4's option contract, separated from ``.load()`` so the partitioned-read
    construction is unit-testable without a live endpoint (the test container
    has none). Validates the partitioning triple the way Spark's JDBC relation
    would at runtime — catching a broken contract at build time instead."""
    opts: dict[str, str] = {"url": url, "dbtable": table}
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and upper_bound")
        if int(upper_bound) <= int(lower_bound):
            raise ValueError(
                f"upper_bound ({upper_bound}) must be > lower_bound ({lower_bound})"
            )
        if num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    opts.update(options)
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """S4: JDBC source (Redshift/warehouse pull).

    With a numeric ``partition_column`` Spark issues ``num_partitions``
    range-predicated queries in parallel — the slice-parallel UNLOAD-read
    analog. Option construction lives in :func:`jdbc_read_options` (unit
    tested); the ``.load()`` path itself runs END-TO-END in tests against
    in-process Derby (``jdbc:derby:memory:`` — the embedded driver ships in
    pyspark/jars), including the partitioned parallel read and JDBC filter
    pushdown (tests/test_jdbc.py). Only network/auth plumbing is
    cluster-only.
    """
    opts = jdbc_read_options(
        url, table, partition_column, lower_bound, upper_bound, num_partitions, **options
    )
    return spark.read.format("jdbc").options(**opts).load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options: str) -> None:
    """S5: JDBC sink (warehouse push). ``.save()`` runs end-to-end in tests
    against in-process Derby — overwrite and append modes both verified
    (tests/test_jdbc.py)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def unload(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    compression: str = "snappy",
    mode: str = "overwrite",
) -> None:
    """S6: partitioned Parquet sink (UNLOAD ... PARTITION BY analog).

    partitionBy gives hive-style lake layout (enables partition pruning +
    dynamic partition pruning downstream); maxRecordsPerFile bounds file size
    like UNLOAD MAXFILESIZE.
    """
    writer = df.write.mode(mode).option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def unload_csv(df: DataFrame, path: str, codec: str = "gzip", header: bool = True,
               mode: str = "overwrite") -> None:
    """S7: compressed CSV sink (UNLOAD ... CSV GZIP analog)."""
    (
        df.write.mode(mode)
        .option("compression", codec)
        .option("header", str(header).lower())
        .csv(path)
    )


def write_sorted_table(
    df: DataFrame, path: str, dist_col: str, sort_cols: list[str], buckets: int | None = None
) -> None:
    """DISTKEY/SORTKEY analog: repartition by the distribution key and sort
    within partitions before writing, so Parquet row-group min/max stats act
    as zone maps for downstream scans (SURVEY.md §4.2)."""
    out = df.repartition(dist_col).sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(path)


DEFAULT_TARGET_FILE_BYTES = 128 << 20  # the maxPartitionBytes-aligned sweet spot


def plan_compaction(
    path: str, target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES
) -> dict[str, tuple[int, int]]:
    """{leaf directory: (n_files_now, n_files_target)} for a compaction of
    ``path``. A leaf is a directory that holds data files: each ``k=v/``
    partition of a hive layout, or ``path`` itself for a flat table.

    Target = ceil(leaf_bytes / target_file_bytes): one task writes one
    output file, each ~target size. Pure file-stat metadata, no Spark
    work, so callers can skip a compaction that has nothing to do."""
    leaves: dict[str, list[int]] = {}
    for f, size, _mt in _stat_sig(path):
        leaves.setdefault(os.path.dirname(f), []).append(size)
    return {
        leaf: (len(sizes), max(1, math.ceil(sum(sizes) / target_file_bytes)))
        for leaf, sizes in leaves.items()
    }


def compact(
    spark: SparkSession, path: str, target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES
) -> int:
    """VACUUM/OPTIMIZE-style small-file compaction of a parquet directory in
    place. Returns the file count afterwards.

    Why it exists at 100 TB: streaming sinks and per-partition writers leave
    thousands of KB-sized files; every downstream scan then pays one task +
    one footer-read per file, and the NameNode/listing layer pays the
    metadata. Periodic compaction is standard lake maintenance.

    Planned per leaf directory from file sizes alone (``plan_compaction``),
    so a hive-partitioned table keeps its ``k=v/`` directories and readers
    keep their partition filters. When every leaf is at or below its
    planned file count this returns without a Spark job. Otherwise each
    leaf is rewritten with one round-robin ``repartition(n)`` (not
    coalesce: coalesce(n) would also cap the read parallelism at n, making
    the rewrite single-threaded exactly when the input is one big file),
    staged to a sibling ``<path>.compacting`` directory and swapped in with
    two renames — readers see the old or the new layout, never a partial
    one.

    Larger files pack tighter, so the rewritten leaf can plan fewer files
    than it was given; the rewrite repeats until every leaf is at or below
    its plan, which makes the next call a no-op. A leaf's file count never
    grows (n = min(files now, planned), one file per task whatever the
    session's maxRecordsPerFile), so the loop ends."""
    import shutil

    plan = plan_compaction(path, target_file_bytes)
    root = path.rstrip("/")
    staged, old = root + ".compacting", root + ".old"
    while any(now > target for now, target in plan.values()):
        shutil.rmtree(staged, ignore_errors=True)
        for leaf, (now, target) in plan.items():
            out = os.path.join(staged, os.path.relpath(leaf, root))
            (
                spark.read.parquet(leaf)
                .repartition(min(now, target))
                .write.option("maxRecordsPerFile", 0)
                .parquet(out)
            )
        shutil.rmtree(old, ignore_errors=True)
        os.rename(root, old)
        os.rename(staged, root)
        shutil.rmtree(old, ignore_errors=True)
        plan = plan_compaction(path, target_file_bytes)
    return sum(now for now, _target in plan.values())
