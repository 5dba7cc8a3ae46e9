#!/usr/bin/env python3
"""r15 change verification: simhash_wide old-vs-new equivalence (full corpus),
oracle compares for every touched query, clear_session_memos smoke."""
import os
import sys
import time

sys.path.insert(0, "/root/repo")
os.environ.setdefault("SPARK_GRAFT_CPUS", "16")

from pyspark.sql import functions as F

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark.operators import dedup as dd
from aws_etl_microservice_redshift_datalake_spark.sources.io import load_spread

spark = engine.get_session("verify-r15")

# --- 1. simhash_wide: old 15-conv construction vs new single-conv, sf0.1 ---
def simhash_wide_old(d):
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    ).select("doc_id", F.md5("word").alias("h"))
    dv = toks.select(
        "doc_id",
        *[F.conv(F.substring("h", i + 1, 1), 16, 10).cast("int").alias(f"d{i}")
          for i in range(15)],
    )
    votes = dv.groupBy("doc_id").agg(
        *[F.sum(F.when(F.shiftright(F.col(f"d{b//4}"), b % 4).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)).alias(f"v{b}")
          for b in range(dd.SIMHASH_JOIN_BITS)]
    )
    value = None
    for b in range(dd.SIMHASH_JOIN_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint"))
        value = term if value is None else value + term
    return votes.select("doc_id", value.cast("bigint").alias("sim"))

d = load_spread(spark, "/root/testdata/sf0.1", "documents")
old = simhash_wide_old(d)
new = dd.simhash_wide(d)
n_old, n_new = old.count(), new.count()
diff = old.exceptAll(new).count() + new.exceptAll(old).count()
print(f"simhash_wide sf0.1: old={n_old} new={n_new} symdiff={diff}")
assert n_old == n_new and diff == 0, "SIMHASH NOT EQUIVALENT"

# --- 2. oracle compares for touched queries at sf0.001 + sf0.01 ---
import duckdb

sys.path.insert(0, "/root/repo/tests")
from tests.conftest import run_compare

QS = engine.all_queries()
ORA = engine.all_oracles()
touched = [
    "q_simhash_hamming_join", "q_simhash",
    "q_dedup_clusters", "q_cluster_split", "q_training_pipeline",
    "q_compact_roundtrip",
]
duck = duckdb.connect()
for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
    for name in touched:
        t0 = time.perf_counter()
        run_compare(spark, duck, name, QS[name], ORA[name], sf)
        print(f"oracle PASS {name} @ {sf.rsplit('/',1)[-1]} ({time.perf_counter()-t0:.1f}s)")

# --- 3. clear_session_memos smoke: memos populated then dropped ---
from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
    _tables, clear_session_memos,
)
n_entries = len(_tables(spark)[0])
n_dropped = clear_session_memos(spark)
print(f"memo entries={n_entries} dropped={n_dropped}")
assert n_dropped == n_entries and n_dropped > 0
# rebuild after clear still oracle-green (cold path intact)
run_compare(spark, duck, "q_cluster_split", QS["q_cluster_split"],
            ORA["q_cluster_split"], "/root/testdata/sf0.01")
print("oracle PASS q_cluster_split after memo clear (cold rebuild)")
print("ALL CHANGE CHECKS PASS")
