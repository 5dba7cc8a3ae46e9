"""Workload definitions: which inputs each workload generates and which
operations one pass runs.

All workloads are closed loops with one client: the next operation starts
only after the previous one has finished, like a batch analytics or ETL
session. Why each workload exists is recorded in ``BENCHMARK.json``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gen

ETL_JOB = "etl_job"


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale of the generated base copy
    amplify: int  # K-fold decorrelated copy of the base (1 = none)
    n_docs: int
    n_vecs: int
    ops: tuple[str, ...]
    files: int = 1  # parquet files per large table


WAREHOUSE = Workload(
    "warehouse_x10", sf=0.003, amplify=10, n_docs=100, n_vecs=100, files=4,
    ops=(
        "q_pricing_summary", "q_star_join", "q_join_inner", "q_agg_count_distinct",
        "q_window_topk", "q_join_asof", "q_sessionize", "q_sql_waiting_orders",
    ),
)

PIPELINE = Workload(
    "pipeline_sf0.01", sf=0.01, amplify=1, n_docs=500, n_vecs=500,
    ops=(
        ETL_JOB, "q_stream_dedup", "q_dedup_minhash_pairs", "q_dedup_clusters",
        "q_ann_ivf_topk",
    ),
)

WORKLOADS = {w.name: w for w in (WAREHOUSE, PIPELINE)}

# Tiny copy every session warms up on (the set-up metric's warm-up query).
WARMUP = Workload("warmup_sf0.001", sf=0.001, amplify=1, n_docs=50, n_vecs=50, ops=())


def tables_for(w: Workload, seed: int) -> dict[str, pa.Table]:
    base = gen.base_tables(seed, w.sf, w.n_docs, w.n_vecs)
    return gen.amplify(base, w.amplify) if w.amplify > 1 else base


def write_landing(tables: dict[str, pa.Table], landing: str) -> dict:
    """The ETL job's landing zone: lineitem as CSV, orders as JSON lines,
    events as parquet — the three COPY formats the reference service loads."""
    tmp = landing + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    li = tables["lineitem"]
    pacsv.write_csv(li, os.path.join(tmp, "lineitem.csv"))
    orders = tables["orders"].to_pandas()
    orders.to_json(os.path.join(tmp, "orders.json"), orient="records", lines=True,
                   date_format="iso", date_unit="us")
    pq.write_table(tables["events"], os.path.join(tmp, "events.parquet"))
    os.rename(tmp, landing)
    return {"lineitem": li.num_rows, "orders": tables["orders"].num_rows,
            "events": tables["events"].num_rows}


def etl_job(landing: str, out: str):
    """COPY (CSV, JSON, parquet) → SQL transform → partitioned UNLOAD →
    compaction → clustered write, built on the engine's ``EtlJob``."""
    from aws_etl_microservice_redshift_datalake_spark.pipeline import EtlJob
    from aws_etl_microservice_redshift_datalake_spark.schemas import SCHEMAS
    from aws_etl_microservice_redshift_datalake_spark.sources import io

    return (
        EtlJob("perfbench_etl")
        .ingest("li", lambda s: io.ingest_csv(
            s, f"{landing}/lineitem.csv", SCHEMAS["lineitem"], mode="FAILFAST"))
        .ingest("ord", lambda s: io.ingest_json(
            s, f"{landing}/orders.json", SCHEMAS["orders"], mode="FAILFAST"))
        .ingest("ev", lambda s: io.load_table(s, landing, "events"))
        .transform("li_ord", """
            SELECT l.*, o.o_orderstatus, o.o_orderpriority,
                   l.l_extendedprice * (1 - l.l_discount) AS net_price
            FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey""")
        .transform("ev_day", "SELECT *, CAST(ts AS DATE) AS ev_date FROM ev")
        .unload("li_ord", f"{out}/li_ord", partition_cols=["l_returnflag"])
        .unload("ev_day", f"{out}/ev_day", partition_cols=["event_type"])
        .compact(f"{out}/ev_day")
        .cluster("li_ord", f"{out}/li_clustered", ["l_shipdate"], 4)
    )


# Output table → landing table whose row count it must keep.
ETL_OUTPUT_ROWS = {"li_ord": "lineitem", "ev_day": "events", "li_clustered": "lineitem"}


def footer_rows(path: str) -> int:
    """Rows in a parquet directory, read from the file footers only."""
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(d, f)).num_rows
    return n
