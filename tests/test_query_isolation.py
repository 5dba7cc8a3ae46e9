"""Queries leave the caller's SparkSession as they found it.

SQL-text queries register their tables, ``q_udtf_bigrams`` its UDTF and view,
and stream queries their UTC/shuffle conf and memory sink, all on a
``session.sibling`` of the caller. These tests pin that the caller's catalog
and conf are untouched, that concurrent SQL-text queries over different sf
dirs on one session cannot resolve each other's views, and that a conf the
caller set at runtime still reaches the query. Every relation a query
persists goes through the session memo, so ``clear_session_memos`` releases
it and a rewritten corpus is read afresh.
"""

from __future__ import annotations

import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
    clear_session_memos,
)

from tests.conftest import SF_MED, SF_SMALL, run_compare, sweep_subset

QS = engine.all_queries()
ISOLATED = ["q_sql_cust_distribution", "q_udtf_bigrams", "q_stream_watermark"]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _temp_views(session):
    return sorted(t.name for t in session.catalog.listTables() if t.isTemporary)


def test_queries_leave_caller_catalog_and_conf_unchanged(spark):
    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    conf, views = caller.conf.getAll, _temp_views(caller)

    results = {n: QS[n](caller, SF_SMALL) for n in ISOLATED}
    for n, df in results.items():
        assert _rows(df), n

    assert _temp_views(caller) == views
    assert caller.conf.getAll == conf
    sink_views = [
        t for t in _temp_views(results["q_stream_watermark"].sparkSession)
        if re.fullmatch(r"s[0-9a-f]{12}", t)
    ]
    assert sink_views == []


def test_sql_queries_on_one_session_from_threads_match_serial(spark):
    # two threads per sf dir, all on one session: a shared temp view named
    # `orders` would let a query resolve the other sf dir's table
    name = "q_sql_cust_distribution"
    serial = {sf: _rows(QS[name](spark, sf)) for sf in (SF_SMALL, SF_MED)}
    assert serial[SF_SMALL] != serial[SF_MED]
    jobs = [SF_SMALL, SF_MED] * 4
    with ThreadPoolExecutor(max_workers=4) as ex:
        got = list(ex.map(lambda sf: (sf, _rows(QS[name](spark, sf))), jobs))
    assert [rows == serial[sf] for sf, rows in got] == [True] * len(jobs)


def test_caller_runtime_conf_reaches_query_session(spark):
    key, value = "spark.sql.autoBroadcastJoinThreshold", "10485761"
    caller = spark.newSession()
    caller.conf.set(key, value)
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    for n in ISOLATED:
        assert QS[n](caller, SF_SMALL).sparkSession.conf.get(key) == value, n
    stream = QS["q_stream_watermark"](caller, SF_SMALL).sparkSession
    assert stream.conf.get("spark.sql.session.timeZone") == "UTC"
    assert caller.conf.get("spark.sql.session.timeZone") == "America/New_York"


def test_sql_registers_only_the_tables_it_names(spark):
    from aws_etl_microservice_redshift_datalake_spark.sources import io

    df = io.sql(spark, SF_SMALL, "SELECT COUNT(*) AS n FROM Orders o JOIN customer c "
                "ON o.o_custkey = c.c_custkey WHERE o_orderkey > 0")
    assert _temp_views(df.sparkSession) == ["customer", "orders"]
    assert df.collect()[0].n > 0


# at least one query through each persist site: every memo, CC and the
# former IVF and n-gram postings caches; the sweep subset adds the rest
PERSISTING = [
    "q_ngram_jaccard", "q_dedup_minhash_pairs", "q_dedup_clusters",
    "q_cluster_split", "q_setsim_join", "q_containment_apply",
    "q_dedup_incremental", "q_cosine_neardup", "q_ann_ivf_topk",
    "q_semdedup_clustered",
]


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", sorted(set(PERSISTING) | set(sweep_subset(QS, QS))))
def test_clear_session_memos_releases_what_a_query_persisted(spark, name):
    clear_session_memos(spark)
    before = _persistent_rdds(spark)
    QS[name](spark, SF_SMALL).write.format("noop").mode("overwrite").save()
    clear_session_memos(spark)
    assert _persistent_rdds(spark) <= before


def test_ngram_jaccard_reads_a_rewritten_corpus(spark, duck, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(SF_SMALL):
        shutil.copy(os.path.join(SF_SMALL, f), sf / f)
    name = "q_ngram_jaccard"
    first = QS[name](spark, str(sf)).count()

    # a second copy of every document under fresh ids: each doc gains an
    # exact duplicate, so the pair set grows
    path = str(sf / "documents.parquet")
    docs = pq.read_table(path)
    dup = docs.set_column(
        docs.schema.get_field_index("doc_id"), "doc_id",
        pc.add(docs["doc_id"], pc.max(docs["doc_id"]).as_py() + 1),
    )
    pq.write_table(pa.concat_tables([docs, dup]), path + ".new")
    os.replace(path + ".new", path)
    clear_session_memos(spark)

    run_compare(spark, duck, name, QS[name], engine.all_oracles()[name], str(sf))
    assert QS[name](spark, str(sf)).count() > first


def test_memo_rebuilds_a_table_rewritten_in_place(spark, duck, tmp_path):
    # no clear_session_memos between the reads: the memo alone sees the
    # moved signature, drops the stale shingles and caches the rebuild
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        _shingle_arrays_persisted,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(SF_SMALL):
        shutil.copy(os.path.join(SF_SMALL, f), sf / f)
    name = "q_setsim_join"
    first = QS[name](spark, str(sf)).count()
    n_docs = _shingle_arrays_persisted(spark, str(sf)).count()

    path = str(sf / "documents.parquet")
    docs = pq.read_table(path)
    dup = docs.set_column(
        docs.schema.get_field_index("doc_id"), "doc_id",
        pc.add(docs["doc_id"], pc.max(docs["doc_id"]).as_py() + 1),
    )
    pq.write_table(pa.concat_tables([docs, dup]), path + ".new")
    os.replace(path + ".new", path)

    run_compare(spark, duck, name, QS[name], engine.all_oracles()[name], str(sf))
    assert QS[name](spark, str(sf)).count() > first
    shingles = _shingle_arrays_persisted(spark, str(sf))
    assert shingles.storageLevel.useMemory, "the rebuilt shingles are not cached"
    assert shingles.count() == 2 * n_docs
    clear_session_memos(spark)
