"""Queries leave the caller's SparkSession as they found it.

SQL-text queries register their tables, ``q_udtf_bigrams`` its UDTF and view,
and stream queries their UTC/shuffle conf and memory sink, all on a
``session.sibling`` of the caller. These tests pin that the caller's catalog
and conf are untouched, that concurrent SQL-text queries over different sf
dirs on one session cannot resolve each other's views, and that a conf the
caller set at runtime still reaches the query.
"""

from __future__ import annotations

import re
from concurrent.futures import ThreadPoolExecutor

import aws_etl_microservice_redshift_datalake_spark as engine

from tests.conftest import SF_MED, SF_SMALL

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
