"""Focused tests for the r15 cold-bench hook (clear_session_memos), the
verify-window sweep subset (conftest.sweep_subset) — VERDICT r14 #2/#3 —
and connected_components' cost contract: no session-conf mutation and a
cold job-count pin."""

from __future__ import annotations

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
    _ALL_MEMOS,
    clear_session_memos,
)

from tests.conftest import SF_MED, SF_SMALL, sweep_subset


def test_clear_session_memos_drops_and_rebuilds(spark):
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        _minhash_pairs_persisted,
    )

    df1 = _minhash_pairs_persisted(spark, SF_SMALL)
    n1 = df1.count()
    before = sum(
        1
        for memo in _ALL_MEMOS.values()
        for (skey, _sig) in memo
        if skey[0] == id(spark)
    )
    assert before >= 1
    dropped = clear_session_memos(spark)
    assert dropped >= before
    after = sum(
        1
        for memo in _ALL_MEMOS.values()
        for (skey, _sig) in memo
        if skey[0] == id(spark)
    )
    assert after == 0
    # cold rebuild must produce the identical relation
    df2 = _minhash_pairs_persisted(spark, SF_SMALL)
    assert df2.count() == n1
    assert df1.exceptAll(df2).isEmpty() and df2.exceptAll(df1).isEmpty()


def test_dedup_sets_no_session_conf():
    # operators must not mutate session-global conf: a concurrent query
    # planned in another driver thread would see the change
    import inspect

    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    assert "conf.set" not in inspect.getsource(dedup)


def test_cc_loop_leaves_shuffle_partitions_unchanged(spark, monkeypatch):
    # the star loop (driver cap 0) runs at the session's own partition
    # count and hands it back untouched
    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["a", "b"]
    )
    labels = {
        r.node: r.comp
        for r in dedup.connected_components(pairs, "a", "b").collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_cold_cc_job_count(spark):
    """A cold connected_components over the sf0.01 verified-pair graph
    collects its distinct edges in at most 2 Spark jobs and solves on the
    driver (the star loop runs 20 on this graph)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        _minhash_pairs_persisted,
        connected_components,
    )

    pairs = _minhash_pairs_persisted(spark, SF_MED).select("doc_a", "doc_b")
    pairs.count()  # the pair memo is built outside the measured group
    sc = spark.sparkContext
    group = "test-cc-cold"
    sc.setJobGroup(group, "cold connected_components")
    try:
        labels = connected_components(pairs, "doc_a", "doc_b")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2, f"cold connected_components ran {len(jobs)} Spark jobs"
    assert labels.count() > 0


def test_sweep_subset_full_flag_returns_all(monkeypatch):
    qs = engine.all_queries()
    monkeypatch.setenv("SPARK_GRAFT_FULL_SWEEPS", "1")
    # the flag is read at call time inside sweep_subset
    assert sweep_subset(qs, qs) == list(qs)


def test_sweep_subset_covers_every_module(monkeypatch):
    qs = engine.all_queries()
    monkeypatch.delenv("SPARK_GRAFT_FULL_SWEEPS", raising=False)
    sub = sweep_subset(qs, qs)
    assert set(sub) <= set(qs)
    mods_all = {fn.__module__ for fn in qs.values()}
    mods_sub = {qs[n].__module__ for n in sub}
    assert mods_sub == mods_all  # every operator module keeps representatives
    assert sub == sweep_subset(qs, qs)  # deterministic
    assert len(sub) < len(qs) / 3  # it is actually a subset that shrinks
