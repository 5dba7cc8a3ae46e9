"""Focused tests for the one query-timing rule (``bench.time_queries``:
memos cleared before every rep, the whole result written to the noop sink)
and its memo hook (clear_session_memos), the scale harness's amplified copy
(``scale_check.amplify``), the verify-window sweep subset
(conftest.sweep_subset), and connected_components' cost contract: no
session-conf mutation, a cold job-count pin, and one solve shared by the
three cluster-label queries; one canonical order per set-similarity query.
Two source lints ride along: no bare cache outside the memo, and no test
module defining one name twice."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark import registry
from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
    clear_session_memos,
    session_memo,
)

from tests.conftest import SF_MED, SF_SMALL, sweep_subset


def test_clear_session_memos_drops_and_rebuilds(spark):
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        _cc_labels_persisted,
    )

    df1 = _cc_labels_persisted(spark, SF_SMALL)
    n1 = df1.count()
    assert df1.storageLevel.useMemory
    assert clear_session_memos(spark) >= 1
    assert clear_session_memos(spark) == 0
    assert not df1.storageLevel.useMemory
    # cold rebuild must produce the identical relation
    df2 = _cc_labels_persisted(spark, SF_SMALL)
    assert df2.count() == n1
    assert df1.exceptAll(df2).isEmpty() and df2.exceptAll(df1).isEmpty()


def test_time_queries_evaluates_every_column(spark, monkeypatch):
    # count() on this frame returns 3: Catalyst prunes the raising column.
    # The timed action must compute every output column.
    import bench
    from pyspark.sql import functions as F

    def probe(s, sf_dir):
        return s.range(3).select("id", F.raise_error(F.lit("x")).alias("x"))

    monkeypatch.setitem(registry._QUERIES, "q_probe_raise", probe)
    assert probe(spark, SF_SMALL).count() == 3
    with pytest.raises(Exception, match="x"):
        bench.time_queries(spark, ["q_probe_raise"], SF_SMALL, 1)


def test_time_queries_clears_memos_before_every_rep(spark, monkeypatch):
    import bench

    builds = []

    def build():
        builds.append(1)
        return spark.range(2)

    def probe(s, sf_dir):
        session_memo("q_probe_memo", s, sf_dir, lambda: 0, build)
        return s.range(1)

    monkeypatch.setitem(registry._QUERIES, "q_probe_memo", probe)
    probe(spark, SF_SMALL)
    assert len(builds) == 1
    # a memo left over from before, or from the previous rep, is rebuilt
    times = bench.time_queries(spark, ["q_probe_memo"], SF_SMALL, 2)
    assert len(builds) == 3 and set(times) == {"q_probe_memo"}
    clear_session_memos(spark)


def test_scale_amplify_doubles_facts_only(spark, tmp_path):
    import scale_check

    out = str(tmp_path / "x2")
    sizes = scale_check.amplify(SF_SMALL, out, 2)

    def read(sf_dir, t):
        return pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))

    for t in ("region", "nation", "supplier", "part"):
        assert read(out, t).equals(read(SF_SMALL, t)), t
    keys = {
        "customer": ["c_custkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for t, cols in keys.items():
        base, amp = read(SF_SMALL, t), read(out, t)
        assert sizes[t]["rows"] == amp.num_rows == 2 * base.num_rows, t
        for c in cols:  # each replica's keys are disjoint from the other's
            n = pc.count_distinct(base[c]).as_py()
            assert pc.count_distinct(amp[c]).as_py() == 2 * n, (t, c)
    assert scale_check.amplify(SF_SMALL, out, 2) == sizes  # cached copy

    q = engine.all_queries()["q_ngram_jaccard"]
    n_base = len(q(spark, SF_SMALL).collect())
    assert n_base > 0
    assert len(q(spark, out).collect()) == 2 * n_base


def test_dedup_sets_no_session_conf():
    # no operator or stream module may mutate session conf: a concurrent
    # query planned in another driver thread would see the change. A query
    # that needs its own conf takes a session.sibling instead.
    import importlib
    import inspect
    import pkgutil

    from aws_etl_microservice_redshift_datalake_spark import operators, streaming

    seen = []
    for pkg in (operators, streaming):
        for m in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{m.name}")
            assert "conf.set" not in inspect.getsource(mod), mod.__name__
            seen.append(m.name)
    assert {"dedup", "streams"} <= set(seen)


def test_no_bare_cache_outside_the_memo():
    # a relation a query persists goes through _memo.session_memo, so
    # clear_session_memos can release it; a bare cache() outlives both the
    # memo and a rewrite of its input. The exceptions: the memo itself,
    # connected_components' persist-before-checkpoint (released each
    # round) and the materialized view the caller asked for.
    import ast
    import importlib
    import inspect
    import pkgutil

    from aws_etl_microservice_redshift_datalake_spark import operators, streaming

    allowed = {
        ("_memo", "session_memo"),
        ("dedup", "connected_components"),
        ("matview", "create_materialized_view"),
    }
    found = set()
    for pkg in (operators, streaming):
        for m in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{m.name}")
            for top in ast.parse(inspect.getsource(mod)).body:
                for node in ast.walk(top):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("cache", "persist")
                    ):
                        found.add((m.name, getattr(top, "name", None)))
    assert found == allowed


def test_no_test_module_defines_a_name_twice():
    # a second top-level def of one name silently replaces the first, so
    # pytest never collects the first test
    import ast
    import pathlib

    dupes = []
    for path in sorted(pathlib.Path(__file__).parent.glob("*.py")):
        names = [
            node.name
            for node in ast.parse(path.read_text()).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        dupes += [
            f"{path.name}::{n}" for n in sorted(set(names)) if names.count(n) > 1
        ]
    assert dupes == []


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
        connected_components,
        q_dedup_minhash_pairs,
    )

    pairs = q_dedup_minhash_pairs(spark, SF_MED).select("doc_a", "doc_b").persist()
    pairs.count()  # the pairs are built outside the measured group
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
    pairs.unpersist()


def test_cluster_queries_solve_the_graph_once(spark, monkeypatch):
    """q_dedup_clusters, q_cluster_split and q_training_pipeline read one
    label relation, so from cold memos the three together call
    connected_components exactly once."""
    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    calls = []
    real = dedup.connected_components

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components", counting)
    clear_session_memos(spark)
    qs = engine.all_queries()
    for name in ("q_dedup_clusters", "q_cluster_split", "q_training_pipeline"):
        assert qs[name](spark, SF_SMALL).count() > 0, name
    assert len(calls) == 1, f"connected_components ran {len(calls)} times"


def test_set_similarity_queries_order_the_sets_once(spark, monkeypatch):
    """q_setsim_join, q_containment_join and q_containment_apply read every
    prefix and posting relation from one canonical order, so each of them
    calls _canonical_ordered exactly once from cold memos."""
    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    calls = []
    real = dedup._canonical_ordered

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "_canonical_ordered", counting)
    qs = engine.all_queries()
    for name in ("q_setsim_join", "q_containment_join", "q_containment_apply"):
        clear_session_memos(spark)
        calls.clear()
        assert qs[name](spark, SF_SMALL).count() > 0, name
        assert len(calls) == 1, f"{name} ran _canonical_ordered {len(calls)} times"


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
