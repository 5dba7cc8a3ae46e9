"""Scratch-directory selection for sessions and processes.

`_fast_local_dir` picks spark.local.dir in LOCAL mode: the
SPARK_GRAFT_LOCAL_DIR path when set, Spark's default otherwise.
`scratch.scratch_root` is SPARK_GRAFT_SCRATCH or `<repo>/.tmp`.
Pure-python tests: the SparkSession itself is driver-owned in production,
so nothing here may be load-bearing for correctness (the driver contract
runs on a vanilla session).
"""

from __future__ import annotations

from aws_etl_microservice_redshift_datalake_spark.session import _fast_local_dir


def test_env_override_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    assert _fast_local_dir() == str(tmp_path)


def test_env_empty_forces_spark_default(monkeypatch):
    # '' means "use Spark's default scratch", same as unset
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "")
    assert _fast_local_dir() is None


def test_default_is_spark_default(monkeypatch):
    # r15 (VERDICT r14 #1): the tmpfs DEFAULT did not reproduce its win
    # under the driver protocol (Spark-default scratch won all 4 A/B
    # pairs) — unset now means Spark's own scratch
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    assert _fast_local_dir() is None


def test_scratch_default_is_repo_tmp(monkeypatch):
    from aws_etl_microservice_redshift_datalake_spark import scratch

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    assert scratch.scratch_root().endswith(".tmp")


def test_scratch_env_override_still_live(monkeypatch, tmp_path):
    from aws_etl_microservice_redshift_datalake_spark import scratch

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert scratch.scratch_root() == str(tmp_path)
