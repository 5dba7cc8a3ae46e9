"""Scratch-directory selection for processes: `scratch.scratch_root` is
SPARK_GRAFT_SCRATCH or `<repo>/.tmp`. Pure-python tests: the SparkSession
itself is driver-owned in production, so nothing here may be load-bearing
for correctness (the driver contract runs on a vanilla session).
"""

from __future__ import annotations


def test_scratch_default_is_repo_tmp(monkeypatch):
    from aws_etl_microservice_redshift_datalake_spark import scratch

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    assert scratch.scratch_root().endswith(".tmp")


def test_scratch_env_override_still_live(monkeypatch, tmp_path):
    from aws_etl_microservice_redshift_datalake_spark import scratch

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert scratch.scratch_root() == str(tmp_path)
