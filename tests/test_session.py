"""Process-level setup: the scratch directory and the driver JVM's class
archive.

`scratch.scratch_root` is SPARK_GRAFT_SCRATCH or `<repo>/.tmp`. The
SparkSession itself is driver-owned in production, so nothing here may be
load-bearing for correctness (the driver contract runs on a vanilla
session).

`session.get_session` gives the first JVM of a process a class-data-sharing
archive under `$XDG_CACHE_HOME/spark-graft/jvm/`. The pure-Python tests
point `XDG_CACHE_HOME` and `SPARK_CONF_DIR` at `tmp_path` and set
`SparkContext._gateway` to None, so they decide flags for a JVM that is
never launched. One test launches two fresh processes that record and then
map a real archive.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import threading
import time

import pytest
from pyspark import SparkContext

from aws_etl_microservice_redshift_datalake_spark import session

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_default_is_repo_tmp(monkeypatch):
    from aws_etl_microservice_redshift_datalake_spark import scratch

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    assert scratch.scratch_root().endswith(".tmp")


def test_scratch_env_override_still_live(monkeypatch, tmp_path):
    from aws_etl_microservice_redshift_datalake_spark import scratch

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert scratch.scratch_root() == str(tmp_path)


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """A process that has not launched its JVM yet, with its cache and an
    empty conf directory under ``tmp_path``. Returns the archive cache."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# read by nobody\n")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    return tmp_path / "cache" / "spark-graft" / "jvm"


def _archive(cache) -> session._ClassArchive:
    cache.mkdir(parents=True, exist_ok=True)
    return session._ClassArchive(str(cache), "k" * 16, "2g")


def test_conf_file_leaves_jvm_command_line_alone(no_jvm, tmp_path, monkeypatch):
    (tmp_path / "conf" / "spark-defaults.conf").write_text("spark.app.name x\n")
    seen = {}

    class Launched(Exception):
        pass

    def get_or_create(builder):
        seen.update(builder._options)
        raise Launched

    monkeypatch.setattr(session.SparkSession.Builder, "getOrCreate", get_or_create)
    with pytest.raises(Launched):
        session.get_session("t")
    assert not any(k.startswith("spark.driver.extraJavaOptions") for k in seen)
    assert seen["spark.driver.memory"]  # the launch did go through the builder
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "conf")
    assert not (tmp_path / "cache").exists()


def test_template_only_conf_gets_the_empty_conf_dir(no_jvm):
    archive = session._driver_class_archive("2g")
    assert archive is not None and archive.recording
    assert os.environ["SPARK_CONF_DIR"] == str(no_jvm / "conf")
    assert os.listdir(no_jvm / "conf") == []
    assert "-XX:ArchiveClassesAtExit=" in archive.options
    assert session._CDS_QUIET in archive.options
    archive.release()


def test_cache_path_with_a_blank_is_skipped(no_jvm, tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "my cache"))
    assert session._driver_class_archive("2g") is None
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "conf")


def test_running_gateway_reads_and_sets_nothing(no_jvm, tmp_path, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())

    def no_read():
        raise AssertionError("read SPARK_HOME with a gateway up")

    monkeypatch.setattr(session, "_find_spark_home", no_read)
    assert session._driver_class_archive("2g") is None
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "conf")
    assert not (tmp_path / "cache").exists()


def test_racing_threads_make_one_recorder(no_jvm):
    n = 16
    start = threading.Barrier(n)
    got: list[session._ClassArchive] = []

    def claim():
        start.wait(timeout=30)
        got.append(_archive(no_jvm))

    threads = [threading.Thread(target=claim) for _ in range(n)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == n
    recorders = [a for a in got if a.recording]
    assert len(recorders) == 1
    assert all(a.options == session._CDS_QUIET for a in got if not a.recording)
    recorders[0].release()


def test_published_archive_is_mapped(no_jvm):
    first = _archive(no_jvm)
    open(first.jsa, "wb").close()
    second = _archive(no_jvm)
    assert not second.recording
    assert second.options == f"-XX:SharedArchiveFile={first.jsa} {session._CDS_QUIET}"
    first.release()


def test_dead_recorders_lock_is_taken_over(no_jvm):
    dead = subprocess.Popen(["true"])
    dead.wait()
    stem = os.path.join(no_jvm, "k" * 16 + ".2g.")
    no_jvm.mkdir(parents=True)
    with open(stem + "lock", "w") as f:
        f.write(str(dead.pid))
    open(f"{stem}{dead.pid}.tmp", "wb").close()  # its half-written dump
    archive = _archive(no_jvm)
    assert archive.recording
    assert not os.path.exists(f"{stem}{dead.pid}.tmp")
    with open(archive.lock) as f:
        assert f.read() == str(os.getpid())
    archive.release()


def test_failed_lock_blocks_recording(no_jvm):
    no_jvm.mkdir(parents=True)
    with open(os.path.join(no_jvm, "k" * 16 + ".2g.lock"), "wb") as f:
        f.write(session._FAILED)
    archive = _archive(no_jvm)
    assert not archive.recording
    assert archive.options == session._CDS_QUIET


class _ExitedJvm:
    """The ``Popen`` of a gateway JVM that exits with ``rc`` on stdin EOF,
    after writing ``dump`` (if given) as its archive."""

    def __init__(self, rc: int, dump: str | None):
        self.rc, self.dump = rc, dump
        self.stdin = open(os.devnull, "wb")

    def wait(self, timeout=None):
        assert self.stdin.closed, "waited before closing the JVM's stdin"
        if self.dump:
            with open(self.dump, "wb") as f:
                f.write(b"archive")
        return self.rc


def test_publish_renames_on_clean_exit_and_drops_other_keys(no_jvm):
    archive = _archive(no_jvm)
    other = no_jvm / ("o" * 16 + ".2g.jsa")
    other.write_bytes(b"old jdk")
    archive.publish(_ExitedJvm(0, archive.tmp), os.getpid())
    assert (no_jvm / os.path.basename(archive.jsa)).read_bytes() == b"archive"
    assert sorted(os.listdir(no_jvm)) == sorted(
        os.path.basename(p) for p in (archive.jsa, archive.lock))
    assert archive.lock_fd is None


def test_publish_marks_failed_on_bad_exit(no_jvm):
    archive = _archive(no_jvm)
    archive.publish(_ExitedJvm(1, archive.tmp), os.getpid())
    assert not os.path.exists(archive.jsa) and not os.path.exists(archive.tmp)
    assert _archive(no_jvm).options == session._CDS_QUIET


_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from aws_etl_microservice_redshift_datalake_spark import all_queries, get_session
spark = get_session("archive-probe")
all_queries()["q_pricing_summary"](spark, sys.argv[2]).write.format("noop").mode("overwrite").save()
acc = spark.sparkContext.accumulator(0)  # Python workers hold accumulator connections
spark.sparkContext.parallelize(range(4), 2).foreach(lambda x: acc.add(x))
print(SparkContext._gateway.proc.pid)
print(spark.sparkContext._jvm.System.getProperty("java.class.path"))
"""


def _gone(pid: int, within_s: float) -> bool:
    deadline = time.time() + within_s
    while time.time() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return True
        except FileNotFoundError:
            return True
        time.sleep(0.2)
    return False


def test_class_archive_recorded_once_then_mapped(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(XDG_CACHE_HOME=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    cache = tmp_path / "spark-graft" / "jvm"
    runs = []
    for _ in range(2):
        p = subprocess.run([sys.executable, "-c", _PROBE, REPO, SF_SMALL], env=env,
                           capture_output=True, text=True, timeout=300)
        assert p.returncode == 0, p.stderr[-3000:]
        runs.append(p)
        assert _gone(int(p.stdout.splitlines()[-2]), within_s=30), "JVM outlived its process"
        if len(runs) == 1:
            archives = glob.glob(str(cache / "*.jsa"))
            assert len(archives) == 1, os.listdir(cache)
    for p in runs:
        assert "[cds" not in p.stdout and "[cds" not in p.stderr
        assert "Traceback" not in p.stderr  # e.g. the accumulator server at exit
    # a JVM started with -Xshare:on refuses to run unless it maps the archive
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    check = subprocess.run(
        [java, f"-XX:SharedArchiveFile={archives[0]}", "-Xshare:on", "-Xmx1g",
         "-cp", runs[1].stdout.splitlines()[-1], "-version"],
        capture_output=True, text=True, timeout=60)
    assert check.returncode == 0, check.stdout + check.stderr
