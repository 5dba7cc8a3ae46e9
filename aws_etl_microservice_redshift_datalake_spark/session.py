"""SparkSession factory tuned for this engine.

Reference parity: the reference (aws-samples/aws-etl-microservice-redshift-datalake)
is an ETL microservice that drives Amazon Redshift; its "session" is a JDBC
connection to a warehouse (SURVEY.md §0, §3.1 — reference dir is empty, so the
characterization is from public Redshift semantics). Our engine is in-process
PySpark: one SparkSession with AQE enabled plays the role of the warehouse.

Scale notes (100 TB design):
- AQE on: runtime partition coalescing + skew-join splitting replace manual
  DISTKEY tuning.
- shuffle.partitions defaults to 32, not Spark's 200 (200 tasks would
  dominate wall-clock on local runs); pass ``shuffle_partitions=`` or set
  ``spark.sql.shuffle.partitions`` at runtime for a real cluster.
- UTC session timezone: deterministic date_trunc/extract semantics that match
  the DuckDB oracle (which is timezone-naive).
- One session serves many threads: a query that needs its own temp views or
  conf takes a ``sibling`` session, never writes to the caller's.
- ``local[$SPARK_GRAFT_CPUS]`` (default 32) and a ``$SPARK_GRAFT_DRIVER_MEM``
  driver heap (default 48g, sized for a 32-core host).
- Cold start: most of a fresh process's first seconds go to the driver JVM
  loading and linking Spark's classes, so the first ``get_session`` of a
  process gives that JVM a dynamic class-data-sharing (CDS) archive under
  ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/jvm/``, one per JDK, jar set
  and heap size. The first process on a host records the classes its JVM
  loaded (``-XX:ArchiveClassesAtExit``; that run is slower, and its exit
  waits for the dump) and publishes them; every later process maps them
  at start-up (``-XX:SharedArchiveFile``). The archive holds JDK and Spark
  classes only, never engine code; the JVM checks it against its own
  classpath and flags and falls back silently when it no longer matches.
  JDK 17 refuses to record while a directory on the classpath holds files,
  and the classpath starts with the Spark conf directory, so the archive
  is used only when that directory holds nothing Spark reads (``*.template``
  files or nothing); the JVM then gets one fixed empty conf directory in
  its place. Otherwise its command line is Spark's own. Delete the cache
  directory to drop the archive.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import threading
from glob import glob

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Unconfigured, the JVM prints "[warning][cds] ... Signed JAR" lines to
# stdout while it records, and a caller's last stdout line may be its result.
_CDS_QUIET = "-Xlog:cds*=off"
# The dump at exit took 15 s for a 187 MB archive of a pipeline pass and
# 18 s for the 217 MB archive of a whole test run.
_DUMP_WAIT_S = 120
_FAILED = b"failed"
# get_session's claim and JVM launch run as one step, so the JVM a thread
# launches carries the flags that thread claimed.
_LAUNCH = threading.Lock()


def get_session(
    app_name: str = "aws-etl-datalake-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[$SPARK_GRAFT_CPUS] by default; on a real cluster the caller passes
    its own master via spark-submit and these configs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    parts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    with _LAUNCH:
        archive = _driver_class_archive(heap)
        if archive is not None:
            builder = builder.config("spark.driver.extraJavaOptions", archive.options)
        try:
            spark = builder.getOrCreate()
        except BaseException:
            if archive is not None:
                archive.release()
            raise
        if archive is not None and archive.recording:
            atexit.register(archive.publish, SparkContext._gateway.proc, os.getpid())
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _driver_class_archive(heap: str) -> _ClassArchive | None:
    """The class archive for the JVM this process is about to launch, with
    ``SPARK_CONF_DIR`` pointed at the archive's empty conf directory; or
    None, leaving the environment and the JVM's command line as they were.

    None once a gateway exists (this process's JVM is already running),
    when the conf directory holds any file but a ``*.template`` (Spark
    reads those files, so the directory must stay on the classpath), and
    when the cache cannot be written or its path would need quoting."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    root = os.path.abspath(os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "spark-graft", "jvm"))
    if re.search(r"[\s'\"\\]", root):  # Spark splits Java options on blanks and quotes
        return None
    try:
        if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
            return None
        key = _jvm_key(spark_home)
        if key is None:
            return None
        empty = os.path.join(root, "conf")
        os.makedirs(empty, exist_ok=True)
        archive = _ClassArchive(root, key, heap)
    except OSError:
        return None
    os.environ["SPARK_CONF_DIR"] = empty
    return archive


def _jvm_key(spark_home: str) -> str | None:
    """Hash of the ``java`` executable Spark's launcher runs (realpath, size,
    mtime) and of ``$SPARK_HOME/jars/*.jar`` (name, size, mtime): a new JDK
    or jar set gets a new archive. None when there is no ``java``."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    h = hashlib.sha256()
    java = os.path.realpath(java)
    jars = sorted(glob(os.path.join(spark_home, "jars", "*.jar")))
    for path, name in [(java, java)] + [(j, os.path.basename(j)) for j in jars]:
        st = os.stat(path)
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


class _ClassArchive:
    """One driver class archive, ``<root>/<key>.<heap>.jsa``, and this
    process's part in it: mapping it, recording it, or neither.

    The heap size is part of the name because a heap above 32 GB turns
    compressed object pointers off, and a JVM refuses an archive recorded
    with the other setting. Constructing one claims it: if the archive
    exists, ``options`` maps it. Otherwise the caller that takes the
    ``<key>.<heap>.lock`` flock records it at JVM exit into
    ``<key>.<heap>.<pid>.tmp`` and holds the lock until ``publish``; the
    lock file holds the recorder's pid. A recorder killed before its hook
    runs releases the lock with its process, so a later one takes it over;
    one whose JVM does not exit 0 marks the lock failed, and nobody
    records that archive again."""

    def __init__(self, root: str, key: str, heap: str):
        self.root, self.key = root, key
        self.prefix = f"{key}.{re.sub(r'[^0-9A-Za-z]', '_', heap)}."
        stem = os.path.join(root, self.prefix)
        self.jsa, self.lock = stem + "jsa", stem + "lock"
        self.tmp = f"{stem}{os.getpid()}.tmp"
        self.lock_fd: int | None = None
        flag = self._claim()
        self.recording = self.lock_fd is not None
        self.options = f"{flag} {_CDS_QUIET}" if flag else _CDS_QUIET

    def _claim(self) -> str | None:
        if not os.path.exists(self.jsa):
            fd = os.open(self.lock, os.O_RDWR | os.O_CREAT, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                # checked again under the lock: the recorder may just have published
                if not os.path.exists(self.jsa) and os.read(fd, len(_FAILED)) != _FAILED:
                    os.ftruncate(fd, 0)
                    os.pwrite(fd, str(os.getpid()).encode(), 0)
                    self._unlink(lambda n: n.startswith(self.prefix) and n.endswith(".tmp"))
                    self.lock_fd, fd = fd, None
                    return f"-XX:ArchiveClassesAtExit={self.tmp}"
            except BlockingIOError:  # a live process is recording it
                return None
            finally:
                if fd is not None:
                    os.close(fd)
        return f"-XX:SharedArchiveFile={self.jsa}" if os.path.exists(self.jsa) else None

    def _unlink(self, doomed) -> None:
        """Delete the cache entries whose names ``doomed`` selects."""
        for n in os.listdir(self.root):
            if doomed(n):
                with contextlib.suppress(OSError):
                    os.unlink(os.path.join(self.root, n))

    def release(self) -> None:
        if self.lock_fd is not None:
            os.close(self.lock_fd)
            self.lock_fd = None

    def publish(self, proc: subprocess.Popen, owner: int) -> None:
        """atexit hook of the recording process: stop the gateway, wait
        for its JVM to write the archive and exit, and publish the archive
        if the JVM exited 0; then delete the archives of other keys."""
        if os.getpid() != owner:  # atexit hooks are inherited across fork()
            return
        sc, gw = SparkContext._active_spark_context, SparkContext._gateway
        try:
            if sc is not None:
                sc.stop()  # closes the accumulator server before the JVM drops it
            if gw is not None:
                gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc.stdin.close()  # EOF on stdin makes the gateway JVM exit
        try:
            rc = proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
        try:
            if rc == 0 and os.path.exists(self.tmp):
                os.replace(self.tmp, self.jsa)
                self._unlink(lambda n: n != "conf" and not n.startswith(self.key + "."))
            else:
                os.ftruncate(self.lock_fd, 0)
                os.pwrite(self.lock_fd, _FAILED, 0)
                if os.path.exists(self.tmp):
                    os.unlink(self.tmp)
        finally:
            self.release()


def sibling(spark: SparkSession, conf: dict[str, str] | None = None) -> SparkSession:
    """A session for one query's temp views and conf, so the caller's
    session is left as it was found.

    ``spark.newSession()`` shares the caller's SparkContext (executors,
    cache, broadcasts) but has its own SQL conf and temp-view catalog, so
    nothing the query registers or sets is visible to the caller or to a
    query running concurrently on another thread. It starts from a copy of
    the caller's modifiable SQL conf, so settings made at runtime still
    apply; ``conf`` is applied on top. This is the only place a query path
    sets conf."""
    settings = {
        k: v for k, v in spark.conf.getAll.items() if spark.conf.isModifiable(k)
    }
    settings.update(conf or {})
    s = spark.newSession()
    for k, v in settings.items():
        s.conf.set(k, v)
    return s
