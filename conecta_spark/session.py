"""SparkSession factory with Arrow-friendly defaults and a fast driver start.

The reference engine (conecta) hands results to Python as zero-copy Arrow
tables (conecta-python/src/lib.rs:76-101).  Our Spark-native analog keeps
Arrow interchange on by default and sizes shuffle parallelism for the local
test harness while remaining sane on a real cluster (AQE coalesces).

About half of a cold session start is the driver JVM parsing and verifying
classes from Spark's ~290 jars.  :func:`get_session` therefore starts the
driver JVM from a dynamic class-data-sharing (CDS) archive (JDK 13+, JEP
350), one per configuration -- Java, pyspark, ``SPARK_HOME`` and its jars,
the extra classpath -- in ``$XDG_CACHE_HOME/conecta-spark/cds`` (default
``~/.cache/conecta-spark/cds``):

* no archive yet: the JVM records the classes it loads and, when it exits,
  writes them to a temporary file named for this launch.  A later start
  promotes that file once its writer has exited.
* an archive: the JVM maps it (``-XX:SharedArchiveFile``).  One that makes
  the launch fail (e.g. truncated) or that the JVM silently ignores (e.g.
  dumped under another classpath) is deleted with a ``RuntimeWarning``, and
  the session starts without it.

The flags go in ``spark.driver.defaultJavaOptions``, so a caller's
``spark.driver.extraJavaOptions`` still applies.  The JVM cannot archive
classes on a classpath holding a non-empty directory, and Spark puts its
conf directory first: the archive is used only when ``SPARK_CONF_DIR`` is
unset and ``$SPARK_HOME/conf`` holds nothing but ``*.template`` files, and
the JVM is then launched with an empty conf directory from the cache.
Nothing of this applies when a JVM already exists.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import hashlib
import json
import os
import shutil
import time
import warnings

import pyspark
from pyspark import SparkContext, StorageLevel
from pyspark.errors import AnalysisException, PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

#: Configs applied by :func:`get_session`.  All of them are safe on a real
#: cluster: AQE re-plans at runtime, Arrow only affects driver interchange.
DEFAULT_CONFIGS: dict[str, str] = {
    # Arrow interchange for toPandas()/toArrow()/pandas_udf -- the analog of
    # the reference's zero-copy Arrow hand-off.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Adaptive execution: runtime shuffle-partition coalescing and skew-join
    # splitting -- our first line of defense at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Static conf (applies at JVM start): the generated-class cache defaults
    # to 100 entries, which a session running the full 71-query registry
    # overflows -- once it thrashes, every re-run pays full Janino
    # recompilation (measured: late-registry LSH queries swinging 1.3s ->
    # 9.4s between bench sessions).  Classes are KBs; 5000 is cheap.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # Wider vectorized-reader batches cut per-batch dispatch overhead on
    # full-width scans ~30% (measured 0.45s -> 0.31s on a 600k x 16-col
    # scan); 16384 rows x 8B x ~100 cols stays ~13MB per in-flight batch.
    "spark.sql.parquet.columnarReaderBatchSize": "16384",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamps (isAdjustedToUTC=false, e.g. events.ts) read
    # as TIMESTAMP_NTZ, pinned explicitly so local sessions match the
    # driver's regardless of the Spark default: NTZ arithmetic is
    # timezone-independent and equals DuckDB's naive-timestamp semantics.
    # Timestamp consumers go through queries.epoch_micros, which handles
    # both TIMESTAMP and TIMESTAMP_NTZ.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # ANSI off: we want permissive casts like the reference loader, which
    # never errors on overflow (it wraps in release builds).
    "spark.sql.ansi.enabled": "false",
}


def default_parallelism() -> int:
    """Shuffle partition count for the current machine.

    On a real cluster this should be ~2-3x total cores; locally the
    ``SPARK_GRAFT_CPUS`` env var (driver contract) wins.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(int(cpus), 1)
    return os.cpu_count() or 8


def _builder(app_name: str, master: str | None,
             conf: dict[str, str]) -> SparkSession.Builder:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{default_parallelism()}]")
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder


def get_session(app_name: str = "conecta-spark", master: str | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Get or create a SparkSession with the engine defaults applied.

    A new driver JVM starts from the class-data-sharing archive (see the
    module docstring)."""
    conf = dict(DEFAULT_CONFIGS)
    conf.setdefault("spark.sql.shuffle.partitions", str(default_parallelism()))
    conf.setdefault("spark.driver.memory", "8g")
    if extra_conf:
        conf.update(extra_conf)
    jvm_exists = (SparkContext._gateway is not None
                  or "PYSPARK_GATEWAY_PORT" in os.environ)
    archive = None if jvm_exists else DriverArchive.for_conf(conf)
    if archive is None:
        return _builder(app_name, master, conf).getOrCreate()
    try:
        with archive.launch_env():
            spark = _builder(app_name, master, archive.configure(conf)).getOrCreate()
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        spark = _builder(app_name, master, conf).getOrCreate()
        archive.discard("the driver JVM failed to start with its CDS flags")
        return spark
    archive.launched(SparkContext._gateway.proc.pid)
    return spark


def _java_release() -> tuple[str, str] | None:
    """(home, ``release`` file) of the JVM spark-submit will run."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        with open(os.path.join(home, "release")) as f:
            return home, f.read()
    except OSError:
        return None


def _running(pid: int) -> bool:
    """Whether ``pid`` is a live process (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class DriverArchive:
    """The driver JVM's class-data-sharing archive for one configuration.

    In the cache directory, ``<key>.jsa`` is the archive; a recording JVM
    writes ``<key>.<launch>.part`` at exit, and ``<key>.<launch>.pid``
    holds that JVM's pid until a later start promotes the part."""

    def __init__(self, cache: str, key: str) -> None:
        self.cache = cache
        self.path = os.path.join(cache, f"{key}.jsa")
        self.launch = os.path.join(cache, f"{key}.{os.getpid()}-{time.time_ns()}")
        self.mapped = False

    @classmethod
    def for_conf(cls, conf: dict[str, str]) -> DriverArchive | None:
        """The archive for a driver JVM launched with ``conf``; None when
        the JVM could not dump one or its mapping could not be checked."""
        if os.environ.get("SPARK_CONF_DIR") or not os.path.exists("/proc/self/maps"):
            return None
        spark_home = _find_spark_home()
        conf_dir = os.path.join(spark_home, "conf")
        if os.path.isdir(conf_dir) and any(
                not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        # Entries spark-class puts on the driver classpath besides the conf
        # directory and $SPARK_HOME/jars.
        extra = [p for v in (conf.get("spark.driver.extraClassPath"),
                             os.environ.get("HADOOP_CONF_DIR"),
                             os.environ.get("YARN_CONF_DIR"),
                             os.environ.get("SPARK_DIST_CLASSPATH"))
                 if v for p in v.split(os.pathsep)]
        java = _java_release()
        if java is None or any(os.path.isdir(p) and os.listdir(p) for p in extra):
            return None
        jars_dir = os.path.join(spark_home, "jars")
        jars = sorted(os.listdir(jars_dir)) if os.path.isdir(jars_dir) else []
        key = hashlib.sha256(json.dumps(
            [java, pyspark.__version__, spark_home, jars, conf_dir, extra]
        ).encode()).hexdigest()[:16]
        cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
        return cls(os.path.join(cache, "conecta-spark", "cds"), key)

    def configure(self, conf: dict[str, str]) -> dict[str, str]:
        """``conf`` plus the JVM flags that map or record the archive."""
        os.makedirs(os.path.join(self.cache, "conf"), exist_ok=True)
        self._promote()
        self.mapped = os.path.exists(self.path)
        flags = [
            f"-XX:SharedArchiveFile={self.path}" if self.mapped
            else f"-XX:ArchiveClassesAtExit={self.launch}.part",
            "-Xlog:cds*=off",  # the JVM's CDS messages would reach stdout
            f"-XX:ErrorFile={self.cache}/hs_err_%p.log",
        ]
        key = "spark.driver.defaultJavaOptions"
        return {**conf, key: " ".join([conf.get(key, ""), *flags]).strip()}

    @contextlib.contextmanager
    def launch_env(self):
        """``SPARK_CONF_DIR`` pointed at an empty directory for the launch."""
        os.environ["SPARK_CONF_DIR"] = os.path.join(self.cache, "conf")
        try:
            yield
        finally:
            del os.environ["SPARK_CONF_DIR"]

    def launched(self, jvm_pid: int) -> None:
        """Check a mapped archive really mapped (the JVM ignores a stale
        one without a word); note a recording JVM's pid for promotion."""
        if not self.mapped:
            with open(f"{self.launch}.pid", "w") as f:
                f.write(str(jvm_pid))
            return
        with open(f"/proc/{jvm_pid}/maps") as f:
            if os.path.realpath(self.path) not in f.read():
                self.discard("the driver JVM ignored it (dumped under another "
                             "classpath or JVM)")

    def discard(self, why: str) -> None:
        """Warn, and delete a mapped archive so the next start rebuilds it."""
        if self.mapped:
            with contextlib.suppress(FileNotFoundError):
                os.remove(self.path)
        warnings.warn(f"class-data-sharing archive {self.path}: {why}; the "
                      "driver JVM runs without it", RuntimeWarning)

    def _promote(self) -> None:
        """Move a finished recording into place."""
        for pid_file in glob.glob(glob.escape(self.path[:-4]) + ".*.pid"):
            try:
                with open(pid_file) as f:
                    jvm_pid = int(f.read())
            except FileNotFoundError:  # promoted by a concurrent start
                continue
            if _running(jvm_pid):
                continue
            try:
                os.replace(pid_file[:-4] + ".part", self.path)
            except FileNotFoundError:
                warnings.warn(f"driver JVM {jvm_pid} exited without writing "
                              f"a class-data-sharing archive for {self.path}",
                              RuntimeWarning)
            with contextlib.suppress(FileNotFoundError):
                os.remove(pid_file)


#: The :data:`DEFAULT_CONFIGS` keys that can be set on a running session.
_RUNTIME_CONF_KEYS = (
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.adaptive.enabled",
    "spark.sql.ansi.enabled",
    "spark.sql.parquet.columnarReaderBatchSize",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (e.g. the driver's).  Only touches runtime-mutable confs."""
    for k in _RUNTIME_CONF_KEYS:
        try:
            spark.conf.set(k, DEFAULT_CONFIGS[k])
        except AnalysisException as e:  # immutable in this deployment
            if e.getCondition() not in ("CANNOT_MODIFY_CONFIG",
                                        "CANNOT_MODIFY_STATIC_CONFIG"):
                raise
    return spark


@functools.cache
def jvm_entry(jvm, path: str):
    """The JVM class or static method at dotted ``path``, looked up once:
    each step of a ``jvm.a.b.C`` lookup is a gateway round trip that the
    JVM answers with a failed class load."""
    return functools.reduce(getattr, path.split("."), jvm)


def copy_sql_conf(child: SparkSession, parent: SparkSession,
                  pinned: dict[str, str]) -> None:
    """Give ``child``, a ``parent.newSession()`` that never sees a later
    ``parent.conf.set``, the SQL conf ``parent`` has now plus ``pinned``.
    The copy runs in the JVM (Python's ``conf.getAll`` costs ~70 ms) and
    overwrites keys without a clear, which would briefly show Spark's
    defaults to a query analysed on ``child``; keys ``parent`` no longer
    has are unset after."""
    jvm = parent._jvm
    as_java = jvm_entry(jvm, "scala.jdk.javaapi.CollectionConverters.asJava")
    props = jvm_entry(jvm, "java.util.Properties")()
    props.putAll(as_java(
        parent._jsparkSession.sessionState().conf().getAllConfs()))
    for k, v in pinned.items():
        props.setProperty(k, v)
    conf = child._jsparkSession.sessionState().conf()
    conf.setConf(props)
    if conf.getAllConfs().size() > props.size():  # parent unset a key
        for k in list(as_java(conf.getAllConfs()).keySet()):
            if not props.containsKey(k):
                conf.unsetConf(k)


class PersistSlot:
    """The relations one operator call persisted, released when the next
    call starts: a session holds at most one call's intermediates per
    operator, however often the operator runs.

    Evict BEFORE the next persist, never after.  Spark's CacheManager
    dedupes canonically-equal plans, so when a call persists the plan the
    slot already holds, the old entry IS the new one, and unpersisting it
    after the new ``persist()`` uncaches the new relation too (measured
    on the q-gram prefix relation: 1.7 s -> 9.4 s, both self-join sides
    replanning the gram pipeline).  A relation an earlier caller still
    references merely recomputes once evicted.

    A held relation whose SparkContext has been stopped is forgotten
    without ``unpersist``: its cache died with the context, and
    ``unpersist`` would raise.  Any other ``unpersist`` error propagates.
    """

    def __init__(self):
        self._held: list[tuple[object, DataFrame]] = []

    def evict(self) -> None:
        """Unpersist every held relation whose context is still live."""
        while self._held:
            df = self._held.pop()[1]
            if df.sparkSession.sparkContext._jsc is not None:
                df.unpersist()

    def hold(self, df: DataFrame,
             level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
             key: object = None) -> DataFrame:
        """``df`` persisted at ``level`` and held (under ``key``) until the
        next :meth:`evict`."""
        df = df.persist(level)
        self._held.append((key, df))
        return df

    def get(self, key: object) -> DataFrame | None:
        """The relation held under ``key`` while the live CacheManager
        still caches it, else ``None``.  ``spark.catalog.clearCache()``
        drops the entry without telling the slot, and serving the
        uncached relation would recompute its whole tree per consumer."""
        for k, df in self._held:
            if k == key and df.sparkSession.sparkContext._jsc is not None:
                level = df.storageLevel
                if level.useMemory or level.useDisk:
                    return df
        return None
