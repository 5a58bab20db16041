"""SparkSession construction with scale-appropriate defaults.

The engine targets large clusters (100 TB-class inputs); these defaults
encode the settings that matter at that scale and are harmless locally:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (every pandas-UDF operator in this package moves data via Arrow),
and a shuffle-partition count that callers override per deployment.

Python workers start from the engine's own daemon module,
``spark.python.daemon.module=svoe_spark.pyworker``: ``pyspark.daemon`` plus
a zipimport fix that spares every pandas-UDF task a 56-80 ms re-read of
``pyspark.zip`` (see that module). So ``svoe_spark`` must be importable
where the executors start Python: in local mode the daemon inherits the
driver's working directory and ``PYTHONPATH``; on a cluster, ship or
install the package on the executors.

Streaming checkpoints are written by temp file + ``FileSystem.rename``
(the FileSystem-based manager): the default FileContext one creates more
files, and without native-hadoop each new local file forks a ``chmod``.

Cold start: a local-master driver JVM maps the classes an earlier session
loaded from a class-data-sharing archive (JDK 17 dynamic AppCDS, JEP 350)
instead of loading and verifying Spark's jars again. Most of a session's
set-up was that work: on 4 cores ``get_spark`` plus a first trivial query
took 7.8-10.0 s without an archive and 4.7-5.2 s from one. The archive
lives in ``$XDG_CACHE_HOME/svoe_spark/cds`` (``~/.cache`` when unset),
outside any checkout, named by a key over the JVM (its ``java`` binary and
``libjvm.so``: path, size, mtime) and the class path (the names and sizes
of ``$SPARK_HOME/jars``). The first session of a key dumps it while its JVM
exits (``-XX:ArchiveClassesAtExit``), which adds 9-15 s to that one exit
and writes 140-240 MB; that session also starts slower (12.8-14.5 s to
the first result). Every later session maps it (``-XX:SharedArchiveFile``).
The archive holds the classes the dumping session loaded, so it serves
later sessions best when the first one ran real work. See ``get_spark``
for the rules and the opt-out.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import struct
import subprocess
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _install_py4j_resolution_cache() -> None:
    """Cache py4j JVM class/member resolution python-side.

    py4j resolves ``jvm.<fqn>`` (JVMView.__getattr__) and static-member
    access on a JavaClass with one synchronous REFLECTION round trip
    EVERY time — and PySpark's ``F.xxx`` helpers re-resolve
    ``org.apache.spark.sql.functions`` plus the member on every call
    (2 of the ~3 round trips per expression). A command-type histogram
    over this engine's 196 query builds measured 19,491 reflection
    round trips (~12 s at 0.6 ms each). On the paper's offline path,
    without it a ``Featurizer.run`` build over 30k quotes made 63 such
    round trips instead of 0 and its wall median rose from 0.26-0.27 s
    to 0.29-0.32 s (4 cores). The resolved objects are pure
    (fqn, gateway_client) bindings — JavaMember for a static method,
    JavaClass for a class — so they are stable for the lifetime of the
    JVM and safe to memoize. Field reads and failures are NOT cached
    (a static field's value can change; a missing class can appear
    after --jars). The cache holds strong references, so a key's
    id(gateway_client) can never be reused while its entry is alive.
    Results are unchanged: this short-circuits name resolution only.
    """
    import py4j.java_gateway as jg

    if getattr(jg, "_svoe_resolution_cache", None) is not None:
        return
    cache: dict = {}
    jg._svoe_resolution_cache = cache

    # Per-gateway eviction (ADVICE r10): a long-lived process that
    # restarts Spark sessions must not accumulate entries pinning dead
    # gateway clients. shutdown_gateway is the common teardown hook for
    # both GatewayClient and clientserver.JavaClient.
    orig_shutdown = jg.GatewayClient.shutdown_gateway

    def shutdown_evict(self, *a, **kw):
        cid = id(self)
        for k in [k for k in cache if k[0] == cid]:
            cache.pop(k, None)
        return orig_shutdown(self, *a, **kw)

    jg.GatewayClient.shutdown_gateway = shutdown_evict

    orig_view = jg.JVMView.__getattr__

    def view_getattr(self, name):
        key = (id(self._gateway_client), self._id, name)
        got = cache.get(key)
        if got is None:
            got = orig_view(self, name)
            # JavaPackage results are NOT cached: py4j answers
            # SUCCESS_PACKAGE for ANY unknown top-level name, and a
            # class that becomes resolvable later (java_import, ADD
            # JAR) must not stay shadowed by a stale package object.
            if not isinstance(got, jg.JavaClass):
                return got
            cache[key] = got
        return got

    jg.JVMView.__getattr__ = view_getattr

    orig_cls = jg.JavaClass.__getattr__

    def cls_getattr(self, name):
        key = (id(self._gateway_client), self._fqn, name)
        got = cache.get(key)
        if got is None:
            got = orig_cls(self, name)
            if not isinstance(got, (jg.JavaMember, jg.JavaClass)):
                return got
            cache[key] = got
        return got

    jg.JavaClass.__getattr__ = cls_getattr


_install_py4j_resolution_cache()


_JAVA_OPTS = "spark.driver.extraJavaOptions"
#: a caller whose driver JVM options name one of these chose its own
#: class-data sharing, and get_spark adds no flag
_SHARE_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: environment that puts more than the conf dir and $SPARK_HOME/jars on the
#: driver's class path; the JVM dumps no archive while a non-empty
#: directory is on it
_CLASS_PATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
#: how long interpreter exit waits for a JVM that dumps its archive
_DUMP_WAIT_S = 60
#: JDK 17's archive header (hotspot's cds.h): magic, crc, version, then
#: 7 regions of 72 bytes, each with (file offset, mapping offset, used
#: bytes) at byte 24
_MAGIC, _VERSION = 0xF00BABA8, 11
_REGIONS, _REGION_BYTES, _HEADER_BYTES = 7, 72, 16 + 7 * 72


class _Share(NamedTuple):
    """What a new driver JVM does with its archive."""

    flags: str  # JVM options to append
    conf_dir: str  # the empty SPARK_CONF_DIR it starts with
    cds_dir: str
    key: str
    dumping: bool  # it writes the archive as it exits


def _cache_dir() -> str:
    """Where archives live: outside any checkout, shared by every session
    of the user."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "svoe_spark", "cds")


def _archive_key(spark_home: str) -> str | None:
    """Hash of the JVM that spark-submit starts (its ``java`` binary and
    ``libjvm.so``: path, size, mtime) and of the driver's class path (the
    names and sizes of ``$SPARK_HOME/jars``); None when that JVM is not
    a JDK 17, whose archive header ``_whole_archive`` reads."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    java = os.path.realpath(java)
    home = os.path.dirname(os.path.dirname(java))
    try:
        with open(os.path.join(home, "release")) as f:
            if 'JAVA_VERSION="17.' not in f.read():
                return None
        parts = []
        for p in (java, os.path.join(home, "lib", "server", "libjvm.so")):
            st = os.stat(p)
            parts.append((p, st.st_size, st.st_mtime_ns))
        parts += sorted((e.name, e.stat().st_size) for e in os.scandir(os.path.join(spark_home, "jars")))
    except OSError:
        return None
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def _whole_archive(path: str) -> bool:
    """True when ``path`` holds a whole JDK 17 archive: the magic and
    version that the JVM writes last, into the header, and every region the
    header lists inside the file. A JVM that maps a truncated archive dies
    of SIGBUS; ``-Xshare:auto`` falls back only from a bad header."""
    try:
        with open(path, "rb") as f:
            head = f.read(_HEADER_BYTES)
            size = os.fstat(f.fileno()).st_size
    except OSError:
        return False
    if len(head) < _HEADER_BYTES or struct.unpack_from("<I4xI", head) != (_MAGIC, _VERSION):
        return False
    regions = (struct.unpack_from("<QQQ", head, 16 + i * _REGION_BYTES + 24) for i in range(_REGIONS))
    return max(offset + used for offset, _, used in regions) <= size


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        pass
    return True


def _promote(cds_dir: str, key: str, exited: tuple[int, ...] = ()) -> None:
    """Settle the temp archives of ``key``. A temp archive is named after
    the pid of the Python process whose JVM writes it; while that process
    lives (and is not in ``exited``) its JVM may still be writing, and the
    file is left alone. Otherwise a whole archive is renamed to the key's
    archive if there is none, and any other temp archive is removed. The
    key's archive is never written in place, so a JVM that maps it keeps a
    consistent file."""
    final = os.path.join(cds_dir, f"{key}.jsa")
    for tmp in glob.glob(os.path.join(glob.escape(cds_dir), f"{key}.*.tmp")):
        pid = int(tmp.rsplit(".", 2)[-2])
        if pid not in exited and _alive(pid):
            continue
        # a concurrent session may settle the same file first
        with contextlib.suppress(FileNotFoundError):
            if not os.path.exists(final) and _whole_archive(tmp):
                os.rename(tmp, final)
            else:
                os.remove(tmp)


def _class_share(master: str | None, conf: dict) -> _Share | None:
    """The archive a driver JVM about to start uses or dumps (see
    ``get_spark``), or None when it gets none."""
    opts = conf.get(_JAVA_OPTS, "")
    if (not (master or "").startswith("local")
            or any(f in opts for f in _SHARE_FLAGS)
            or "spark.driver.extraClassPath" in conf
            or any(os.environ.get(v) for v in _CLASS_PATH_ENV)):
        return None
    spark_home = _find_spark_home()
    spark_conf = os.path.join(spark_home, "conf")
    if os.path.isdir(spark_conf) and any(not n.endswith(".template") for n in os.listdir(spark_conf)):
        return None
    key = _archive_key(spark_home)
    if key is None:
        return None
    cds_dir = _cache_dir()
    conf_dir = os.path.join(cds_dir, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        _promote(cds_dir, key)
        final = os.path.join(cds_dir, f"{key}.jsa")
        if _whole_archive(final):
            return _Share(f"-XX:SharedArchiveFile={final}", conf_dir, cds_dir, key, False)
        with contextlib.suppress(FileNotFoundError):
            os.remove(final)  # unlinked, not rewritten: a JVM mapping it keeps it
    except OSError:
        return None
    tmp = os.path.join(cds_dir, f"{key}.{os.getpid()}.tmp")
    # the dump warns of every class it skips (signed jars, old bytecode)
    return _Share(f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=error", conf_dir, cds_dir, key, True)


def _await_dump(proc: subprocess.Popen, cds_dir: str, key: str) -> None:
    """At interpreter exit: end the driver JVM, which writes its archive as
    it exits, wait at most ``_DUMP_WAIT_S`` for it (then kill it), and
    promote the archive."""
    try:
        if SparkContext._active_spark_context is not None:
            # shuts the accumulator server, which would otherwise print
            # an EOFError when the exiting JVM drops its connection
            SparkContext._active_spark_context.stop()
    finally:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    _promote(cds_dir, key, exited=(os.getpid(),))


def get_spark(
    app_name: str = "svoe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally defaults to ``local[N]`` with N from $SPARK_GRAFT_CPUS.
    The FileSystem-based checkpoint manager relies on ``FileSystem.rename``
    being atomic, as local ``rename(2)`` and HDFS are; on an object store,
    override ``spark.sql.streaming.checkpointFileManagerClass`` in ``extra_conf``.

    A local-master driver JVM that this call starts gets a class-data-sharing
    archive (see the module docstring). The archive lives in
    ``$XDG_CACHE_HOME/svoe_spark/cds/<key>.jsa`` (``~/.cache`` when unset);
    the key hashes the JVM's ``java`` and ``libjvm.so`` (path, size, mtime)
    and the names and sizes of the ``$SPARK_HOME/jars`` jars, and is read
    from files, without starting a JVM. When the key's archive exists and
    is whole, the JVM maps it (``-XX:SharedArchiveFile``); the JVM's default
    ``-Xshare:auto`` runs without sharing if it is stale or does not match.
    When it does not, the JVM dumps one as it exits
    (``-XX:ArchiveClassesAtExit``) into a temp file named after this
    process, which is renamed into place once whole. That exit costs 9-15 s:
    interpreter exit waits for it, at most 60 s, so the JVM never outlives
    this process. The flag is appended to the caller's
    ``spark.driver.extraJavaOptions``.

    The dump needs a class path of the conf dir and the jars alone, with no
    non-empty directory, so the JVM starts with ``SPARK_CONF_DIR`` pointing
    at an empty ``conf`` directory beside the archives. That happens only
    when the caller set no ``SPARK_CONF_DIR`` (nor ``HADOOP_CONF_DIR``,
    ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH`` or
    ``spark.driver.extraClassPath``) and ``$SPARK_HOME/conf`` holds nothing
    but ``*.template`` files; otherwise the JVM gets no archive. To opt
    out, name ``-Xshare`` (e.g. ``-Xshare:off``), ``SharedArchiveFile`` or
    ``ArchiveClassesAtExit`` in ``spark.driver.extraJavaOptions``: then no
    flag is added.

    Note: importing this module installs a process-global py4j
    name-resolution cache (see _install_py4j_resolution_cache) — it
    memoizes JVM class/member lookups for every py4j user in the
    process and evicts per gateway on shutdown.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: coalesce tiny post-shuffle partitions, split skewed ones,
        # convert to broadcast join at runtime when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / applyInPandas operator.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Batches to Python workers bounded by maxRecordsPerBatch alone.
        # Below Int.MaxValue, Spark 4.1 re-measures the Arrow batch after
        # every row it writes to a Python worker (ArrowWriter.sizeInBytes):
        # measured at 2M quotes on 4 cores, that was half the executor
        # CPU of a groupBy().applyInArrow stage (5.0 -> 2.6 s) and a fifth
        # of an applyInPandas one (3.0 -> 2.4 s).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1))
        # Error call-site capture wraps EVERY DataFrame API call in 3
        # extra py4j round trips (conf.get + origin set + clear) plus a
        # Python stack walk. Measured: 2.4-4.8x of all plan-construction
        # round trips (zorder_cells 1550 -> 587 calls, gini_spend 973 ->
        # 204) at ~0.6 ms each — pure driver-side latency that delays
        # every job submission at any scale. It only decorates error
        # messages with user call sites; keep it for interactive
        # debugging sessions, not for engine/bench/production runs.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers fork from the engine's daemon, which stops every
        # task re-reading pyspark.zip's directory (see svoe_spark.pyworker).
        .config("spark.python.daemon.module", "svoe_spark.pyworker")
        # checkpoint files by temp file + rename (see the docstring)
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
        # Timestamps are event-time; keep them timezone-stable.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(extra_conf or {})
    share = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        share = _class_share(conf.get("spark.master", master), conf)
        if share:
            conf[_JAVA_OPTS] = " ".join(filter(None, (conf.get(_JAVA_OPTS), share.flags)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    if share is None:
        return builder.getOrCreate()
    # spark-submit reads it when it builds the JVM's class path
    os.environ["SPARK_CONF_DIR"] = share.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if share.dumping:
        atexit.register(_await_dump, SparkContext._gateway.proc, share.cds_dir, share.key)
    return spark
