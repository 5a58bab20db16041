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
"""

from __future__ import annotations

import os

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
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
