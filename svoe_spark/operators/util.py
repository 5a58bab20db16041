"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


#: (id(input df), defaultParallelism) -> (input df, spread output). The
#: .rdd partition probe forces a full physical planning of the input
#: (~60 ms) that the real action then redoes; with load_table memoizing
#: table plans, the SAME DataFrame object is spread from many queries —
#: cache the decision per input object. Holding the input df in the
#: value keeps its id stable (ids are only unique among live objects).
#: defaultParallelism is part of the key so a dynamically-allocated
#: cluster that grows after an early probe re-decides instead of
#: pinning an under-parallel plan (fixed-core runs never re-probe).
_SPREAD_CACHE: dict[tuple[int, int], tuple[DataFrame, DataFrame]] = {}

#: id(SparkContext) -> (SparkContext, defaultParallelism). The
#: defaultParallelism read is 2 py4j round trips; paying it on every
#: spread() call re-adds driver latency to hundreds of hot call sites
#: (review r11). The memoized value forms the FIRST cache-key attempt;
#: any spread-cache miss re-reads it fresh, so a dynamically-allocated
#: cluster that grows still re-decides on new inputs (the ADVICE r10
#: contract) while the hit path stays JVM-free.
_PARALLELISM_CACHE: dict[int, tuple[object, int]] = {}


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than
    cores. CPU-bound expression work (hashing, shingling) over a corpus
    that arrives as a few fat files would otherwise serialize onto a
    handful of tasks; no-op when the scan is already parallel.

    Streaming DataFrames pass through untouched: partition probing is
    a batch-only action, and micro-batch parallelism is governed by the
    source (maxFilesPerTrigger / topic partitions) anyway."""
    if df.isStreaming:
        return df
    try:
        # no sparkContext/rdd under Spark Connect — same guard as
        # orderbook._default_bundles; pass through rather than probe
        sc = df.sparkSession.sparkContext
    except Exception:  # noqa: BLE001
        return df
    memo = _PARALLELISM_CACHE.get(id(sc))
    if memo is not None and memo[0] is sc:
        got = _SPREAD_CACHE.get((id(df), memo[1]))
        if got is not None and got[0] is df:
            return got[1]
    try:
        target = sc.defaultParallelism
    except Exception:  # noqa: BLE001
        return df
    _PARALLELISM_CACHE[id(sc)] = (sc, target)
    key = (id(df), target)
    got = _SPREAD_CACHE.get(key)
    if got is not None and got[0] is df:
        return got[1]
    if len(_SPREAD_CACHE) >= 256:
        # bound the memo: it holds strong refs (that is what keeps the
        # id() keys stable), so a long-lived service spreading fresh
        # DataFrames forever must not pin them all — dropping the memo
        # merely re-probes, it cannot change any result
        _SPREAD_CACHE.clear()
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001
        return df
    out = df.repartition(target) if n < target else df
    _SPREAD_CACHE[key] = (df, out)
    return out


def plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate (bytes): driver-side, no job. None when
    unavailable (e.g. Spark Connect)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate is advisory
        return None


def plan_row_count(df: DataFrame) -> int | None:
    """Optimizer row-count estimate: exact for materialized cached
    relations and CBO-analyzed tables, None otherwise. The gate quantity
    of row-budget dispatches (the hottest key holds at most all rows):
    wide rows and compression cannot skew it as they skew sizeInBytes."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(rc.get().longValue()) if rc.isDefined() else None
    except Exception:  # noqa: BLE001 — estimate is advisory
        return None


def fmt_double_literal(x) -> str:
    """THE SQL rendering of one double literal for single-parse
    expression strings: repr() round-trips the value exactly and Java's
    double literal parse is correctly rounded, so the parsed value is
    bit-identical to F.lit(x); NaN/Infinity render as explicit CASTs
    (bare literals do not parse). Shared by lit_double_array and
    similarity._lit_nested so the rendering can never drift."""
    import math

    v = float(x)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return repr(v) + "D"


def lit_double_array(values) -> "Column":
    """array<double> literal parsed as ONE SQL expression.

    ``F.array(*[F.lit(v) for v in values])`` costs one py4j round trip
    PER ELEMENT (~0.6 ms each; a 512-entry table is ~0.3 s of pure
    plan-construction latency), while one expr string is a single JVM
    call."""
    from pyspark.sql import functions as F

    body = ",".join(fmt_double_literal(v) for v in values)
    if not body:
        # a bare array() literal is ARRAY<NULL>, not ARRAY<DOUBLE> —
        # fail loudly instead of silently changing the column type
        raise ValueError("lit_double_array: empty value sequence")
    return F.expr(f"array({body})")


def sorted_pair_expand(arr_col: str, a: str = "a", b: str = "b") -> str:
    """SQL snippet expanding a SORTED array column into its unordered
    element pairs as struct<{a}, {b}> with {a} < {b} — the HOF
    replacement for a DISTINCT + self-join + groupBy pair projection
    (supplier co-occurrence, association rules). transform's index is
    0-based and slice is 1-based, so `slice(arr, i + 2, ...)` takes
    exactly the elements AFTER position i. Feed it to
    F.explode(F.expr(...)); the array must be pre-sorted
    (array_sort) so element order encodes the a < b pairing."""
    return (
        f"flatten(transform({arr_col}, (x, i) -> "
        f"transform(slice({arr_col}, i + 2, size({arr_col})), "
        f"y -> struct(x AS {a}, y AS {b}))))"
    )


# ---------------------------------------------------------------------------
# Store-path filesystem helpers (commit logs for the exactly-once stores)
# ---------------------------------------------------------------------------
#
# The incremental stores (dedup_index, rollup.RollupStore)
# keep a tiny ``<path>._commits`` log of completed batch ids next to the
# data. A plain ``open()`` only works when the store path is on the
# driver's local filesystem; with an HDFS/S3 store path it would raise
# (or ``os.path.exists`` would silently return False and break the
# idempotency guarantee — ADVICE r4). These helpers route schemed paths
# (``hdfs://``, ``s3a://``, explicit ``file:``) through the Hadoop
# FileSystem API via the JVM gateway and keep the zero-JVM-roundtrip
# local fast path for bare paths. Single concurrent writer per store
# path (the stores' documented invariant), so full-file overwrite is a
# safe "append".

import os
import re

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def _is_local_path(path: str) -> bool:
    # windows drive letters don't occur here; anything scheme-less is
    # driver-local by definition of how the caller addressed it
    return _SCHEME_RE.match(path) is None


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p, jvm


def store_path_exists(spark, path: str) -> bool:
    """Existence check that works for local AND Hadoop-schemed paths."""
    if _is_local_path(path):
        return os.path.exists(path)
    fs, p, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def read_commit_log(spark, path: str) -> set[int]:
    """The set of committed batch ids in ``<path>._commits``.

    Hadoop paths fall back to ``._commits._tmp`` when the log itself
    is missing: ``append_commit`` deletes the old log only AFTER the
    temp rewrite is fully written and closed, so a missing log with a
    present temp means a crash landed between delete and rename — the
    temp holds the complete id set (a superset of the lost log) and
    recovering it closes the one window where the rewrite-and-rename
    scheme could otherwise lose the whole history."""
    log = path + "._commits"
    if _is_local_path(log):
        if not os.path.exists(log):
            return set()
        with open(log) as f:
            return {int(x) for x in f.read().split() if x}
    fs, p, jvm = _hadoop_fs(spark, log)
    if not fs.exists(p):
        tmp = jvm.org.apache.hadoop.fs.Path(log + "._tmp")
        if not fs.exists(tmp):
            return set()
        p = tmp
    stream = fs.open(p)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return {int(x) for x in text.split() if x}


def append_commit(spark, path: str, batch_id: int) -> None:
    """Record ``batch_id`` as committed. Local: O(1) append. Hadoop FS:
    read-modify-RENAME of the (few-bytes) log — append() is not
    supported on object stores, and the stores are single-writer. The
    rewrite lands on ``<log>._tmp`` and is renamed over the log
    (atomic on HDFS, best-effort copy on object stores), so a crash
    mid-write leaves the PREVIOUS log intact instead of an empty
    truncated one: losing only the newest id costs one idempotent
    batch replay; losing the whole log would force replaying every
    batch the store ever committed."""
    log = path + "._commits"
    if _is_local_path(log):
        with open(log, "a") as f:
            f.write(f"{batch_id}\n")
        return
    ids = sorted(read_commit_log(spark, path) | {int(batch_id)})
    fs, p, jvm = _hadoop_fs(spark, log)
    tmp = jvm.org.apache.hadoop.fs.Path(log + "._tmp")
    if not fs.exists(p) and fs.exists(tmp):
        # a previous append crashed between delete and rename: make the
        # recovery durable BEFORE overwriting the temp, or a crash in
        # the upcoming write would lose the only complete copy
        fs.rename(tmp, p)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray("".join(f"{i}\n" for i in ids), "utf-8"))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"append_commit: rename {tmp} -> {p} failed")


def refresh_partitions(spark, path: str, delta, part_col: str, merge_fn, batch_id=None):
    """Shared skeleton of the idempotent partitioned-overwrite stores
    (RollupStore days, SCD2Store key-hash buckets): persist the delta,
    discover its touched partitions, skip partitions already stamped
    with this batch id (the crash window between a partition swap and
    the commit-log append), hand the PRUNED existing read plus the
    remaining delta to ``merge_fn``, and rewrite only those partitions
    via dynamic partition overwrite with a ``last_batch`` stamp.

    ``delta`` must already carry ``part_col``; ``merge_fn(existing,
    delta_part)`` receives the raw pruned store rows (incl. part and
    stamp columns — drop what you don't merge on) or None when the
    store doesn't exist yet, and must return rows WITH ``part_col``.
    Returns the touched partition values (unformatted). Single
    concurrent writer per path, as with any dynamic-overwrite store.
    """
    from pyspark.sql import functions as F

    delta = delta.persist()
    try:
        parts = [r[part_col] for r in delta.select(part_col).distinct().collect()]
        if not parts:
            return []
        exists = store_path_exists(spark, path)

        def read_parts(ps):
            return spark.read.parquet(path).where(F.col(part_col).isin(ps))

        if exists and batch_id is not None:
            stamped = read_parts(parts).where(F.col("last_batch") == batch_id)
            done = {r[part_col] for r in stamped.select(part_col).distinct().collect()}
            parts = [p for p in parts if p not in done]
            if not parts:
                return []
            delta_part = delta.where(F.col(part_col).isin(parts))
        else:
            delta_part = delta
        merged = merge_fn(read_parts(parts) if exists else None, delta_part)
        (
            merged.withColumn(
                "last_batch",
                F.lit(-1 if batch_id is None else batch_id).cast("long"),
            )
            .repartition(part_col)
            .write.partitionBy(part_col)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )
        return sorted(parts)
    finally:
        delta.unpersist()


def apply_commit_batch(spark, path: str, batch_id: int, refresh) -> bool:
    """The commit-log fast path every incremental store's foreachBatch
    entry shares: skip batches already logged, else run ``refresh()``
    (which must itself be stamp-guarded for the crash window) and log
    the id. Returns whether data work ran."""
    if batch_id in read_commit_log(spark, path):
        return False
    refresh()
    append_commit(spark, path, batch_id)
    return True
