"""Storage/catalog layer: day-partitioned parquet lake + materialized
feature store.

Replaces the reference's SQL-indexed block catalog (reference:
featurizer/sql/client.py:18-165, storage/featurizer_storage.py:27-152,
partition-pathed blocks data_source_block_metadata.py:42-55): Spark's
partitioned-directory layout + partition pruning subsumes the index;
the "stored-feature short-circuit" (builder.py:83-150 — load blocks if
already computed, else compute and register) becomes read-if-exists /
compute-and-write keyed by the feature's content hash.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from svoe_spark.functions.time import utc_day
from svoe_spark.sources.tables import read_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    mode: str = "overwrite",
    compression: str = "gzip",
) -> None:
    """Day-partitioned parquet lake write (reference S2 gzip blocks +
    day partition pathing). Partition pruning makes (feature,
    date-range) resolution a directory listing, replacing the SQL
    index. ``day`` is the UTC date (``functions.time.utc_day``) in any
    session time zone."""
    (
        df.withColumn("day", utc_day(ts_col))
        .repartitionByRange(
            max(df.sparkSession.sparkContext.defaultParallelism, 1), ts_col
        )
        # day leads the sort (it's ts-monotone, so the order is the
        # same) because the dynamic-partition writer re-sorts any task
        # whose rows aren't ordered by the partition columns — a
        # day-only, tie-unstable sort that would scramble the ts order
        # inside files (see write_clustered)
        .sortWithinPartitions("day", ts_col)
        .write.mode(mode)
        .option("compression", compression)
        .partitionBy("day")
        .parquet(path)
    )


def read_time_range(
    spark: SparkSession, path: str, start=None, end=None, ts_col: str = "ts"
) -> DataFrame:
    """Catalog-driven scan (reference S3): day-level partition pruning +
    exact ts filter, both pushed to the source. The bounds are read in
    the session zone and pruned on their UTC day, as the lake is
    written."""
    df = spark.read.parquet(path)
    if start is not None:
        df = df.filter(
            (F.col("day") >= utc_day(F.lit(start)))
            & (F.col(ts_col) >= F.lit(start))
        )
    if end is not None:
        df = df.filter(
            (F.col("day") <= utc_day(F.lit(end)))
            & (F.col(ts_col) <= F.lit(end))
        )
    return df.drop("day")


def compact(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    ts_col: str = "ts",
) -> int:
    """Compact a day-partitioned lake path to ~target_mb files per
    partition (reference S11 compaction: memory_based_compactor.py:11-49
    sizes blocks by estimated memory; here we size by actual on-disk
    bytes). Returns the new file count. Rewrite is atomic-ish via a
    staging directory swap."""
    import shutil

    df = spark.read.parquet(path)
    total_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, round(total_bytes / (target_mb * 1024 * 1024)))
    staging = path.rstrip("/") + ".compacting"
    (
        df.repartitionByRange(n_files, ts_col)
        .sortWithinPartitions("day", ts_col)  # see write_partitioned
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(staging)
    )
    backup = path.rstrip("/") + ".old"
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return sum(
        1
        for dp, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class FeatureStore:
    """Materialized-feature cache on the lake.

    get_or_compute(key, fn): if `root/key` exists, read it; else run fn,
    persist the result day-partitioned, and read back. The sidecar
    _meta.json records provenance (created_at, row count, schema) — the
    minimal replacement for the reference's feature-block metadata rows
    (feature_block_metadata.py:8-55)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def exists(self, key: str) -> bool:
        return os.path.exists(os.path.join(self._path(key), "_meta.json"))

    def meta(self, key: str) -> dict:
        with open(os.path.join(self._path(key), "_meta.json")) as f:
            return json.load(f)

    def get_or_compute(
        self, key: str, fn, ts_col: str = "ts"
    ) -> DataFrame:
        path = self._path(key)
        if self.exists(key):
            return read_parquet(self.spark, path).drop("day")
        df = fn()
        write_partitioned(df, path, ts_col=ts_col)
        out = read_parquet(self.spark, path)
        meta = {
            "key": key,
            "created_at": time.time(),
            "rows": out.count(),
            "schema": out.drop("day").schema.jsonValue(),
        }
        with open(os.path.join(path, "_meta.json"), "w") as f:
            json.dump(meta, f)
        return out.drop("day")


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str] | str,
    ts_col: str = "ts",
    mode: str = "overwrite",
) -> None:
    """Key-clustered day-partitioned lake write (the z-order-lite layout
    lever): co-locate each cluster key's rows with a repartition on the
    key, then sort row groups by (key..., ts).

    Parquet keeps min/max statistics per row group; once rows are
    key-sorted, a per-key predicate prunes whole row groups at scan
    time (and the time sort inside each key keeps `write_partitioned`'s
    time-range skipping). At 100 TB this is the difference between
    reading a symbol's slice and reading every block of every day it
    appears in — same idea as Delta/Iceberg data clustering, with plain
    parquet stats. Verified structurally in
    tests/test_storage_ingest.py::test_write_clustered_row_group_stats.
    """
    if isinstance(cluster_cols, str):
        cluster_cols = [cluster_cols]
    (
        df.withColumn("day", utc_day(ts_col))
        .repartition(
            max(df.sparkSession.sparkContext.defaultParallelism, 1),
            *[F.col(c) for c in cluster_cols],
        )
        # "day" must LEAD the sort: the dynamic-partition writer
        # requires each task's rows ordered by the partition columns
        # and inserts its own (day)-only sort when they aren't —
        # silently scrambling the (key, ts) run order inside files
        # (observed at low task counts, where multi-day tasks are
        # common). With day first, the writer's required ordering is
        # already satisfied and the clustered order survives verbatim.
        .sortWithinPartitions("day", *cluster_cols, ts_col)
        .write.mode(mode)
        .partitionBy("day")
        .parquet(path)
    )
