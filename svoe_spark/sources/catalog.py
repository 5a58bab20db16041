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
        # inside files
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
