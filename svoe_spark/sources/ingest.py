"""Raw-provider ingest: CSV(.gz) -> normalized, time-partitioned parquet.

The reference's pipeline (reference: data_ingest/pipelines/cryptotick/
tasks.py:29-96 — load provider CSV, rename columns, parse/compose
timestamps, sort, split into ~100MB blocks, register in the catalog,
skip already-ingested inputs by hash; cryptotick_utils.py:102-125)
re-expressed as one declarative pipeline: the sort/split/register steps
are repartitionByRange + partitionBy(day) + the ledger sidecar.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from svoe_spark.sources.catalog import write_partitioned


def normalize(
    df: DataFrame,
    renames: dict[str, str] | None = None,
    ts_col: str = "timestamp",
    ts_format: str | None = None,
    side_col: str | None = None,
    drop: list[str] | None = None,
    side_values: tuple[str, str] = ("bid", "ask"),
) -> DataFrame:
    """Provider normalization (reference P8): column renames, ISO/epoch
    timestamp parsing, truthy-side decoding, column drops.

    ``side_values``: (buy_side, sell_side) labels. Default ('bid',
    'ask') matches the reference's L2 convention; pass ('BUY', 'SELL')
    for trade streams feeding the ``tvi`` feature definition (whose
    ``buy_value`` param defaults to 'BUY'), or set that param to the
    label used here — a mismatch makes buy volume silently zero."""
    for old, new in (renames or {}).items():
        df = df.withColumnRenamed(old, new)
    if ts_format:
        df = df.withColumn(ts_col, F.to_timestamp(ts_col, ts_format))
    elif dict(df.dtypes).get(ts_col) in ("double", "bigint", "int"):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    else:
        df = df.withColumn(ts_col, F.to_timestamp(ts_col))
    if side_col:
        buy_side, sell_side = side_values
        df = df.withColumn(
            side_col,
            F.when(
                F.col(side_col).cast("string").isin("1", "true", "True", "BUY", "buy"),
                F.lit(buy_side),
            ).otherwise(F.lit(sell_side)),
        )
    for c in drop or []:
        df = df.drop(c)
    return df


class IngestLedger:
    """Input-file dedup by content identity (reference
    sql/client.py:18-38 content-hash dedup of blocks): a JSON ledger of
    (path, size, mtime) signatures already ingested."""

    def __init__(self, path: str):
        self.path = path
        self._seen: dict[str, list] = {}
        if os.path.exists(path):
            with open(path) as f:
                self._seen = json.load(f)

    def signature(self, file_path: str) -> list:
        st = os.stat(file_path)
        return [st.st_size, int(st.st_mtime)]

    def is_ingested(self, file_path: str) -> bool:
        return self._seen.get(file_path) == self.signature(file_path)

    def mark(self, file_path: str) -> None:
        self._seen[file_path] = self.signature(file_path)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as f:
            json.dump(self._seen, f)


def ingest_csv(
    spark: SparkSession,
    src: str | list[str],
    dest: str,
    schema: str | None = None,
    renames: dict[str, str] | None = None,
    ts_col: str = "timestamp",
    ts_format: str | None = None,
    side_col: str | None = None,
    drop: list[str] | None = None,
    ledger: IngestLedger | None = None,
    header: bool = True,
) -> int:
    """CSV(.gz) -> normalized day-partitioned parquet under `dest`.
    Returns the number of input files actually ingested (ledger-deduped
    inputs are skipped). Spark reads .gz transparently; blocks come out
    time-ranged and internally sorted (reference's ts-sort invariant,
    df_utils.py:93-94)."""
    paths = [src] if isinstance(src, str) else list(src)
    if ledger is not None:
        paths = [p for p in paths if not ledger.is_ingested(p)]
        if not paths:
            return 0
    reader = spark.read.option("header", str(header).lower())
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(paths)
    df = normalize(
        df, renames=renames, ts_col=ts_col, ts_format=ts_format,
        side_col=side_col, drop=drop,
    )
    write_partitioned(df, dest, ts_col=ts_col, mode="append")
    if ledger is not None:
        for p in paths:
            ledger.mark(p)
    return len(paths)
