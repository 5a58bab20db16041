"""Emission sampling / decimation.

Reference semantics: ``sampling: raw|skip_all|<dur>`` — emit every
event, never, or once per time bucket with the latest value winning
(reference l2_snapshot_fd.py:64-77, stream_utils.py:12-24); every-nth
row decimation for materialization (df_utils.py:168-169,
runner.py:148-164).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from svoe_spark.functions.time import bucket_start, epoch_seconds


def sample_by_bucket(
    df: DataFrame,
    on: str = "timestamp",
    by: list[str] | str | None = None,
    every: str = "1s",
    keep: str = "last",
    tiebreak: str | None = None,
) -> DataFrame:
    """Once-per-bucket emission: one row per (key, bucket), the
    earliest/latest event winning (``tiebreak`` orders duplicate
    timestamps so all columns come from the SAME row). groupBy + max_by
    keeps it a single partial-aggregated shuffle (no per-key sort)."""
    keys = [by] if isinstance(by, str) else list(by or [])
    b = bucket_start(on, every).alias("__bucket")
    pick = F.max_by if keep == "last" else F.min_by
    order = (
        F.struct(epoch_seconds(on), F.col(tiebreak)) if tiebreak else epoch_seconds(on)
    )
    value_cols = [c for c in df.columns if c not in keys]
    return (
        df.groupBy(*keys, b)
        .agg(*[pick(c, order).alias(c) for c in value_cols])
        .drop("__bucket")
    )


def every_nth(
    df: DataFrame,
    n: int,
    on: str = "timestamp",
    by: list[str] | str | None = None,
) -> DataFrame:
    """Keep rows 1, n+1, 2n+1, ... in event-time order per key
    (reference pick_every_nth_row, df_utils.py:168-169)."""
    keys = [by] if isinstance(by, str) else list(by or [])
    w = Window.partitionBy(*keys).orderBy(epoch_seconds(on))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") - 1) % n == 0)
        .drop("__rn")
    )


def distinct_until_changed(
    df: DataFrame,
    value_cols: list[str],
    key: str | None = None,
    on: str = "ts",
    tie_col: str | None = None,
) -> DataFrame:
    """Suppress consecutive identical emissions per key — the
    reference's `unique(maxsize=1)` stage on sampled feature streams
    (l2_snapshot_fd.py:64-77, stream_utils.py:12-24): a row survives iff
    any of ``value_cols`` differs from the previous row's (or it is the
    first). One window pass; null-safe comparison via <=>."""
    from pyspark.sql import Window

    order = [F.col(on)] + ([F.col(tie_col)] if tie_col else [])
    # keyless form is a single-task window — fine for one instrument's
    # emission stream (the reference's shape), use `key` otherwise
    w = (Window.partitionBy(key) if key else Window.partitionBy()).orderBy(*order)
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    # the first row's lags are all null; eqNullSafe(null, null) is true,
    # so detect it with the row counter
    rn = F.row_number().over(w)
    return (
        df.withColumn("__keep", (rn == 1) | changed)
        .filter(F.col("__keep"))
        .drop("__keep")
    )
