"""Keyed running reduce (reference A6, v2 operator.py:171-191): a
per-key cumulative aggregate emitted on every update — the v2 engine's
reduce operator, in batch. The reference's combine_latest (J5) is the
registry's ``combine_latest_vector`` query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from svoe_spark.functions.time import epoch_seconds


def running_reduce(
    df: DataFrame,
    aggs: dict[str, Column],
    on: str = "ts",
    by: list[str] | str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key cumulative aggregates, one output per input event (the
    reference's reduce emits every update)."""
    if isinstance(by, str):
        by = [by]
    by = by or []
    order = [epoch_seconds(on)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select("*", *[expr.over(w).alias(name) for name, expr in aggs.items()])
