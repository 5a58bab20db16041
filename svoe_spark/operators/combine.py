"""combine_latest (reference J5, feature_stream_graph.py:114-119) and
keyed running reduce (reference A6, v2 operator.py:171-191).

combine_latest: one output row per input tick from ANY feature stream,
carrying the latest value of EVERY stream — the inference-vector
assembly op. Same union + running-last(ignorenulls) core as the as-of
join, without restricting output to label rows.

running_reduce: per-key cumulative aggregate emitted on every update —
batch form of the v2 engine's reduce operator (streaming form:
svoe_spark.streaming.aggregate.keyed_reduce_stream).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from svoe_spark.functions.time import epoch_seconds


def combine_latest(
    streams: dict[str, DataFrame],
    on: str = "ts",
    by: list[str] | str | None = None,
) -> DataFrame:
    """streams: {name: df(keys, ts, value_cols...)}. Output: one row per
    input event with columns '{name}-{col}' = latest value per key."""
    if isinstance(by, str):
        by = [by]
    by = by or []

    out_cols: dict[str, tuple[str, str]] = {}
    for name, df in streams.items():
        for c in df.columns:
            if c == on or c in by:
                continue
            out_cols[f"{name}-{c}"] = (name, c)

    pieces = []
    for name, df in streams.items():
        exprs: list[Column] = [F.col(on), *[F.col(b) for b in by]]
        for out, (src_name, src_col) in out_cols.items():
            if src_name == name:
                exprs.append(F.col(src_col).alias(out))
            else:
                dt = streams[src_name].schema[src_col].dataType
                exprs.append(F.lit(None).cast(dt).alias(out))
        pieces.append(df.select(*exprs))
    unioned = pieces[0]
    for p in pieces[1:]:
        unioned = unioned.unionByName(p)

    w = (
        Window.partitionBy(*by)
        .orderBy(epoch_seconds(on))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return unioned.select(
        on,
        *by,
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in out_cols],
    )


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
