"""Streaming combine_latest (reference J5 online path,
feature_stream_graph.py:114-119 streamz combine_latest): one output per
input tick carrying the latest value of every feature stream — the live
inference vector.

applyInPandasWithState keyed by instrument; state = one latest value
per stream (fixed, tiny); event time crosses as UTC µs
(``functions.time.to_micros``). Assumes per-key in-order delivery (T5)."""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from svoe_spark.functions.time import from_micros, to_micros
from svoe_spark.streaming.chunks import batch_frame


def combine_latest_stream(
    df: DataFrame,
    streams: list[str],
    key: str = "symbol",
    on: str = "ts",
    stream_col: str = "stream",
    value_col: str = "value",
) -> DataFrame:
    """df: a union'd tagged stream (key, ts, stream, value). Output: one
    row per event with columns '{stream}_value' = latest per key.

    Events sharing a timestamp apply in the DECLARED ``streams`` order
    (upstream features first), so the last same-instant row carries the
    fully-updated vector — matching the batch as-of convention that
    right-side rows at t are visible to left rows at t."""
    out_schema = StructType(
        [
            StructField(key, df.schema[key].dataType),
            StructField(on, LongType()),
            StructField(stream_col, StringType()),
            *[StructField(f"{s}_value", DoubleType()) for s in streams],
        ]
    )
    state_schema = StructType(
        [StructField(f"latest_{s}", DoubleType()) for s in streams]
    )
    idx = {s: i for i, s in enumerate(streams)}

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        latest = list(state.get) if state.exists else [None] * len(streams)
        latest = [None if v is not None and math.isnan(v) else v for v in latest]
        pdf = batch_frame(pdfs, columns=[on, stream_col, value_col])  # assemble BEFORE sorting: chunk order
        pdf = pdf.assign(        # is fetch order, not event-time order
            __prio=pdf[stream_col].map(idx).fillna(len(streams))
        ).sort_values([on, "__prio"], kind="stable")
        rows = []
        for ts, s, v in zip(pdf[on], pdf[stream_col], pdf[value_col]):
            # null/NaN ticks don't clobber state: combine_latest is
            # "latest NON-NULL per stream", the same ignorenulls
            # fill the batch as-of/combine operators use — sparse
            # features (e.g. warmup-null volatility) carry forward
            if s in idx and v is not None and not math.isnan(float(v)):
                latest[idx[s]] = float(v)
            rows.append((key_tuple[0], ts, s, *latest))
        yield pd.DataFrame(
            rows, columns=[key, on, stream_col, *[f"{s}_value" for s in streams]]
        )
        state.update(tuple(latest))

    return (
        df.select(key, to_micros(on).alias(on), stream_col, value_col)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .withColumn(on, from_micros(on))
    )
