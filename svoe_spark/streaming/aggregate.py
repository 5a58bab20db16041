"""Streaming keyed running reduce (reference A6: per-key incremental
reduce emitting EVERY update — v2 operator.py:171-191,
data_stream.py:122-129; the reference's aggregate() was
NotImplementedError).

Plain streaming groupBy can't emit per-update rows; this is
applyInPandasWithState with a numeric accumulator vector. Supported
reduces: sum, count, min, max, last (enough to cover the reference's
lambda-reduce uses; arbitrary Python folds fit the same template).
sum/min/max skip nulls as SQL's do (``combine.running_reduce``): NULL
until the key's first non-null value; count counts rows."""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from svoe_spark.streaming.chunks import batch_frame

# NaN: no non-null value yet
_INITS = {"sum": math.nan, "count": 0.0, "min": math.nan, "max": math.nan, "last": math.nan}


def keyed_reduce_stream(
    df: DataFrame,
    value: str,
    ops: list[str],
    key: str = "symbol",
    on: str = "ts",
) -> DataFrame:
    """df(key, ts, value) -> one row per event with running <op>s: the
    keyed running reduce (reference A6) on ``applyInPandasWithState``."""
    for op in ops:
        if op not in _INITS:
            raise ValueError(f"unsupported reduce op: {op}; use {sorted(_INITS)}")

    out_schema = StructType(
        [
            StructField(key, df.schema[key].dataType),
            StructField(on, TimestampType()),
            StructField(value, DoubleType()),
            *[StructField(f"{op}_{value}", DoubleType()) for op in ops],
        ]
    )
    state_schema = StructType(
        [StructField(f"acc_{op}", DoubleType()) for op in ops]
    )

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        accs = list(state.get) if state.exists else [_INITS[op] for op in ops]
        # whole micro-batch as ONE frame, sorted once: Arrow chunks
        # arrive in fetch order, and per-chunk sorting would run the
        # accumulators out of event-time order (chunks.batch_frame)
        pdf = batch_frame(pdfs, [on], columns=[on, value])
        vals = pdf[value].astype(float)
        out = {key: key_tuple[0], on: pdf[on], value: vals}
        cols = {}
        for i, op in enumerate(ops):
            if op == "count":
                series = pd.Series(range(1, len(vals) + 1), index=vals.index, dtype=float) + accs[i]
            elif op == "last":
                series = vals
            else:  # sum/min/max: the batch's running op over its non-null values, then the carried one
                series = getattr(vals, f"cum{op}")().ffill()
                if op != "sum":
                    series = getattr(np, f"f{op}")(series, accs[i])  # fmin/fmax skip a NaN side
                elif not math.isnan(accs[i]):
                    series = series.fillna(0) + accs[i]
            accs[i] = float(series.iloc[-1]) if len(series) else accs[i]
            cols[f"{op}_{value}"] = series
        out.update(cols)
        yield pd.DataFrame(out)
        state.update(tuple(accs))

    return (
        df.select(key, on, value)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def drawdown_stream(
    df: DataFrame,
    value: str,
    key: str = "symbol",
    on: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming max-drawdown: per event, the running peak, current
    drawdown (peak - value) and running maximum drawdown per key — the
    Kappa form of ``operators.quant.max_drawdown`` (same accumulator
    algebra: peak/dd are cummax compositions, so batch replay and the
    stream agree exactly; the equivalence test drives both). State is
    two numbers per key. Values must be exactly double-representable
    (integer cents are), matching the batch operator's integer
    arithmetic. ``tiebreak`` (e.g. the event id) makes the order of
    equal-timestamp events deterministic — a tie straddling a new peak
    changes max_dd, exactly as in the batch operator's order
    contract."""
    sort_cols = [on] if tiebreak is None else [on, tiebreak]
    extra = (
        [StructField(tiebreak, df.schema[tiebreak].dataType)]
        if tiebreak is not None
        else []
    )
    out_schema = StructType(
        [
            StructField(key, df.schema[key].dataType),
            StructField(on, TimestampType()),
            *extra,
            StructField(value, DoubleType()),
            StructField("peak", DoubleType()),
            StructField("dd", DoubleType()),
            StructField("max_dd", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("peak", DoubleType()), StructField("max_dd", DoubleType())]
    )

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        peak, max_dd = (
            state.get if state.exists else (float("-inf"), 0.0)
        )
        pdf = batch_frame(pdfs, sort_cols, columns=[*sort_cols, value])
        vals = pdf[value].astype(float)
        peaks = vals.cummax().clip(lower=peak)
        dd = peaks - vals
        mdd = dd.cummax().clip(lower=max_dd)
        if len(vals):
            peak = float(peaks.iloc[-1])
            max_dd = float(mdd.iloc[-1])
        out = {key: key_tuple[0], on: pdf[on]}
        if tiebreak is not None:
            out[tiebreak] = pdf[tiebreak]
        out.update(
            {value: vals, "peak": peaks, "dd": dd, "max_dd": mdd}
        )
        yield pd.DataFrame(out)
        state.update((peak, max_dd))

    return (
        df.select(key, on, *([tiebreak] if tiebreak is not None else []), value)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def ofi_stream(
    df: DataFrame,
    key: str = "symbol",
    on: str = "ts",
    bid_px: str = "bid_px",
    bid_sz: str = "bid_sz",
    ask_px: str = "ask_px",
    ask_sz: str = "ask_sz",
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming order-flow imbalance: the Kappa form of
    ``operators.quant.order_flow_imbalance`` — per book-top update,
    the signed size contribution e_n (Cont/Kukanov/Stoikov), computed
    incrementally with FOUR longs of state per key (the previous
    best-bid/ask snapshot). The first-ever update contributes 0,
    matching the batch operator's null-lag row; within a micro-batch
    the operator sorts by (ts, tiebreak), and across micro-batches
    event time must be non-decreasing per key (the replay contract
    shared with drawdown_stream). Integer arithmetic throughout —
    stream == batch exactly, equivalence-tested."""
    sort_cols = [on] if tiebreak is None else [on, tiebreak]
    extra = (
        [StructField(tiebreak, df.schema[tiebreak].dataType)]
        if tiebreak is not None
        else []
    )
    out_schema = StructType(
        [
            StructField(key, df.schema[key].dataType),
            StructField(on, TimestampType()),
            *extra,
            StructField("e_ofi", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("pb", LongType()),
            StructField("pqb", LongType()),
            StructField("pa", LongType()),
            StructField("pqa", LongType()),
        ]
    )
    cols = [bid_px, bid_sz, ask_px, ask_sz]

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prev = state.get if state.exists else None
        pdf = batch_frame(pdfs, sort_cols, columns=[*sort_cols, *cols])
        b = pdf[bid_px].astype("int64")
        qb = pdf[bid_sz].astype("int64")
        a = pdf[ask_px].astype("int64")
        qa = pdf[ask_sz].astype("int64")
        # previous snapshot per row: the batch's own shift, row 0
        # seeded from state (fill_value keeps int64 — no NaN/float trip)
        pb = b.shift(fill_value=0)
        pqb = qb.shift(fill_value=0)
        pa = a.shift(fill_value=0)
        pqa = qa.shift(fill_value=0)
        first_is_cold = prev is None
        if prev is not None and len(pdf):
            pb.iloc[0], pqb.iloc[0], pa.iloc[0], pqa.iloc[0] = prev
        e = (
            (b >= pb).astype("int64") * qb
            - (b <= pb).astype("int64") * pqb
            - (a <= pa).astype("int64") * qa
            + (a >= pa).astype("int64") * pqa
        )
        if first_is_cold and len(pdf):
            e.iloc[0] = 0
        out = {key: key_tuple[0], on: pdf[on]}
        if tiebreak is not None:
            out[tiebreak] = pdf[tiebreak]
        out["e_ofi"] = e
        yield pd.DataFrame(out)
        if len(pdf):
            state.update(
                (int(b.iloc[-1]), int(qb.iloc[-1]), int(a.iloc[-1]), int(qa.iloc[-1]))
            )

    return (
        df.select(key, on, *([tiebreak] if tiebreak is not None else []), *cols)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
