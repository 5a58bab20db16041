"""Kappa forms of the regular-grid gapfill (`operators/resample.py`):
streaming locf AND streaming linear interpolation onto a UTC-aligned
grid.

locf is purely causal: each grid instant is FINAL the moment the
first observation at-or-after it arrives — no wait, no retraction.
Linear interpolation needs the bracketing FUTURE point, but that is a
DELAY, not an impossibility (VERDICT r5 ask 3): a gap's interpolated
rows are computable exactly when the gap-CLOSING observation arrives,
so `resample_interpolate_stream` holds each open gap as two numbers of
state (previous observation ts + value) and emits the whole gap's grid
rows on the closing observation — the same emission instants as the
locf stream, each row final on emit. The only batch rows a stream can
never finalize are the NULL-interp tail past the last observation of
all time, which doesn't exist in an unbounded stream by definition.

Why stream == batch exactly (the equivalence test drives both): the
batch grid for a key is every ``step`` instant in [floor(min ts),
max ts], each carrying the latest observation at or before it.
Processing observations in event-time order, all grid instants in
(floor(prev obs), floor(this obs)] become final on this observation's
arrival — instants strictly before it carry the previous value, an
instant equal to it carries this value — and the batch grid's last
instant is floor(max ts), so the final observation finalizes
everything: no un-emittable tail. Same cross-batch event-time
ordering contract as drawdown_stream; (key, ts) must be unique on the
data side (pre-aggregate duplicate instants, exactly like the batch
operator's contract).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from svoe_spark.functions.time import from_micros, to_micros
from svoe_spark.operators.resample import _grid_step
from svoe_spark.streaming.chunks import batch_frame


def resample_ffill_stream(
    df: DataFrame,
    on: str = "ts",
    by: str = "symbol",
    every: str | float = "1h",
    value_col: str = "value",
) -> DataFrame:
    """Streaming gapfill: emits one FINAL row per (key, grid instant)
    — (by, ts, locf) — exactly the rows `resample_ffill` produces in
    batch (locf NULL before the first observation, i.e. at the floor
    instant when the first observation is not grid-aligned). State per
    key is two numbers (last emitted grid micro-instant, last
    value)."""
    step = _grid_step(every) * 1_000_000  # grid arithmetic in micros
    out_schema = StructType(
        [
            StructField(by, df.schema[by].dataType),
            StructField("ts_us", LongType()),
            StructField("locf", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_g", LongType()),
            StructField("last_v", DoubleType()),
        ]
    )

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_g, last_v = state.get
        else:
            last_g, last_v = None, None
        out_g: list[int] = []
        out_v: list[float | None] = []
        pdf = batch_frame(pdfs, ["__sec"], columns=["__sec", "__v"])
        for sec, v in zip(pdf["__sec"], pdf["__v"]):
            sec = int(sec)
            v = None if pd.isna(v) else float(v)
            if last_g is None:
                g0 = (sec // step) * step
                if g0 < sec:
                    out_g.append(g0)
                    out_v.append(None)  # nothing at-or-before g0
                else:
                    out_g.append(g0)
                    out_v.append(v)
                last_g = g0
            else:
                g = last_g + step
                while g <= sec:
                    out_g.append(g)
                    out_v.append(v if g == sec else last_v)
                    last_g = g
                    g += step
            last_v = v
        state.update((last_g, last_v))
        if out_g:
            yield pd.DataFrame(
                {
                    by: [key_tuple[0]] * len(out_g),
                    "ts_us": out_g,
                    "locf": pd.array(out_v, dtype="float64"),
                }
            )

    src = df.select(
        F.col(by),
        to_micros(on).alias("__sec"),
        F.col(value_col).cast("double").alias("__v"),
    )
    out = src.groupBy(by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.select(
        by, from_micros("ts_us").alias(on), "locf"
    )


def resample_interpolate_stream(
    df: DataFrame,
    on: str = "ts",
    by: str = "symbol",
    every: str | float = "1h",
    value_col: str = "value",
) -> DataFrame:
    """Streaming two-sided gapfill: one FINAL row per (key, grid
    instant) — (by, ts, locf, interp) — exactly the rows the batch
    `resample_interpolate` produces (locf/interp NULL at the floor
    instant before the first observation; exact value on a grid-
    aligned observation; the linear blend between brackets otherwise).

    Emission timing: grid instants in (previous observation, this
    observation] become final when THIS observation arrives — it is
    their forward bracket — so the stream emits whole gaps at their
    closing observation with no watermark hold and no retractions.
    State per key is three numbers (last emitted grid micro-instant,
    previous observation micro-instant, previous value).

    Interpolation arithmetic mirrors the batch operator token for
    token: the ratio is a quotient of int64 microsecond deltas
    converted exactly to double, then pv + (nv - pv) * ratio — so
    stream and batch rows are bit-identical (the equivalence test
    compares exact floats).

    Contract (beyond the shared unique-(key, ts) event-time-ordered
    replay contract): ``value_col`` must be non-NULL — the batch
    operator treats NULL-valued rows as non-observations that only
    stretch the grid, producing NULL-interp tail rows no unbounded
    stream could ever close; pre-filter them (rows with NULL values
    here raise, rather than silently diverging from batch)."""
    step = _grid_step(every) * 1_000_000
    out_schema = StructType(
        [
            StructField(by, df.schema[by].dataType),
            StructField("ts_us", LongType()),
            StructField("locf", DoubleType()),
            StructField("interp", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_g", LongType()),
            StructField("pt", LongType()),
            StructField("pv", DoubleType()),
        ]
    )

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_g, pt, pv = state.get
        else:
            last_g, pt, pv = None, None, None
        out_g: list[int] = []
        out_l: list[float | None] = []
        out_i: list[float | None] = []
        pdf = batch_frame(pdfs, ["__sec"], columns=["__sec", "__v"])
        for sec, v in zip(pdf["__sec"], pdf["__v"]):
            sec = int(sec)
            if pd.isna(v):
                raise ValueError(
                    "resample_interpolate_stream: NULL value observed — "
                    "pre-filter NULL-valued rows (see contract note)"
                )
            v = float(v)
            if pt is None:
                g0 = (sec // step) * step
                if g0 < sec:
                    out_g.append(g0)
                    out_l.append(None)
                    out_i.append(None)
                else:
                    out_g.append(g0)
                    out_l.append(v)
                    out_i.append(v)
                last_g = g0
            else:
                g = last_g + step
                while g <= sec:
                    out_g.append(g)
                    if g == sec:
                        out_l.append(v)
                        out_i.append(v)
                    else:
                        ratio = (g - pt) / (sec - pt)
                        out_l.append(pv)
                        out_i.append(pv + (v - pv) * ratio)
                    last_g = g
                    g += step
            pt, pv = sec, v
        state.update((last_g, pt, pv))
        if out_g:
            yield pd.DataFrame(
                {
                    by: [key_tuple[0]] * len(out_g),
                    "ts_us": out_g,
                    "locf": pd.array(out_l, dtype="float64"),
                    "interp": pd.array(out_i, dtype="float64"),
                }
            )

    src = df.select(
        F.col(by),
        to_micros(on).alias("__sec"),
        F.col(value_col).cast("double").alias("__v"),
    )
    out = src.groupBy(by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.select(
        by, from_micros("ts_us").alias(on), "locf", "interp"
    )
