"""Kappa form of the nearest as-of join (`operators/asof.py:
asof_join_nearest`): streaming nearest matches (VERDICT r6 ask 4; state
bounding and native value types: VERDICT r7 asks 4-5).

The backward as-of is purely causal (the flagship feature stream
already computes it: `Featurizer.run_stream`). Nearest needs the first
right observation AFTER a left row — a DELAY, not an impossibility: a
left row's match is computable the moment the gap-CLOSING right
observation arrives, so each left row is held as pending state and
emitted FINAL (no retraction, no watermark hold) on the first right row
after it.

Why stream == batch exactly on closed rows (the equivalence tests
drive both): processing (key, ts)-ordered events with right rows
before left rows at equal instants, the backward candidate (latest
right <= t) is final the moment the left arrives — snapshot it into
the pending entry; the forward candidate is the first right with
r > t. When it arrives, both distances are known exact int64
microseconds and the batch tie-break (backward wins ties) evaluates
identically. A left row whose backward distance is ZERO is emitted
immediately: no future right can beat an exact match.

Whole-row semantics match the batch operators: the matched right row's
value columns are carried as parallel native-typed columns snapshotted
and emitted AS A UNIT (never a per-column mix of rows), preserving each
column's original Spark type — a string-valued or integer-valued as-of
join streams exactly like the batch form, with no double coercion.

State bounding under ``tolerance``: once event time passes t +
tolerance, a pending left's outcome is already decided: its only live
candidate is the snapshotted backward one (any future forward is
farther than the tolerance). Expired pendings are therefore FINALIZED and evicted
two ways: (a) data-driven — any same-key event at u finalizes pendings
with t + tolerance < u (the ordered-replay contract makes u a lower
bound on future instants); (b) watermark-driven — the union stream is
watermarked and an EVENT-TIME TIMEOUT fires for keys whose right side
goes quiet, finalizing pendings with t + tolerance < watermark. State
per key is then O(tolerance window), not O(stream). Without a
tolerance the un-closable tail must wait by definition (the same
un-emittable tail as the interpolation stream's trailing NULLs), and
the handler keeps the no-timeout contract.

Contracts (shared with the other Kappa handlers): cross-batch event-time
ordered replay; unique (key, ts) per side (pre-aggregate duplicate
right instants — the batch operators' tiebreak column has no stream
counterpart); tolerance is exact integer microseconds, matching the
batch operators token for token (an out-of-tolerance row emits with
NULL values, exactly like the batch fill).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from svoe_spark.functions.time import duration_to_seconds, from_micros, to_micros
from svoe_spark.streaming.chunks import batch_arrays


def _norm_cols(
    value_col: str | list[str], out: str | list[str] | None, default: str
) -> tuple[list[str], list[str]]:
    cols = [value_col] if isinstance(value_col, str) else list(value_col)
    if not cols:
        raise ValueError("value_col must name at least one column")
    if out is None:
        names = [default] if len(cols) == 1 else list(cols)
    elif isinstance(out, str):
        if len(cols) != 1:
            raise ValueError(
                "out must be a list when value_col names several columns"
            )
        names = [out]
    else:
        if len(out) != len(cols):
            raise ValueError("out and value_col must have the same length")
        names = list(out)
    return cols, names


def _tagged_union(
    left: DataFrame, right: DataFrame, on: str, by: str, cols: list[str]
) -> tuple[DataFrame, list, list[bool]]:
    """One keyed stream: right rows side=0 (sorting BEFORE left rows at
    the same instant — a same-instant right is a backward match), left
    rows side=1, timestamps as exact unix micros, the right row's value
    columns carried as ONE STRUCT column __v (null struct for left
    rows) — the whole-row candidate unit. INTEGRAL fields ride the
    transport (and the state schema) as STRINGS, decoded back to
    Python ints in the handler: pandas renders any nullable int64 —
    flat OR struct field — as float64, silently rounding values past
    2^53 (pinned by
    test_asof_nearest_stream_long_values_exact_past_2_53); a decimal
    string round-trips exactly at any magnitude. Other types keep
    their native representation. __ts keeps the raw timestamp for the
    tolerance path's watermark. Returns (union, value_types,
    int_flags)."""
    vts = [right.schema[c].dataType for c in cols]
    enc = [_is_integral(t) for t in vts]
    vstruct = StructType(
        [
            StructField(f"_{j}", StringType() if e else t)
            for j, (t, e) in enumerate(zip(vts, enc))
        ]
    )
    l_ = left.select(
        F.col(by),
        F.col(on).alias("__ts"),
        to_micros(on).alias("__us"),
        F.lit(1).cast("int").alias("__side"),
        F.lit(None).cast(vstruct).alias("__v"),
    )
    r_ = right.select(
        F.col(by),
        F.col(on).alias("__ts"),
        to_micros(on).alias("__us"),
        F.lit(0).cast("int").alias("__side"),
        F.struct(
            *[
                (F.col(c).cast("string") if e else F.col(c)).alias(f"_{j}")
                for j, (c, e) in enumerate(zip(cols, enc))
            ]
        ).alias("__v"),
    )
    return l_.unionByName(r_), vts, enc


def _out_schema(df: DataFrame, by: str, names: list[str], vts: list) -> StructType:
    return StructType(
        [StructField(by, df.schema[by].dataType), StructField("ts_us", LongType())]
        + [StructField(n, t) for n, t in zip(names, vts)]
    )


def _py(v):
    """One pandas/numpy cell -> plain Python (None for any NA)."""
    if v is None:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):  # arrays/containers: not NA
        pass
    return v.item() if hasattr(v, "item") else v


def _is_integral(t) -> bool:
    return isinstance(t, (LongType, IntegerType, ShortType, ByteType))


def _v_tuple(cell, enc: list[bool]) -> tuple:
    """One __v struct cell (None or a field dict) -> the native-typed
    candidate tuple (string-transported integrals decoded)."""
    if cell is None or (isinstance(cell, float) and pd.isna(cell)):
        return (None,) * len(enc)
    out = []
    for j, e in enumerate(enc):
        v = _py(cell[f"_{j}"])
        out.append(int(v) if e and v is not None else v)
    return tuple(out)


def _enc_val(v, e: bool):
    """One candidate value -> its state-schema representation."""
    return str(v) if e and v is not None else v


def _dec_val(v, e: bool):
    return int(v) if e and v is not None else v


def _emit_frame(by, key_tuple, names, out_t, out_v):
    data = {by: [key_tuple[0]] * len(out_t), "ts_us": out_t}
    for j, n in enumerate(names):
        # object dtype: Arrow casts to the declared output type per
        # column (float/int/string/timestamp alike), None -> null
        data[n] = pd.Series(
            [None if v is None else v[j] for v in out_v], dtype="object"
        )
    return pd.DataFrame(data)


def _prep(u: DataFrame, tol_us: int | None):
    """Watermark + timeout config for the tolerance path: expired
    pendings are finalized by event-time timeout, so state stays
    bounded even when a key's right side goes quiet. Zero-delay
    watermark is exact under the ordered-replay contract (the watermark
    advances AFTER each micro-batch, so finalization is never early)."""
    if tol_us is None:
        return u, GroupStateTimeout.NoTimeout
    return (
        u.withWatermark("__ts", "0 seconds"),
        GroupStateTimeout.EventTimeTimeout,
    )


def _schedule_timeout(state: GroupState, pend_ts: list[int], tol_us: int) -> None:
    """Arm the event-time timeout at the earliest pending deadline,
    FLOORED to the watermark's millisecond grid (never rounded up: a
    premature wake-up is a no-op — the handler re-checks t + tolerance
    < watermark before emitting and re-arms — while a late wake-up
    would under-emit vs the batch semantics). Must land strictly past
    the current watermark or Spark rejects it; the max() also covers a
    deadline the watermark already passed, which the next firing then
    finalizes."""
    if not pend_ts:
        return
    wm_ms = state.getCurrentWatermarkMs()
    deadline_ms = (min(pend_ts) + tol_us) // 1000
    state.setTimeoutTimestamp(max(deadline_ms, wm_ms + 1))


def asof_nearest_stream(
    left: DataFrame,
    right: DataFrame,
    on: str = "timestamp",
    by: str = "symbol",
    value_col: str | list[str] = "value",
    out: str | list[str] | None = None,
    tolerance: str | float | None = None,
) -> DataFrame:
    """Streaming nearest as-of: for each left row at t, the value
    columns of the right row minimizing |r - t| (ties -> backward),
    emitted FINAL when the first right row with r > t closes the
    comparison — or immediately on an exact backward match (distance 0
    is unbeatable). Out-of-tolerance rows emit with NULL values, like
    the batch fill — and with a tolerance set, a pending left whose
    deadline passes event time finalizes NOW (the snapshotted backward
    candidate if it is within tolerance, else NULL: any future forward
    is beyond the tolerance by construction) and is evicted, bounding
    state to the tolerance window. Value columns keep their native
    types. State per key: the last right (ts, values) + pending left
    instants, each with its (final) backward-candidate snapshot.
    Output: (by, on, *out); ``out`` defaults to 'nearest_value' for a
    single column, the columns' own names for a list.

    Ordering contract (tolerance mode): deadline finalization uses the
    GLOBAL event-time horizon (batch max + watermark), so it is exact
    only under this module's globally event-time-ordered replay
    contract (see module docstring); a merely per-key-ordered source
    would finalize one key's pendings off another key's traffic — run
    tolerance mode only on globally ordered replays."""
    cols, names = _norm_cols(value_col, out, "nearest_value")
    tol_us = (
        None
        if tolerance is None
        else int(round(duration_to_seconds(tolerance) * 1_000_000))
    )
    u, vts, enc = _tagged_union(left, right, on, by, cols)
    out_schema = _out_schema(left, by, names, vts)
    nv = len(cols)
    sts = [StringType() if e else t for t, e in zip(vts, enc)]
    state_schema = StructType(
        [StructField("pr_ts", LongType())]
        + [StructField(f"pr_v{j}", t) for j, t in enumerate(sts)]
        + [StructField("pend_ts", ArrayType(LongType()))]
        + [StructField("pend_bts", ArrayType(LongType(), containsNull=True))]
        + [
            StructField(f"pend_bv{j}", ArrayType(t, containsNull=True))
            for j, t in enumerate(sts)
        ]
    )

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            got = state.get
            pr_ts = got[0]
            pr_v = tuple(
                _dec_val(v, e) for v, e in zip(got[1 : 1 + nv], enc)
            )
            p_t = list(got[1 + nv]) if got[1 + nv] is not None else []
            p_bt = list(got[2 + nv]) if got[2 + nv] is not None else []
            bcols = [
                list(got[3 + nv + j]) if got[3 + nv + j] is not None else []
                for j in range(nv)
            ]
            p_bv = [
                None
                if bt is None
                else tuple(
                    _dec_val(bcols[j][i], enc[j]) for j in range(nv)
                )
                for i, bt in enumerate(p_bt)
            ]
        else:
            pr_ts, pr_v, p_t, p_bt, p_bv = None, (None,) * nv, [], [], []
        out_t: list[int] = []
        out_v: list[tuple | None] = []

        def emit(t: int, bt, bv, ft: int, fv: tuple) -> None:
            # mirror operators/asof.py:asof_join_nearest's choice: exact
            # int64 distances, backward wins ties, tolerance on the
            # CHOSEN distance, NULL values when out of tolerance
            bdist = None if bt is None else t - bt
            fdist = ft - t
            use_b = bdist is not None and bdist <= fdist
            dist = bdist if use_b else fdist
            val = bv if use_b else fv
            out_t.append(t)
            out_v.append(val if tol_us is None or dist <= tol_us else None)

        max_us = None
        for us, side, v in zip(*batch_arrays(pdfs, ["__us", "__side", "__v"], 2)):
            us = int(us)
            max_us = us
            if side == 0:
                v = _v_tuple(v, enc)
                keep_t, keep_bt, keep_bv = [], [], []
                for t, bt, bv in zip(p_t, p_bt, p_bv):
                    if t <= us:
                        emit(t, bt, bv, us, v)
                    else:
                        keep_t.append(t)
                        keep_bt.append(bt)
                        keep_bv.append(bv)
                p_t, p_bt, p_bv = keep_t, keep_bt, keep_bv
                pr_ts, pr_v = us, v
            else:
                if pr_ts is not None and pr_ts == us:
                    # exact backward match: distance 0 is final now
                    out_t.append(us)
                    out_v.append(pr_v)
                else:
                    p_t.append(us)
                    p_bt.append(pr_ts)
                    p_bv.append(pr_v)
        if tol_us is not None and p_t:
            # finalize expired pendings (batch horizon, then watermark):
            # a future forward candidate is > tolerance away by
            # construction, so the snapshotted backward candidate wins
            # iff it is within tolerance — else the row is NULL-final
            horizon = max_us
            wm_us = state.getCurrentWatermarkMs() * 1000
            horizon = wm_us if horizon is None else max(horizon, wm_us)
            keep_t, keep_bt, keep_bv = [], [], []
            for t, bt, bv in zip(p_t, p_bt, p_bv):
                if t + tol_us < horizon:
                    out_t.append(t)
                    out_v.append(
                        bv if bt is not None and (t - bt) <= tol_us else None
                    )
                else:
                    keep_t.append(t)
                    keep_bt.append(bt)
                    keep_bv.append(bv)
            p_t, p_bt, p_bv = keep_t, keep_bt, keep_bv
        bcols_out = [
            [None if bv is None else _enc_val(bv[j], enc[j]) for bv in p_bv]
            for j in range(nv)
        ]
        state.update(
            (
                pr_ts,
                *(_enc_val(v, e) for v, e in zip(pr_v, enc)),
                p_t,
                p_bt,
                *bcols_out,
            )
        )
        if tol_us is not None:
            _schedule_timeout(state, p_t, tol_us)
        if out_t:
            yield _emit_frame(by, key_tuple, names, out_t, out_v)

    u, timeout_conf = _prep(u, tol_us)
    res = u.groupBy(by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
    return res.select(by, from_micros("ts_us").alias(on), *names)
