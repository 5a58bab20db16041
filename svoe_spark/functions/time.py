"""Time helpers: duration-string parsing and epoch/bucket column math.

The reference accepts duration strings like '1m'/'5s'/'100ms'
(reference: svoe/common/time/utils.py:12-17) and aligns tumbling buckets
to UTC midnight (svoe/common/time/utils.py:40-51). We keep the same
string surface but do all arithmetic on Spark TimestampType / epoch
doubles so Catalyst can push everything into codegen. Event time enters
and leaves every per-key Python stage as int64 UTC µs (``to_micros`` /
``from_micros``), never as session-zone wall time.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_DUR_RE = re.compile(r"^\s*(\d+(?:\.\d+)?)\s*(ms|s|m|h|d)\s*$")
_UNIT_SECONDS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}


def duration_to_seconds(dur: str | int | float) -> float:
    """'1m' -> 60.0, '100ms' -> 0.1, 5 -> 5.0."""
    if isinstance(dur, (int, float)):
        return float(dur)
    m = _DUR_RE.match(dur)
    if not m:
        raise ValueError(f"unparseable duration: {dur!r}")
    return float(m.group(1)) * _UNIT_SECONDS[m.group(2)]


def duration_ns(dur: str | int | float) -> int:
    """Duration in nanoseconds, exact to the microsecond (Spark's
    timestamp precision), as the int64 offsets of per-event kernels."""
    return int(round(duration_to_seconds(dur) * 1e6)) * 1000


def epoch_seconds(ts: Column | str) -> Column:
    """Timestamp -> epoch seconds as DOUBLE (micro precision).

    Used as the numeric ORDER BY for range-frame windows; a timestamp at
    micro precision fits a double exactly (< 2^53).

    TIMESTAMP_NTZ inputs (parquet isAdjustedToUTC=false) are routed
    through a TIMESTAMP cast first — Spark refuses NTZ->double directly;
    with the session tz pinned to UTC the two types have identical epoch
    values, so this is exact.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return c.cast("timestamp").cast("double")


def to_micros(ts: str) -> Column:
    """Event time as int64 µs since the epoch (UTC): the one form in
    which it crosses into a per-key Python stage, which hands its
    kernels ``micros_ns`` and returns these µs. An instant, so the
    session time zone never shifts or reorders it; a NULL stays NULL."""
    return F.unix_micros(F.col(ts).cast("timestamp"))


def from_micros(us: str) -> Column:
    """``to_micros``' inverse: the µs a Python stage returns, as the
    TimestampType event time."""
    return F.timestamp_micros(us)


def micros_ns(us: pd.Series) -> np.ndarray:
    """A Python stage's ``to_micros`` column (float64 with NaN when it
    holds nulls) as the int64 ns of the kernels; a null reads as
    INT64_MIN, NaT's value."""
    ns = us.to_numpy(dtype=np.int64, na_value=0) * 1000
    ns[us.isna().to_numpy()] = np.iinfo(np.int64).min
    return ns


def utc_day(ts: Column | str) -> Column:
    """The UTC calendar date of an instant: the lake's ``day`` partition.
    ``date_format``/``to_date`` give the session zone's date, so a lake
    written in one zone would be pruned wrongly by a read in another."""
    us = F.unix_micros((F.col(ts) if isinstance(ts, str) else ts).cast("timestamp"))
    return F.date_from_unix_date(F.floor(us / 86_400_000_000).cast("int"))


def bucket_start(ts: Column | str, dur: str | int | float) -> Column:
    """UTC-midnight-aligned tumbling-bucket start for a timestamp.

    Same alignment as the reference's get_sampling_bucket_ts
    (svoe/common/time/utils.py:40-51): bucket k covers
    [k*dur, (k+1)*dur) anchored at the unix epoch (== UTC midnight).
    Returns a TimestampType column.
    """
    secs = duration_to_seconds(dur)
    e = epoch_seconds(ts)
    return (F.floor(e / secs) * secs).cast("timestamp")
