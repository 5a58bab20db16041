"""Window-based feature operators: OHLCV, trailing volatility,
diff/%-change, and the generic trailing-window helper.

The reference computes these as per-event Python state machines over
sorted streams (reference: ohlcv_fd.py:28-101,
volatility_stddev_fd.py:30-56, transforms/diff/diff.py:29-64,
stream_utils.py:31-39). Here each one is a declarative window/group
expression — JVM-side, whole-stage-codegen, partition-parallel. The
feature definitions (plans.definitions) compute trailing volatility,
diff and trade volume imbalance with the O(rows) per-key kernels
instead, on both the batch and the streaming path; the range-frame
forms here serve registry queries and batch references.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from svoe_spark.functions.time import (
    bucket_start,
    duration_to_seconds,
    epoch_seconds,
)


def _by(by: list[str] | str | None) -> list[str]:
    if by is None:
        return []
    return [by] if isinstance(by, str) else list(by)


def trailing_window(
    on: str,
    window: str | float,
    by: list[str] | str | None = None,
) -> WindowSpec:
    """Trailing closed range frame [ts - window, ts], per key.

    The backbone of every trailing feature (reference lookback_apply,
    stream_utils.py:31-39): ORDER BY epoch-MICROS RANGE BETWEEN
    -window AND CURRENT ROW. The frame orders by integer microseconds,
    not float seconds: `rangeBetween` accepts only long bounds, so a
    float-seconds frame made every sub-second window ('500ms') a py4j
    signature error; micros keep the same instants (timestamps are
    micro-precision) with exact integer arithmetic at any granularity.
    """
    micros = int(round(duration_to_seconds(window) * 1_000_000))
    c = F.col(on) if isinstance(on, str) else on
    return (
        Window.partitionBy(*_by(by))
        .orderBy(F.unix_micros(c.cast("timestamp")))
        .rangeBetween(-micros, 0)
    )


def ohlcv(
    df: DataFrame,
    on: str = "timestamp",
    price: str = "price",
    amount: str = "amount",
    by: list[str] | str | None = None,
    window: str = "1m",
) -> DataFrame:
    """Tumbling-window OHLCV + vwap + trade count.

    UTC-midnight-aligned buckets of ``window`` (reference ohlcv_fd.py:
    28-101 with bucket alignment common/time/utils.py:40-51). One
    shuffle (the groupBy); open/close use min_by/max_by on event time so
    the result is order-independent and exactly matches a sorted-stream
    fold.
    """
    keys = _by(by)
    b = bucket_start(on, window).alias("window_start")
    pa = F.col(price) * F.col(amount)
    return (
        df.groupBy(*keys, b)
        .agg(
            F.min_by(price, epoch_seconds(on)).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, epoch_seconds(on)).alias("close"),
            F.sum(amount).alias("volume"),
            F.when(F.sum(amount) != 0, F.sum(pa) / F.sum(amount)).alias("vwap"),
            F.count(F.lit(1)).alias("num_trades"),
        )
    )


def sliding_stddev(
    df: DataFrame,
    on: str = "timestamp",
    value: str = "mid_price",
    by: list[str] | str | None = None,
    window: str = "1m",
    out: str = "volatility",
) -> DataFrame:
    """Per-event trailing sample-stddev (volatility) over a time window
    (reference volatility_stddev_fd.py:30-56), as an analytic range
    frame: exact, but Spark re-aggregates every frame from scratch,
    O(rows x frame_size) — fine for sparse series. Dense ticks take the
    O(rows) kernel of the ``volatility_stddev`` feature definition
    (``Featurizer.run``)."""
    w = trailing_window(on, window, by)
    return df.withColumn(out, F.stddev_samp(value).over(w))


def pct_change(
    df: DataFrame,
    on: str = "timestamp",
    value: str = "mid_price",
    by: list[str] | str | None = None,
    window: str = "1m",
    out: str = "diff",
) -> DataFrame:
    """(last - first) / first over the trailing window (reference
    transforms/diff/diff.py:29-64). first/last are tie-broken by event
    time inside the frame, so the result is deterministic.

    A range frame, O(rows x frame_size): dense ticks take the O(rows)
    kernel of the ``diff`` feature definition (``Featurizer.run``)."""
    w = trailing_window(on, window, by)
    first = F.min_by(value, epoch_seconds(on)).over(w)
    last = F.max_by(value, epoch_seconds(on)).over(w)
    return df.withColumn(
        out, F.when(first != 0, (last - first) / first).otherwise(F.lit(None))
    )


def trailing_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    on: str = "timestamp",
    by: list[str] | str | None = None,
    window: str = "1m",
) -> DataFrame:
    """Generic trailing-window apply: attach arbitrary aggregate
    expressions evaluated over the trailing frame (library form of the
    reference's lookback_apply deque fold, stream_utils.py:31-39)."""
    w = trailing_window(on, window, by)
    return df.select("*", *[expr.over(w).alias(name) for name, expr in aggs.items()])


def local_extrema(
    df: DataFrame,
    on: str = "timestamp",
    value: str = "mid_price",
    by: list[str] | str | None = None,
) -> DataFrame:
    """3-point local min/max detection via lag/lead (the backtester
    strategy's signal, reference buy_low_sell_high.py:28-48)."""
    w = Window.partitionBy(*_by(by)).orderBy(epoch_seconds(on))
    prev, nxt = F.lag(value).over(w), F.lead(value).over(w)
    v = F.col(value)
    return df.withColumn(
        "is_local_min",
        (prev.isNotNull() & nxt.isNotNull() & (v < prev) & (v < nxt)),
    ).withColumn(
        "is_local_max",
        (prev.isNotNull() & nxt.isNotNull() & (v > prev) & (v > nxt)),
    )
