"""Streaming variants of the feature operators.

Window-bucket aggregates translate directly (groupBy(window) +
watermark). Per-event trailing features (reference T1 `accumulate`
state machines) can't use analytic range frames in a stream; they
become `applyInPandasWithState` with a bounded per-key lookback buffer
— the Spark-native form of the reference's deque state
(stream_utils.py:31-39, trade_volume_imb_fd.py:22-27). The trailing
stddev here is the fused operator of streaming.feature_vector over a
``volatility_stddev`` plan: the shared kernel
`streaming.kernels.trailing_stddev`, whose carried state is that buffer
— the non-null (ts ns, value) events within the window of the key's
latest event.

Watermark policy (T5): the reference assumes strictly ordered input
(sorted-block invariant); we default to a small configurable watermark
and document that 0 reproduces reference semantics for ordered feeds.
Note Spark's watermark lags one micro-batch (the watermark used in
batch N derives from batch N-1's max event time), so a late row is only
dropped once its window was finalized in an EARLIER batch — see
tests/test_skew_combine.py::test_watermark_drops_late_data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from svoe_spark.functions.time import duration_to_interval_string
from svoe_spark.plans.definitions import KernelStep, MidPrice, VolatilityStddev
from svoe_spark.streaming.feature_vector import feature_vector_stream


def ohlcv_stream(
    df: DataFrame,
    on: str = "ts",
    price: str = "price",
    amount: str = "amount",
    by: list[str] | str | None = None,
    window: str = "1m",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming OHLCV: watermarked tumbling window, one closed row per
    bucket (reference A1 emits on first event past the window end; the
    watermark generalizes that to bounded disorder)."""
    keys = [by] if isinstance(by, str) else list(by or [])
    w = F.window(on, duration_to_interval_string(window))
    wm = df.withWatermark(on, watermark)
    epoch = F.col(on).cast("double")
    return (
        wm.groupBy(*keys, w.alias("w"))
        .agg(
            F.min_by(price, epoch).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, epoch).alias("close"),
            F.sum(amount).alias("volume"),
            F.when(
                F.sum(amount) != 0,
                F.sum(F.col(price) * F.col(amount)) / F.sum(amount),
            ).alias("vwap"),
            F.count(F.lit(1)).alias("num_trades"),
        )
        .select(*keys, F.col("w.start").alias("window_start"), "open", "high",
                "low", "close", "volume", "vwap", "num_trades")
    )


def trailing_stddev_stream(
    df: DataFrame,
    on: str = "ts",
    value: str = "price",
    by: str = "symbol",
    window: str = "1m",
) -> DataFrame:
    """Per-event trailing stddev on a stream (reference T1/A2,
    volatility_stddev_fd.py:30-56), as the module docstring describes.
    Assumes per-key event-time order within and across batches for
    exact parity with the batch window form (the reference's stated
    input invariant)."""
    # mid_price of one column passes it through: the value itself
    plan = [KernelStep("value", MidPrice, {}, [value]),
            KernelStep("volatility", VolatilityStddev, {"window": window}, [value])]
    return feature_vector_stream(df, plan, key=by, on=on).select(
        by,
        on,
        F.col("value_value").cast(df.schema[value].dataType).alias(value),
        F.col("volatility_value").alias("volatility"),
    )
