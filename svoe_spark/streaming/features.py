"""Streaming trailing stddev, a one-feature plan of the fused operator.

Per-event trailing features (reference T1 `accumulate` state machines)
can't use analytic range frames in a stream; they become
`applyInPandasWithState` with a bounded per-key lookback buffer — the
Spark-native form of the reference's deque state (stream_utils.py:31-39,
trade_volume_imb_fd.py:22-27). The trailing stddev here is the fused
operator of streaming.feature_vector over a ``volatility_stddev`` plan:
the shared kernel `streaming.kernels.trailing_stddev`, whose carried
state is that buffer — the non-null (ts ns, value) events within the
window of the key's latest event. Every built-in feature definition streams
through ``Featurizer.run_stream`` on the same operator.

Lateness (T5): the reference assumes strictly ordered input
(sorted-block invariant), and so do the kernels; an event-time
watermark on the plan is not built yet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from svoe_spark.plans.definitions import KernelStep, MidPrice, VolatilityStddev
from svoe_spark.streaming.feature_vector import feature_vector_stream


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
