"""Time-hierarchy rollups with incremental (hypertable-style) refresh.

A rollup store keeps bars at a coarse granularity (e.g. 1h) derived
from raw ticks or finer bars (1m). Recomputing the whole history per
new batch is the 100 TB anti-pattern; the fix is the standard
incremental-materialized-view design:

* bars carry ASSOCIATIVE components — (open, open_key), (close,
  close_key), high, low, and additive sums — so coarse bars combine
  from fine bars (or yesterday's bar + today's delta) without touching
  raw data again;
* the store is parquet partitioned by day, so a refresh overwrites
  ONLY the day partitions the new batch touches (Spark dynamic
  partition overwrite), and readers partition-prune.

The reference materializes per-block feature results keyed by range
(featurizer/storage — data_store_adapter.py) but always recomputes
blocks wholesale; the incremental merge is the Spark-native upgrade.
Derived scalars (vwap) are NOT stored — they are views over the
additive components, computed at read time (`finish_bars`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from svoe_spark.functions.time import bucket_start

#: associative bar schema produced by `bars_from_ticks` / merged by
#: `combine_bars`: open/close travel with their arg keys so the merge
#: is order-independent.
BAR_COLS = [
    "open",
    "open_key",
    "high",
    "low",
    "close",
    "close_key",
    "volume",
    "sum_pq_c",
    "num_trades",
]


def bars_from_ticks(
    ticks: DataFrame,
    window: str = "1m",
    on: str = "ts",
    key: str = "event_type",
    price: str = "value",
    price_c: str = "value_c",
    amount: str = "qty",
    seq: str = "event_id",
) -> DataFrame:
    """Aggregate raw ticks into associative bars at ``window``
    granularity. ``seq`` must be monotone with event time (the open/
    close arg key — reference ohlcv_fd.py:28-101 picks by arrival
    order). ``price_c`` is the integer-cents price used for the
    additive vwap numerator, keeping every stored component exactly
    summable (no float reassociation across merges). One
    partial-aggregated shuffle."""
    return ticks.groupBy(
        key, bucket_start(on, window).alias("window_start")
    ).agg(
        F.min_by(price, F.col(seq)).alias("open"),
        F.min(seq).alias("open_key"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        F.max_by(price, F.col(seq)).alias("close"),
        F.max(seq).alias("close_key"),
        F.sum(amount).alias("volume"),
        F.sum(F.col(price_c) * F.col(amount)).alias("sum_pq_c"),
        F.count(F.lit(1)).alias("num_trades"),
    )


def rollup_bars(
    bars: DataFrame, window: str = "1h", key: str = "event_type"
) -> DataFrame:
    """Roll associative bars up to a coarser granularity — the same
    combine as `combine_bars` but re-bucketing window_start. Correct
    because every component is associative: min_by(open, open_key)
    over fine bars equals the tick-level arg-pick (open_key is the
    min seq of the fine bar, and seq is monotone with time)."""
    return _combine(
        bars.withColumn(
            "window_start", bucket_start("window_start", window)
        ),
        key,
    )


def combine_bars(
    existing: DataFrame, delta: DataFrame, key: str = "event_type"
) -> DataFrame:
    """Merge two bar relations at the SAME granularity (yesterday's
    store + today's delta): one groupBy over the union. Associativity
    makes the merge insensitive to how history was batched."""
    return _combine(existing.unionByName(delta), key)


def _combine(bars: DataFrame, key: str) -> DataFrame:
    return bars.groupBy(key, "window_start").agg(
        F.min_by("open", F.col("open_key")).alias("open"),
        F.min("open_key").alias("open_key"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", F.col("close_key")).alias("close"),
        F.max("close_key").alias("close_key"),
        F.sum("volume").alias("volume"),
        F.sum("sum_pq_c").alias("sum_pq_c"),
        F.sum("num_trades").alias("num_trades"),
    )


def finish_bars(bars: DataFrame) -> DataFrame:
    """Read-time view over the associative store: derive vwap from the
    exact integer components and drop the merge keys."""
    return bars.select(
        *[c for c in bars.columns if c not in ("open_key", "close_key", "sum_pq_c")],
        F.when(
            F.col("volume") != 0,
            F.col("sum_pq_c").cast("bigint") / (100.0 * F.col("volume")),
        ).alias("vwap"),
    )


class RollupStore:
    """Day-partitioned parquet store of associative bars with
    incremental refresh (hypertable-style continuous aggregate).

    `refresh(new_ticks)` computes delta bars for the new batch only,
    reads back JUST the day partitions the delta touches (partition-
    pruned scan), merges, and rewrites ONLY those partitions via
    dynamic partition overwrite — cost proportional to the touched
    time range, never to history. At 100 TB the day directory is the
    unit of both pruning and rewrite."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        window: str = "1h",
        key: str = "event_type",
    ) -> None:
        self.spark = spark
        self.path = path
        self.window = window
        self.key = key

    def _with_day(self, bars: DataFrame) -> DataFrame:
        return bars.withColumn("day", F.to_date("window_start"))

    def _read_days(self, day_vals: list) -> DataFrame:
        """Partition-pruned read of the touched day partitions — date
        literals (not strings) keep the filter type-exact so the scan
        prunes instead of reading the whole store. This is THE
        incremental read refresh() uses; the plan gate asserts its
        PartitionFilters directly."""
        return self.spark.read.parquet(self.path).where(
            F.col("day").isin(day_vals)
        )

    def refresh(
        self, new_ticks: DataFrame, batch_id: int | None = None
    ) -> list[str]:
        """Incorporate a batch of raw ticks; returns the ISO days
        rewritten.

        The persist/stamp-skip/pruned-read/dynamic-overwrite skeleton
        is the shared `util.refresh_partitions` (same implementation
        SCD2Store uses; the per-day batch stamp described there closes
        the crash window between a partition swap and the commit-log
        append — a replayed batch re-merges only the days the crashed
        attempt had not yet swapped, so at-least-once delivery never
        double-counts). Only the merge differs: the additive
        `combine_bars` algebra over the bar columns."""
        from svoe_spark.operators.util import refresh_partitions

        delta = self._with_day(
            rollup_bars(
                bars_from_ticks(new_ticks, window="1m", key=self.key),
                window=self.window,
                key=self.key,
            )
        )

        def merge(existing: DataFrame | None, delta_part: DataFrame) -> DataFrame:
            if existing is None:
                return delta_part
            return self._with_day(
                combine_bars(
                    existing.drop("day", "last_batch"),
                    delta_part.drop("day", "last_batch"),
                    key=self.key,
                )
            )

        touched = refresh_partitions(
            self.spark, self.path, delta, "day", merge, batch_id=batch_id
        )
        return sorted(str(d) for d in touched)

    def read(self) -> DataFrame:
        """Finished (vwap-derived) view of the store."""
        return finish_bars(
            self.spark.read.parquet(self.path).drop("day", "last_batch")
        )

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        """Idempotent refresh for at-least-once callers (foreachBatch).
        Two guards layered: the ``<path>._commits`` log short-circuits
        batches known complete (fast path), and `refresh`'s per-
        partition batch stamp closes the crash window BETWEEN the data
        write and the log append — a replayed batch re-merges only the
        days the crashed attempt had not yet swapped. Returns whether
        any data work was done. Store paths may be driver-local or any
        Hadoop filesystem (``util.read_commit_log``/``append_commit``)."""
        from svoe_spark.operators.util import apply_commit_batch

        return apply_commit_batch(
            self.spark,
            self.path,
            batch_id,
            lambda: self.refresh(batch_df, batch_id=batch_id),
        )
