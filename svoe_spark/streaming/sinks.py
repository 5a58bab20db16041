"""Streaming sinks.

The reference's BlockWriter buffers live events, compacts to target-size
frames, writes Parquet and registers catalog rows
(block_writer.py:25-123, memory_based_compactor.py:11-49). Structured
Streaming's file sink + checkpoint does all of that natively — these are
thin policy wrappers.

A query these sinks start with a live trigger (the default, or
``processingTime``) keeps a new checkpoint's state in
``session.STREAM_STATE_PARTITIONS`` partitions; a drain (``availableNow``)
keeps the session's count (``session.bind_stream_session``).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from svoe_spark.functions.time import utc_day
from svoe_spark.session import bind_stream_session


def write_parquet_blocks(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = ("day",),
    ts_col: str = "ts",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Day-partitioned parquet block sink with exactly-once checkpointing
    (replaces S11/BlockWriter; partition path mirrors the reference's
    {day}/ layout, data_source_block_metadata.py:42-55); ``day`` is the
    UTC date, as in ``catalog.write_partitioned``."""
    out = df
    if "day" in partition_by and "day" not in df.columns:
        out = df.withColumn("day", utc_day(ts_col))
    writer = (
        bind_stream_session(out, trigger).writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_by)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def run_available_to_memory(
    df: DataFrame, name: str | None = None, output_mode: str = "append"
) -> DataFrame:
    """Drain a bounded stream (availableNow) into an in-memory table and
    return it as a batch DataFrame — the test/debug sink. Note append
    mode never emits windows the watermark hasn't passed (the stream's
    final buckets); use output_mode='complete' for full-history
    comparisons against batch."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def foreach_batch(df: DataFrame, fn, checkpoint: str, trigger: dict | None = None) -> StreamingQuery:
    """Consumer-callback sink (reference S10 sink(func) / backtester
    on_data_udf, strategy/base.py:51-57). Under a live trigger ``fn`` gets
    batches of the stream session, whose shuffles have
    ``session.STREAM_STATE_PARTITIONS`` partitions."""
    writer = bind_stream_session(df, trigger).writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
