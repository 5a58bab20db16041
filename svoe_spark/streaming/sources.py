"""Streaming sources.

The reference's online path feeds exchange-websocket callbacks into
streamz graphs (reference: cryptofeed_event_emitter.py:21-80); its
offline replay merges stored blocks into a ts-ordered stream
(offline_feature_stream_generator.py:36-189). Structured Streaming
equivalents:

* live: any readStream source (kafka/socket/rate) shaped into the tick
  schema by the caller.
* replay: a parquet directory consumed with `availableNow` — identical
  code path to live, bounded input (the Kappa property, T6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def replay_parquet(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """Replay a stored parquet dataset as a bounded stream (use
    .trigger(availableNow=True) on the writer). Replaces the
    reference's threaded block loader + heap merge."""
    from svoe_spark.sources.tables import _nanos_columns

    if _nanos_columns(path):
        raise ValueError(
            "replay_parquet cannot stream a nanosecond-timestamp parquet "
            "dataset (structured streaming has no ns conversion path); "
            "materialize a microsecond copy first: "
            "sources.tables.read_parquet(spark, path).write.parquet(...)"
        )
    reader = spark.readStream
    if schema is None:
        schema = spark.read.parquet(path).schema
    return reader.schema(schema).parquet(path)
