"""Streaming combine_latest against its batch form."""

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.combine import combine_latest
from svoe_spark.sources.tables import load_table
from svoe_spark.streaming.combine_stream import combine_latest_stream
from svoe_spark.streaming.sinks import run_available_to_memory
from svoe_spark.streaming.sources import replay_parquet

pytestmark = pytest.mark.heavy  # multi-minute suite: deselected by the
# default `pytest tests/ -q` tier (pytest.ini); scripts/ptest.py shards and
# the round-close sweep run it



def test_combine_latest_stream_equals_batch(spark, sf_small, tmp_path):
    e = load_table(spark, "events", sf_small).filter(
        F.col("event_type").isin("view", "click")
    )
    tagged = e.select(
        F.col("user_id").cast("string").alias("symbol"),
        "ts",
        F.col("event_type").alias("stream"),
        "value",
    )
    path = str(tmp_path / "tagged")
    tagged.write.parquet(path)

    got = run_available_to_memory(
        combine_latest_stream(
            replay_parquet(spark, path), streams=["view", "click"]
        )
    )

    streams = {
        name: e.filter(F.col("event_type") == name).select(
            F.col("user_id").cast("string").alias("symbol"),
            "ts",
            F.col("value").alias(f"{name}_value"),
        )
        for name in ("view", "click")
    }
    want = combine_latest(
        {n: df for n, df in streams.items()}, on="ts", by="symbol"
    )
    g = {
        (r["symbol"], r["ts"]): (r["view_value"], r["click_value"])
        for r in got.collect()
    }
    w = {
        (r["symbol"], r["ts"]): (r["view-view_value"], r["click-click_value"])
        for r in want.collect()
    }
    assert g == w and len(g) > 0
