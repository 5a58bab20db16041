"""The flagship end-to-end pipeline: the reference's minimum slice
(SURVEY §7.2) — per-instrument features + lookahead label, point-in-time
joined into a FeatureLabelSet (reference builder.py:302-330, README
quick-start) — driven through the Featurizer config API."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from svoe_spark.plans.featurizer import Featurizer
from svoe_spark.sources.tables import load_table
from svoe_spark.streaming.sinks import run_available_to_memory
from svoe_spark.streaming.sources import replay_parquet


def flagship_config(sf_dir: str) -> dict:
    return {
        "data_source": {
            "kind": "table",
            "table": "events",
            "sf_dir": sf_dir,
            "select": ["ts", "event_type", "value"],
        },
        "keys": ["event_type"],
        "features": [
            {"name": "mid", "feature_definition": "mid_price",
             "params": {"price_col": "value"}},
            {"name": "vol", "feature_definition": "volatility_stddev",
             "deps": ["mid"], "params": {"window": "1h"}},
            {"name": "mom", "feature_definition": "diff",
             "deps": ["mid"], "params": {"value_col": "mid_price", "window": "1h"}},
        ],
        "label_feature": "mid",
        "label_lookahead": "1h",
    }


def feature_label_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label rows = every event of its instrument stream; features =
    mid price, trailing volatility, momentum; label = mid 1h ahead."""
    return Featurizer(spark).run(flagship_config(sf_dir))


def flagship_streaming_scored(spark: SparkSession, sf_dir: str, workdir: str, model) -> DataFrame:
    """The Kappa ONLINE leg of the flagship, end to end at the product
    level (reference §3.2 online topology: feature streams -> streamz
    combine_latest -> served-model polling, feature_stream_graph.py +
    inference_loop.py), as ONE streaming query: the source replayed
    from ``workdir`` -> the per-event inference vector
    (``_online_vector``) -> the trained pyspark.ml model, scoring inside
    the stream (no RPC hop) -> drained. Returns one scored vector row
    per source event, columns ['event_type','ts','mid-mid_price',
    'vol-volatility','prediction'].

    Batch==stream equality on these columns is pinned by
    tests/test_streaming_flagship.py."""
    src_path = os.path.join(workdir, "source")
    # bounded replay fixture: one time-ordered file per key-preserving
    # in-order delivery (T5, the reference's input invariant)
    events = load_table(spark, "events", sf_dir).select("ts", "event_type", "value")
    events.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(src_path)
    vector = _online_vector(spark, flagship_config(sf_dir), replay_parquet(spark, src_path))
    return run_available_to_memory(model.transform(vector))


def _online_vector(spark: SparkSession, config: dict, source: DataFrame) -> DataFrame:
    """``run_stream`` of ``config``'s mid and vol over the streaming
    ``source``: one (key, 'ts', 'mid-mid_price', 'vol-volatility') row
    per event. vol is the key's last non-null volatility, as in the
    FeatureLabelSet: the step ``ewma`` at alpha 1 over vol outputs a
    non-null input as itself and a null one as the carried value."""
    config = {**config, "features": [f for f in config["features"] if f["name"] in ("mid", "vol")] + [
        {"name": "vol_last", "feature_definition": "ewma", "deps": ["vol"],
         "params": {"value_col": "volatility", "alpha": 1.0}},
    ]}
    return Featurizer(spark).run_stream(config, source).select(
        *config["keys"], "ts",
        F.col("mid_value").alias("mid-mid_price"), F.col("vol_last_value").alias("vol-volatility"),
    )
