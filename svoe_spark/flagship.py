"""The flagship end-to-end pipeline: the reference's minimum slice
(SURVEY §7.2) — per-instrument features + lookahead label, point-in-time
joined into a FeatureLabelSet (reference builder.py:302-330, README
quick-start) — driven through the Featurizer config API."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from svoe_spark.plans.featurizer import Featurizer


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


def flagship_streaming_scored(
    spark: SparkSession, sf_dir: str, workdir: str, model
) -> DataFrame:
    """The Kappa ONLINE leg of the flagship, end to end at the product
    level (reference §3.2 online topology: feature streams -> streamz
    combine_latest -> served-model polling, feature_stream_graph.py +
    inference_loop.py):

      1. the mid and trailing-volatility features run as their own
         stateful streaming query (``Featurizer.run_stream``),
         materialized through the exactly-once day-partitioned parquet
         block sink (S11);
      2. the mid stream (stateless projection of the replayed source)
         and the materialized vol stream are tagged, unioned, and fused
         into the per-event inference vector by the combine_latest
         state machine (J5) — same-instant rows apply in declared
         stream order, so the 'vol' row of each instant carries the
         complete vector;
      3. the trained pyspark.ml model scores INSIDE the stream (no RPC
         hop — model.transform works on streaming DataFrames).

    Spark allows one applyInPandasWithState per query, so step 1 and
    step 2 are separate queries stitched by the block sink — the same
    shape as the reference's per-feature actors feeding the combiner.
    Returns the drained result (bounded replay): one scored vector row
    per source event, columns ['event_type','ts','mid-mid_price',
    'vol-volatility','prediction'].

    Batch==stream equality on these columns is pinned by
    tests/test_streaming_flagship.py."""
    import os

    from pyspark.sql import functions as F

    from svoe_spark.sources.tables import load_table
    from svoe_spark.streaming.combine_stream import combine_latest_stream
    from svoe_spark.streaming.sinks import run_available_to_memory, write_parquet_blocks
    from svoe_spark.streaming.sources import replay_parquet

    src_path = os.path.join(workdir, "source")
    vol_path = os.path.join(workdir, "vol")
    ckpt = os.path.join(workdir, "ckpt_vol")

    # bounded replay fixture: one time-ordered file per key-preserving
    # in-order delivery (T5, the reference's input invariant)
    load_table(spark, "events", sf_dir).select(
        "ts", "event_type", "value"
    ).orderBy("ts").coalesce(1).write.mode("overwrite").parquet(src_path)

    # query 1: the stateful mid + vol features -> exactly-once parquet block sink
    config = flagship_config(sf_dir)
    config["features"] = [f for f in config["features"] if f["name"] in ("mid", "vol")]
    q = write_parquet_blocks(
        Featurizer(spark).run_stream(config, replay_parquet(spark, src_path)),
        path=vol_path,
        checkpoint=ckpt,
        trigger={"availableNow": True},
    )
    q.awaitTermination()

    # query 2: tag + union + combine_latest + in-stream scoring
    tag = lambda df, name, col: df.select(  # noqa: E731
        F.col("event_type").alias("symbol"),
        "ts",
        F.lit(name).alias("stream"),
        F.col(col).cast("double").alias("value"),
    )
    mid = tag(replay_parquet(spark, src_path), "mid", "value")
    vol = tag(replay_parquet(spark, vol_path), "vol", "vol_value")
    vector = combine_latest_stream(
        mid.unionByName(vol), streams=["mid", "vol"], key="symbol"
    )
    # the 'vol' row of each instant is the last applied -> complete vector
    complete = vector.filter(F.col("stream") == "vol").select(
        F.col("symbol").alias("event_type"),
        "ts",
        F.col("mid_value").alias("mid-mid_price"),
        F.col("vol_value").alias("vol-volatility"),
    )
    return run_available_to_memory(model.transform(complete))
