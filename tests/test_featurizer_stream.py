"""Kappa online path: Featurizer.run_stream (fused per-key feature
state machine) over a replayed source equals the batch features at
every event time."""

import math

import pytest
from pyspark.sql import functions as F

from svoe_spark.plans.featurizer import Featurizer, FeaturizerConfig
from svoe_spark.sources.tables import load_table
from svoe_spark.streaming.sinks import run_available_to_memory
from svoe_spark.streaming.sources import replay_parquet

CFG = {
    "data_source": {"kind": "table", "table": "events", "sf_dir": "unused"},
    "keys": ["event_type"],
    "features": [
        {"name": "mid", "feature_definition": "mid_price",
         "params": {"price_col": "value"}},
        {"name": "vol", "feature_definition": "volatility_stddev",
         "deps": ["mid"], "params": {"window": "1h"}},
    ],
}


def test_run_stream_equals_batch(spark, sf_small, tmp_path):
    src = load_table(spark, "events", sf_small).select("ts", "event_type", "value")
    path = str(tmp_path / "src")
    src.write.parquet(path)

    fz = Featurizer(spark)
    out = run_available_to_memory(fz.run_stream(CFG, replay_parquet(spark, path)))
    got = {
        (r["event_type"], r["ts"]): (r["mid_value"], r["vol_value"])
        for r in out.collect()
    }

    feats = fz.build_features(
        FeaturizerConfig.load(
            {**CFG, "data_source": {"kind": "table", "table": "events",
                                    "sf_dir": sf_small,
                                    "select": ["ts", "event_type", "value"]}}
        )
    )
    mid = feats["mid"][1]
    vol = feats["vol"][1]
    want = {
        (r["event_type"], r["ts"]): (r["mid_price"], r["volatility"])
        for r in mid.join(vol, on=["event_type", "ts"]).collect()
    }

    assert set(got) == set(want) and len(got) == 1000
    for k, (gm, gv) in got.items():
        wm, wv = want[k]
        assert gm == wm, k
        if wv is None:
            assert gv is None or math.isnan(gv), k
        else:
            assert gv == pytest.approx(wv, rel=1e-9), k


def test_ewma_batch_equals_stream(spark, sf_small, tmp_path):
    """Kappa for EWMA: batch applyInPandas recursion == fused stream."""
    cfg = {**CFG, "features": CFG["features"][:1] + [
        {"name": "trend", "feature_definition": "ewma",
         "deps": ["mid"], "params": {"alpha": 0.25, "value_col": "mid_price"}}
    ]}
    src = load_table(spark, "events", sf_small).select("ts", "event_type", "value")
    path = str(tmp_path / "src3")
    src.write.parquet(path)

    fz = Featurizer(spark)
    got = {
        (r["event_type"], r["ts"]): r["trend_value"]
        for r in run_available_to_memory(
            fz.run_stream(cfg, replay_parquet(spark, path))
        ).collect()
    }
    feats = fz.build_features(
        FeaturizerConfig.load(
            {**cfg, "data_source": {"kind": "table", "table": "events",
                                    "sf_dir": sf_small,
                                    "select": ["ts", "event_type", "value"]}}
        )
    )
    want = {
        (r["event_type"], r["ts"]): r["ewma"] for r in feats["trend"][1].collect()
    }
    assert set(got) == set(want) and len(got) == 1000
    for k, gv in got.items():
        assert gv == pytest.approx(want[k], rel=1e-12), k


def test_run_stream_rejects_unfusable_feature(spark, sf_small, tmp_path):
    cfg = {**CFG, "features": CFG["features"] + [
        {"name": "bars", "feature_definition": "ohlcv", "params": {}}
    ]}
    src = load_table(spark, "events", sf_small).select("ts", "event_type", "value")
    path = str(tmp_path / "src2")
    src.write.parquet(path)
    with pytest.raises(ValueError, match="no fused streaming form"):
        Featurizer(spark).run_stream(cfg, replay_parquet(spark, path))


def test_run_stream_equals_batch_with_null_bids(spark, tmp_path):
    """Null feature values: stream stddev skips a null mid as batch
    stddev_samp does, and stream ewma carries through it as batch
    pandas ewm does — across several micro-batches."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    n = 480
    sym = rng.choice(["A", "B", "C", "D"], n)
    # distinct stamps on a 100 ms grid (the order of equal-ts peers,
    # and so their ewma, is arbitrary in either path)
    ms = np.sort(rng.choice(np.arange(2400), n, replace=False)) * 100
    bid = 100.0 + np.cumsum(rng.normal(0, 0.2, n))
    ask = bid + rng.uniform(0.01, 0.05, n)
    bid_null = rng.random(n) < 0.2
    path = tmp_path / "quotes"
    path.mkdir()
    # one file per 30 s of event time, mtimes in time order: one
    # micro-batch each under maxFilesPerTrigger=1
    for j, t0 in enumerate(range(0, 240_000, 30_000)):
        m = (ms >= t0) & (ms < t0 + 30_000)
        table = pa.table({
            "ts": pa.array(ms[m].astype("int64") * 1_000, pa.timestamp("us")),
            "symbol": pa.array(sym[m]),
            "bid": pa.array(bid[m], mask=bid_null[m]),
            "ask": pa.array(ask[m]),
        })
        f = path / f"part-{j:03d}.parquet"
        pq.write_table(table, f)
        os.utime(f, (1_000_000 + j, 1_000_000 + j))

    cfg = {
        "data_source": {"kind": "parquet", "path": str(path)},
        "keys": ["symbol"],
        "features": [
            {"name": "mid", "feature_definition": "mid_price"},
            {"name": "vol", "feature_definition": "volatility_stddev",
             "deps": ["mid"], "params": {"window": "20s"}},
            {"name": "trend", "feature_definition": "ewma", "deps": ["mid"],
             "params": {"alpha": 0.3, "value_col": "mid_price"}},
        ],
    }
    fz = Featurizer(spark)
    stream = (
        spark.readStream.schema(spark.read.parquet(str(path)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(path))
    )
    got = {
        (r["symbol"], r["ts"]): (r["mid_value"], r["vol_value"], r["trend_value"])
        for r in run_available_to_memory(fz.run_stream(cfg, stream)).collect()
    }
    feats = fz.build_features(FeaturizerConfig.load(cfg))
    want = {
        (r["symbol"], r["ts"]): (r["mid_price"], r["volatility"], r["ewma"])
        for r in feats["mid"][1]
        .join(feats["vol"][1], on=["symbol", "ts"])
        .join(feats["trend"][1], on=["symbol", "ts"])
        .collect()
    }
    assert set(got) == set(want) and len(got) == n

    def same(g, w, rel):
        if w is None or (isinstance(w, float) and math.isnan(w)):
            return g is None or math.isnan(g)
        return g is not None and g == pytest.approx(w, rel=rel)

    n_null_mid = n_vol_at_null = 0
    for k, (gm, gv, ge) in got.items():
        wm, wv, we = want[k]
        assert gm == wm, k
        assert same(gv, wv, 1e-9), (k, gv, wv)
        assert same(ge, we, 1e-12), (k, ge, we)
        n_null_mid += wm is None
        n_vol_at_null += wm is None and wv is not None
    # the fixture really exercises nulls inside populated windows
    assert n_null_mid > 10 and n_vol_at_null > 5
