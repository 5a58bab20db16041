"""Backtester + trainer consumers over the sine FeatureLabelSet."""

import pytest
from pyspark.sql import functions as F

from svoe_spark.consumers.backtest import (
    SimConfig,
    run_backtest,
    run_backtest_time_split,
)
from svoe_spark.consumers.trainer import r2, score, time_split, train_regressor
from svoe_spark.plans.featurizer import Featurizer
from svoe_spark.sources.synthetic import sine_mid_price


@pytest.fixture(scope="module")
def sine_df(spark):
    # slow sine (freq in cycles/sec of index time) -> clean local extrema
    return sine_mid_price(
        spark, 0.0, 2000.0, step=1.0, amplitude=100.0, mean=1000.0,
        freq=0.01, keys={"symbol": "SYN"},
    )


def test_backtest_buy_low_sell_high_profits_on_sine(spark, sine_df):
    res = run_backtest(sine_df, price_col="mid_price", cfg=SimConfig()).collect()
    assert len(res) == 1
    r = res[0]
    assert r["n_events"] == 2000
    assert r["n_trades"] > 10
    # buying every trough and selling every crest of a clean sine wave
    # must beat commissions
    assert r["final_equity"] > 10_000.0
    assert r["total_commission"] > 0


@pytest.mark.filterwarnings("error::UserWarning")  # e.g. "Cannot infer the eval type"
def test_backtest_time_split(spark, sine_df):
    res = run_backtest_time_split(sine_df, price_col="mid_price", n_splits=4).collect()
    assert len(res) == 4
    assert {r["window"] for r in res} == {0, 1, 2, 3}
    assert sum(r["n_events"] for r in res) == 2000
    assert all(r["final_equity"] > 10_000.0 for r in res)


@pytest.mark.filterwarnings("error::UserWarning")  # e.g. "Cannot infer the eval type"
def test_backtest_param_grid_equals_sequential_runs(spark, sine_df):
    """Grid fan-out (both physical modes) == N independent sequential
    runs, config for config — the reference's actor-per-config sweep
    (backtester/runner.py:132-180) without the approximation drift."""
    from svoe_spark.consumers.backtest import run_backtest_grid

    grid = [
        SimConfig(commission=0.001, position_size=1.0),
        SimConfig(commission=0.01, position_size=1.0),
        SimConfig(commission=0.001, position_size=3.0),
        SimConfig(initial_balance=5000.0, commission=0.0, position_size=2.0),
    ]
    # two symbols so the grid crosses instruments too
    two = sine_df.unionByName(
        sine_df.withColumn("symbol", F.lit("SYN2")).withColumn(
            "mid_price", F.col("mid_price") * 1.5
        )
    )

    want = {}
    for cid, cfg in enumerate(grid):
        for r in run_backtest(two, price_col="mid_price", cfg=cfg).collect():
            want[(cid, r["symbol"])] = (
                r["n_trades"],
                r["final_balance"],
                r["final_equity"],
                r["total_commission"],
            )

    for mode in ("replicate", "loop"):
        got = {
            (r["config_id"], r["symbol"]): (
                r["n_trades"],
                r["final_balance"],
                r["final_equity"],
                r["total_commission"],
            )
            for r in run_backtest_grid(
                two, price_col="mid_price", grid=grid, mode=mode
            ).collect()
        }
        assert got == want, mode
        assert len(got) == len(grid) * 2

    # param columns ride along for downstream best-config selection
    row = run_backtest_grid(two, "mid_price", grid=grid).filter(
        F.col("config_id") == 3
    ).first()
    assert row["initial_balance"] == 5000.0 and row["position_size"] == 2.0

    with pytest.raises(ValueError, match="empty"):
        run_backtest_grid(two, "mid_price", grid=[])


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_trainer_end_to_end(spark):
    cfg = {
        "data_source": {
            "kind": "sine", "start_ts": 0.0, "end_ts": 3000.0, "step": 1.0,
            "amplitude": 100.0, "mean": 1000.0, "freq": 0.002,
            "keys": {"symbol": "SYN"},
        },
        "keys": ["symbol"],
        "features": [
            {"name": "mid", "feature_definition": "mid_price",
             "params": {"price_col": "mid_price"}},
            {"name": "mom", "feature_definition": "diff",
             "deps": ["mid"], "params": {"value_col": "mid_price", "window": "60s"}},
        ],
        "label_feature": "mid",
        "label_lookahead": "10s",
    }
    fls = Featurizer(spark).run(cfg)
    train, valid, test = time_split(fls, (0.7, 0.15, 0.15))
    n_tr, n_va, n_te = train.count(), valid.count(), test.count()
    assert n_tr + n_va + n_te == fls.count()
    assert n_tr > n_va and n_tr > n_te
    # chronological: max(train.ts) <= min(test.ts)
    assert (
        train.agg(F.max("ts")).first()[0] <= test.agg(F.min("ts")).first()[0]
    )

    feature_cols = ["mid-mid_price", "mom-diff"]
    label = "label_mid-mid_price"
    model = train_regressor(train, feature_cols, label)
    scored = score(model, test.na.drop(subset=feature_cols + [label]))
    # a smooth sine is highly predictable from level+momentum
    assert r2(scored, label) > 0.9


@pytest.mark.heavy  # round-10 quick-tier trim (slowest cases -> sharded tier)
def test_in_stream_inference(spark, tmp_path):
    """The reference's online inference loop polls an HTTP-served model
    (inference_loop.py:16-71); here the fitted model scores INSIDE the
    stream — train batch, score a replayed stream, compare to batch
    scoring of the same rows."""
    from svoe_spark.streaming.sinks import run_available_to_memory
    from svoe_spark.streaming.sources import replay_parquet

    base = sine_mid_price(
        spark, 0.0, 500.0, step=1.0, amplitude=100.0, mean=1000.0,
        freq=0.01, keys={"symbol": "SYN"},
    ).withColumn("lagged", F.col("mid_price") * 0.5)
    model = train_regressor(base, ["lagged"], "mid_price")

    path = str(tmp_path / "stream_in")
    base.write.parquet(path)
    stream_scored = score(model, replay_parquet(spark, path))
    got = run_available_to_memory(stream_scored.select("ts", "prediction"))
    want = score(model, base).select("ts", "prediction")
    g = {r["ts"]: r["prediction"] for r in got.collect()}
    w = {r["ts"]: r["prediction"] for r in want.collect()}
    assert g == w and len(g) == 500
