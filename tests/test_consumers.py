"""Backtester + trainer consumers over the sine FeatureLabelSet."""

import pytest
from pyspark.sql import functions as F

from svoe_spark.consumers.backtest import (
    SimConfig,
    run_backtest,
    run_backtest_time_split,
)
from svoe_spark.consumers.trainer import best_model, r2, score, time_split, train_regressor
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
    """Grid fan-out == N independent sequential runs, config for
    config — the reference's actor-per-config sweep
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

    got = {
        (r["config_id"], r["symbol"]): (
            r["n_trades"],
            r["final_balance"],
            r["final_equity"],
            r["total_commission"],
        )
        for r in run_backtest_grid(two, price_col="mid_price", grid=grid).collect()
    }
    assert got == want
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


def _noisy_frame(spark, rng, n, cols, start=0):
    """Seeded rows of standard-normal ``cols``, ``y`` = x0 plus noise,
    and a ``ts`` one second apart from ``start`` seconds after 2024-01-02."""
    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame(rng.normal(size=(n, len(cols))), columns=cols)
    pdf["y"] = pdf["x0"] + rng.normal(scale=2.0, size=n)
    pdf["ts"] = pd.Timestamp("2024-01-02") + pd.to_timedelta(start + np.arange(n), unit="s")
    return spark.createDataFrame(pdf)


def test_best_model_picks_the_grid_point_with_the_highest_valid_r2(spark):
    """On a seeded frame with more noise features than signal, the
    linear grid's three L2 points score differently on the validation
    split; ``best_model`` returns the first point with the highest r2,
    the same as fitting each point by hand."""
    import numpy as np
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    rng = np.random.default_rng(7)
    cols = [f"x{i}" for i in range(8)]
    train, valid = _noisy_frame(spark, rng, 24, cols), _noisy_frame(spark, rng, 200, cols)
    grid = [{"regParam": rp} for rp in (0.0, 0.01, 0.1)]
    by_hand = []
    for params in grid:
        stages = [VectorAssembler(inputCols=cols, outputCol="features"),
                  LinearRegression(featuresCol="features", labelCol="y", **params)]
        by_hand.append(r2(Pipeline(stages=stages).fit(train).transform(valid), "y"))
    best = int(np.argmax(by_hand))
    assert len(set(by_hand)) == len(grid)  # the grid matters on this frame
    model, info = best_model(train, valid, cols, "y")
    assert info == {"params": grid[best], "valid_r2": by_hand[best]}
    assert r2(model.transform(valid), "y") == by_hand[best]


def test_linear_fit_equals_linear_regression(spark):
    """The linear fit is ``LinearRegression``'s model at elasticNetParam
    0: the same coefficients and intercept, bit for bit, at each L2
    strength."""
    import numpy as np
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from svoe_spark.consumers.trainer import _fit

    cols = [f"x{i}" for i in range(4)]
    train = _noisy_frame(spark, np.random.default_rng(3), 300, cols)
    for rp in (0.0, 0.01, 0.1):
        got = _fit(train, cols, "y", "linear", regParam=rp).stages[-1]
        stages = [VectorAssembler(inputCols=cols, outputCol="features"),
                  LinearRegression(featuresCol="features", labelCol="y", regParam=rp)]
        want = Pipeline(stages=stages).fit(train).stages[-1]
        assert list(got.coefficients) == list(want.coefficients), rp
        assert got.intercept == want.intercept, rp


def test_linear_fit_is_one_spark_job(spark):
    """``train_regressor``'s linear fit runs one Spark job: the fit
    itself, with no eager training summary after it."""
    import numpy as np

    cols = ["x0", "x1"]
    train = _noisy_frame(spark, np.random.default_rng(5), 200, cols)
    sc = spark.sparkContext
    sc.setJobGroup("test_linear_fit_is_one_spark_job", "linear fit")
    try:
        train_regressor(train, cols, "y", kind="linear")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("test_linear_fit_is_one_spark_job")) == 1


def test_new_split_bounds_compile_no_new_code(spark):
    """Split, train and score over a second frame with other split
    bounds generate no new classes: the bounds reach generated code by
    reference, not in its source."""
    import numpy as np

    cols = ["x0", "x1"]
    rng = np.random.default_rng(9)
    frames = [_noisy_frame(spark, rng, 300, cols, start=s).persist() for s in (0, 5_000)]
    for f in frames:
        f.count()
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def request(df):
        train, _valid, test = time_split(df)
        model = train_regressor(train, cols, "y")
        return score(model, test).agg(F.count(F.lit(1)), F.sum("prediction")).first()

    try:
        request(frames[0])
        before = metric.getCount()
        assert request(frames[1])[0] > 0
        assert metric.getCount() - before == 0
    finally:
        for f in frames:
            f.unpersist()


def test_time_split_boundaries(spark):
    """Seeded event times with ties and one null: the three splits are
    disjoint, cover every row with an event time, follow each other in
    time, and a row at a bound's µs falls in the earlier split."""
    import numpy as np
    import pandas as pd

    from svoe_spark.functions.time import to_micros

    rng = np.random.default_rng(11)
    n = 500
    # 60 distinct instants a little over a second apart, each held by several rows
    us = np.sort(rng.integers(0, 60, n)) * 1_000_003
    pdf = pd.DataFrame({"id": np.arange(n), "ts": pd.Timestamp("2024-03-01") + pd.to_timedelta(us, unit="us")})
    pdf.loc[7, "ts"] = pd.NaT
    df = spark.createDataFrame(pdf)
    splits = time_split(df)
    ids = [{r["id"] for r in s.select("id").collect()} for s in splits]
    assert sum(map(len, ids)) == len(set().union(*ids))  # disjoint
    assert set().union(*ids) == set(range(n)) - {7}
    spans = [s.agg(F.min("ts"), F.max("ts")).first() for s in splits]
    assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:]))
    bounds = df.select(to_micros("ts").alias("e")).approxQuantile("e", [0.7, 0.85], 0.001)
    at = [{r["id"] for r in df.where(to_micros("ts") == int(b)).select("id").collect()} for b in bounds]
    assert at[0] and at[1] and at[0] <= ids[0] and at[1] <= ids[1]


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
