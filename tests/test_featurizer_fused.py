"""Featurizer.run's fused pass (every kernel feature and the label in one
grouped map) against the as-of path it replaced and against an
independent pandas merge_asof reference."""

import contextlib
import io
import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from svoe_spark.operators.asof import asof_join_multi, lookahead_shift
from test_definition_loading import USER_FD
from svoe_spark.plans.featurizer import Featurizer, FeaturizerConfig

WINDOW_S, LOOKAHEAD_S, ALPHA = 20.0, 5.0, 0.2
FEATURES = [
    {"name": "mid", "feature_definition": "mid_price"},
    {"name": "spr", "feature_definition": "relative_spread"},
    {"name": "vol", "feature_definition": "volatility_stddev", "deps": ["mid"],
     "params": {"window": f"{WINDOW_S:g}s"}},
    {"name": "mom", "feature_definition": "diff", "deps": ["mid"],
     "params": {"window": f"{WINDOW_S:g}s", "value_col": "mid_price"}},
    {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
     "params": {"value_col": "mid_price", "alpha": ALPHA}},
]
COLS = ["label_mid-mid_price", "mid-mid_price", "spr-spread", "vol-volatility",
        "mom-diff", "ew-ewma"]
BARS = {"name": "bars", "feature_definition": "ohlcv", "params": {"window": "15s"}}
BAR_COLS = [f"bars-{c}" for c in ("open", "high", "low", "close", "volume", "vwap", "num_trades")]
T0 = pd.Timestamp("2024-01-02 00:00:00")


def _config(path, keys, features=FEATURES, **extra):
    return {
        "data_source": {"kind": "parquet", "path": path},
        "keys": keys,
        "features": features,
        "label_feature": "mid",
        "label_lookahead": f"{LOOKAHEAD_S:g}s",
        **extra,
    }


def _write(pdf: pd.DataFrame, path: str) -> str:
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table.cast(pa.schema(
        [pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
         for f in table.schema]
    )), path)
    return path


def _series(rng, n):
    """n sorted event times (µs offsets, gaps 0.1-3 s) and a random-walk
    bid/ask around 100."""
    gaps = rng.integers(100_000, 3_000_000, n)
    ts = T0 + pd.to_timedelta(np.cumsum(gaps), unit="us")
    bid = 100 + np.cumsum(rng.normal(0, 0.05, n))
    return ts, bid, bid + rng.uniform(0.01, 0.1, n)


def _old_run(spark, config):
    """The as-of composition Featurizer.run used before the fused pass:
    every feature's own frame, lookahead_shift for the label, one
    asof_join_multi."""
    cfg = FeaturizerConfig.load(config)
    feats = Featurizer(spark).build_features(cfg)
    mid = feats["mid"][1]
    labels = lookahead_shift(
        mid, cfg.label_lookahead, on="ts", by=cfg.keys, value_cols=["mid_price"],
        prefix="label_mid-",
    ).select(*cfg.keys, "ts", "label_mid-mid_price")
    return asof_join_multi(
        labels, {f"{n}-": df for n, (_, df) in feats.items()}, on="ts", by=cfg.keys
    )


def _nan_cells(df) -> int:
    doubles = [f.name for f in df.schema if isinstance(f.dataType, DoubleType)]
    return df.select(
        sum(F.sum(F.isnan(F.col(c)).cast("int")) for c in doubles).alias("n")
    ).first()["n"] or 0


@pytest.fixture(scope="module")
def mixed_quotes(tmp_path_factory):
    """Two key columns; 20% null bids; one key whose bids are all null;
    two single-row keys; ~10% of rows duplicated at the same ts."""
    rng = np.random.default_rng(11)
    parts = []
    for venue, sym, n in [("X", "A", 300), ("X", "B", 120), ("Y", "A", 200),
                          ("Y", "N", 80), ("Y", "S1", 1), ("Z", "S2", 1)]:
        ts, bid, ask = _series(rng, n)
        bid = np.where(rng.random(n) < 0.2, np.nan, bid)
        if sym == "N":
            bid[:] = np.nan
        parts.append(pd.DataFrame(
            {"venue": venue, "sym": sym, "ts": ts, "bid": bid, "ask": ask}
        ))
    q = pd.concat(parts, ignore_index=True)
    # equal-ts peers repeat their row's quote: the old path's order among
    # peers is unspecified, so peers with different quotes would make its
    # ewma and pct-change depend on that order
    q = pd.concat([q, q.sample(frac=0.1, random_state=3)], ignore_index=True)
    return _write(q.sample(frac=1.0, random_state=4),
                  str(tmp_path_factory.mktemp("fused") / "quotes.parquet"))


def test_run_equals_old_asof_path(spark, mixed_quotes):
    keys = ["venue", "sym"]
    cfg = _config(mixed_quotes, keys)
    new_df = Featurizer(spark).run(cfg)
    old_df = _old_run(spark, cfg)
    assert new_df.schema == old_df.schema
    assert _nan_cells(new_df) == 0

    new = new_df.toPandas().sort_values([*keys, "ts"], kind="stable")
    old = old_df.toPandas().sort_values([*keys, "ts"], kind="stable")
    assert len(new) == len(old) > 500
    assert (new[[*keys, "ts"]].to_numpy() == old[[*keys, "ts"]].to_numpy()).all()

    peer = new.duplicated([*keys, "ts"], keep=False).to_numpy()
    assert peer.sum() > 20
    # every row of one (key, ts) carries the same values
    spread = new[peer].groupby([*keys, "ts"])[COLS].nunique(dropna=False)
    assert (spread == 1).all().all()

    for c in COLS:
        a, b = new[c].to_numpy(dtype=float), old[c].to_numpy(dtype=float)
        rows = ~peer if c != "vol-volatility" else slice(None)
        assert (np.isnan(a[rows]) == np.isnan(b[rows])).all(), c
        np.testing.assert_allclose(a[rows], b[rows], rtol=1e-9, equal_nan=True, err_msg=c)
    # the all-null key keeps its rows, with nulls
    n = new[new["sym"] == "N"]
    assert len(n) > 50 and n[["mid-mid_price", "label_mid-mid_price", "ew-ewma"]].isna().all().all()
    # single-row keys: their lookahead passes their last event
    assert not new["sym"].isin(["S1", "S2"]).any()


def _bars(q: pd.DataFrame) -> pd.DataFrame:
    """``BARS`` by pandas: ``groupby`` 15 s bucket bars of the trades
    (null-free, unique ts) stamped at the bucket end."""
    g = q.assign(pa=q["price"] * q["amount"]).groupby(q["ts"].dt.floor("15s"))
    bars = pd.DataFrame({"open": g["price"].first(), "high": g["price"].max(),
                         "low": g["price"].min(), "close": g["price"].last(),
                         "volume": g["amount"].sum(), "vwap": g["pa"].sum() / g["amount"].sum(),
                         "num_trades": g.size().astype(float)})
    bars.index = bars.index + pd.Timedelta(seconds=15)
    return bars.add_prefix("bars-").rename_axis("ts").reset_index()


def _reference(q: pd.DataFrame) -> pd.DataFrame:
    """One key's FLS as a chain of pandas merge_asof (unique ts)."""
    q = q.sort_values("ts").reset_index(drop=True)
    ts = q["ts"]
    t_us = ts.to_numpy("datetime64[us]").astype(np.int64)
    lo = np.searchsorted(t_us, t_us - int(WINDOW_S * 1e6), side="left")
    mid = ((q["bid"] + q["ask"]) / 2).to_numpy()
    sides = {
        "mid-mid_price": mid,
        "spr-spread": (2.0 * (q["bid"] - q["ask"]).abs() / (q["bid"] + q["ask"])).to_numpy(),
        "vol-volatility": np.array(
            [mid[a:i + 1].std(ddof=1) if i > a else np.nan for i, a in enumerate(lo)]
        ),
        "mom-diff": (mid - mid[lo]) / mid[lo],
        "ew-ewma": pd.Series(mid).ewm(alpha=ALPHA, adjust=False).mean().to_numpy(),
        "dbl-doubled": 2 * mid,
    }
    ahead = pd.DataFrame({"ts": ts - pd.Timedelta(seconds=LOOKAHEAD_S),
                          "label_mid-mid_price": mid})
    out = pd.merge_asof(ts.to_frame(), ahead, on="ts", direction="backward")
    out = out[out["ts"] + pd.Timedelta(seconds=LOOKAHEAD_S) <= ts.iloc[-1]]
    for name, values in sides.items():
        out = pd.merge_asof(out, pd.DataFrame({"ts": ts, name: values}), on="ts",
                            direction="backward")
    out = pd.merge_asof(out, _bars(q), on="ts", direction="backward")
    return out.reset_index(drop=True)


@pytest.mark.parametrize("mixed", [False, True], ids=["kernels", "with_user_definition"])
def test_run_equals_merge_asof_reference(spark, tmp_path, mixed):
    """Null-free, unique-ts quotes and trades: the fused FLS, alone and
    with a user definition joined through the as-of fallback, equals the
    reference, ohlcv bars included."""
    rng = np.random.default_rng(5)
    parts = []
    for inst, n in [("I0", 400), ("I1", 150), ("I2", 60)]:
        ts, bid, ask = _series(rng, n)
        parts.append(pd.DataFrame({"instrument": inst, "ts": ts, "bid": bid, "ask": ask}))
    q = pd.concat(parts, ignore_index=True)
    trade_rng = np.random.default_rng(6)
    q["price"] = q["ask"].round(2)
    q["amount"] = trade_rng.uniform(1, 5, len(q)).round(3)
    path = _write(q, str(tmp_path / "quotes.parquet"))
    features, extra, cols = [*FEATURES, BARS], {}, [*COLS, *BAR_COLS]
    if mixed:
        (tmp_path / "user_fd.py").write_text(USER_FD)
        features = [*FEATURES[:3],
                    {"name": "dbl", "feature_definition": "doubled_mid", "deps": ["mid"]},
                    *FEATURES[3:], BARS]
        extra = {"definition_paths": [str(tmp_path / "user_fd.py")]}
        cols = [*COLS[:4], "dbl-doubled", *COLS[4:], *BAR_COLS]

    got = Featurizer(spark).run(_config(path, ["instrument"], features, **extra)).toPandas()
    assert list(got.columns) == ["ts", "instrument", *cols]
    for inst, g in q.groupby("instrument"):
        want = _reference(g)
        have = got[got["instrument"] == inst].sort_values("ts").reset_index(drop=True)
        assert (have["ts"].to_numpy() == want["ts"].to_numpy()).all(), inst
        for c in cols:
            np.testing.assert_allclose(
                have[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float),
                rtol=1e-9, atol=1e-12, equal_nan=True, err_msg=f"{inst} {c}",
            )


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_one_grouped_map(df):
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("FlatMapGroupsInPandas") == 1, optimized
    assert "Window" not in optimized, optimized
    tree = _plan_of(df).split("\n\n")[0]  # the operator tree, before node details
    assert tree.count("Exchange") == 1, tree
    assert tree.index("Exchange") > tree.index("FlatMapGroupsInPandas"), tree


def test_all_kernel_plan_is_one_grouped_map(spark, mixed_quotes):
    _assert_one_grouped_map(Featurizer(spark).run(_config(mixed_quotes, ["venue", "sym"])))


def test_tvi_and_diff_config_is_one_grouped_map(spark, tmp_path):
    """tvi (over trades with a side column), diff, ohlcv and a
    volatility over the bars' close run on the kernel plan: the FLS is
    still one grouped map, with no range-frame Window or as-of join."""
    rng = np.random.default_rng(13)
    n = 200
    ts, bid, ask = _series(rng, n)
    trades = pd.DataFrame({"sym": "A", "ts": ts, "bid": bid, "ask": ask, "price": ask,
                           "amount": rng.uniform(1, 5, n), "side": rng.choice(["BUY", "SELL"], n)})
    path = _write(trades, str(tmp_path / "trades.parquet"))
    features = [FEATURES[0], FEATURES[3],
                {"name": "imb", "feature_definition": "tvi", "params": {"window": f"{WINDOW_S:g}s"}},
                BARS, {"name": "bvol", "feature_definition": "volatility_stddev", "deps": ["bars"],
                       "params": {"window": "60s", "value_col": "close"}}]
    df = Featurizer(spark).run(_config(path, ["sym"], features))
    _assert_one_grouped_map(df)
    out = df.toPandas()
    assert len(out) > 150 and out["imb-tvi"].between(-2, 2).all() and out["mom-diff"].notna().any()
    assert out["bars-num_trades"].max() > 3 and out["bvol-volatility"].notna().any()


#: Featurizer.run's schema for this source and FEATURES before the fused
#: pass, as the as-of path produced it
EMPTY_SCHEMA = StructType(
    [StructField("ts", TimestampType()), StructField("instrument", StringType())]
    + [StructField(c, DoubleType()) for c in COLS]
)


def test_empty_source_gives_empty_fls(spark, tmp_path):
    path = str(tmp_path / "empty.parquet")
    pq.write_table(pa.schema([("instrument", pa.string()), ("ts", pa.timestamp("us")),
                              ("bid", pa.float64()), ("ask", pa.float64())]).empty_table(), path)
    cfg = _config(path, ["instrument"])
    out = Featurizer(spark).run(cfg)
    assert out.schema == EMPTY_SCHEMA == _old_run(spark, cfg).schema
    assert out.count() == 0


def test_fls_build_emits_no_user_warning(spark, mixed_quotes):
    cfg = _config(mixed_quotes, ["venue", "sym"])
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        Featurizer(spark).build_features(FeaturizerConfig.load(cfg))
        Featurizer(spark).run(cfg).count()
