"""Featurizer.run's one per-key pass (every feature and the label in one
grouped map: kernel features over the source, every other feature as a
tagged side) against the as-of composition it replaced and against an
independent pandas merge_asof reference."""

import contextlib
import io
import re
import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from conftest import session_conf
from svoe_spark.operators.asof import asof_join_multi, lookahead_shift
from svoe_spark.plans import definitions, featurizer
from svoe_spark.plans.definitions import key_handler, load_definitions_from_source
from svoe_spark.plans.featurizer import Featurizer, FeaturizerConfig
from svoe_spark.sources.catalog import FeatureStore
from test_definition_loading import USER_FD
from test_featurizer_stream import _USER_FDS

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


def _old_run(spark, config, store=None):
    """The as-of composition Featurizer.run used before the one per-key
    pass: every feature's own frame (``build_features``),
    lookahead_shift for the label, one asof_join_multi."""
    cfg = FeaturizerConfig.load(config)
    feats = Featurizer(spark, store).build_features(cfg)
    name = cfg.label_feature or cfg.features[0].name
    label = feats[name][1]
    values = [c for c in label.columns if c not in (*cfg.keys, "ts")]
    labels = label.select(*cfg.keys, "ts")
    if cfg.label_lookahead:
        labels = lookahead_shift(
            label, cfg.label_lookahead, on="ts", by=cfg.keys, value_cols=values,
            prefix=f"label_{name}-",
        ).select(*cfg.keys, "ts", *[f"label_{name}-{c}" for c in values])
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

    df = Featurizer(spark).run(_config(path, ["instrument"], features, **extra))
    _assert_one_grouped_map(df)
    got = df.toPandas()
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


def _small_batches(spark):
    """Arrow batches of 7 rows: peers, null runs, ewma nulls and the
    lookahead tail cross batch edges."""
    return session_conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", 7)


def test_run_equals_old_asof_path_in_small_batches(spark, mixed_quotes):
    with _small_batches(spark):
        test_run_equals_old_asof_path(spark, mixed_quotes)


@pytest.mark.parametrize("mixed", [False, True], ids=["kernels", "with_user_definition"])
def test_run_equals_merge_asof_reference_in_small_batches(spark, tmp_path, mixed):
    with _small_batches(spark):
        test_run_equals_merge_asof_reference(spark, tmp_path, mixed)


def test_peers_and_lookahead_on_a_batch_edge(spark, tmp_path):
    """A peer group and a label's lookahead boundary exactly on the
    edge of the first 7-row batch: the FLS equals the one-batch FLS."""
    secs = [0, 1, 2, 3, 4, 5, 6, 6, 7, 8, 12, 13, 20, 30]  # rows 6 and 7 are peers across the edge
    bid = 100.0 + np.arange(len(secs))
    bid[7] = bid[6]  # peers repeat their quote: Spark's sort orders peers arbitrarily
    bid[[2, 9]] = np.nan
    q = pd.DataFrame({"sym": "A", "ts": T0 + pd.to_timedelta(secs, unit="s"), "bid": bid,
                      "ask": bid + 0.5, "price": bid + 0.5, "amount": 1.0})
    cfg = _config(_write(q, str(tmp_path / "edge.parquet")), ["sym"], [*FEATURES, BARS])
    whole = Featurizer(spark).run(cfg).toPandas()
    with _small_batches(spark):
        edged = Featurizer(spark).run(cfg).toPandas()
    pd.testing.assert_frame_equal(edged, whole)
    # 1 s + 5 s lookahead lands on the peers' 6 s: the label reads the edge's second batch
    row = whole[whole["ts"] == T0 + pd.Timedelta(seconds=1)]
    assert row["label_mid-mid_price"].item() == bid[6] + 0.25
    # every row but the last event's has its lookahead inside the key
    assert whole["ts"].max() == T0 + pd.Timedelta(seconds=20) and len(whole) == len(secs) - 1


@pytest.mark.parametrize("label", [True, False], ids=["with_label", "features_only"])
def test_null_ts_event_is_ignored(spark, tmp_path, label):
    """An event with no event time drops out of its key's pass: the key
    keeps its other rows, and none reads the null event's values."""
    secs = [0.0, 1.0, np.nan, 3.0, 20.0, 40.0]
    q = pd.DataFrame({"sym": "A", "ts": T0 + pd.to_timedelta(secs, unit="s"),
                      "value": np.arange(1.0, 7.0)})
    features = [{"name": "mid", "feature_definition": "mid_price"},
                {"name": "vol", "feature_definition": "volatility_stddev", "deps": ["mid"],
                 "params": {"window": "1m"}}]
    cfg = _config(_write(q, str(tmp_path / "null_ts.parquet")), ["sym"], features)
    if not label:
        cfg = {**cfg, "label_lookahead": None}
    got = Featurizer(spark).run(cfg).toPandas()
    kept = q.dropna(subset=["ts"])
    if label:  # ts + 5 s <= 40 s
        kept = kept[kept["ts"] <= T0 + pd.Timedelta(seconds=35)]
        assert got["label_mid-mid_price"].tolist() == [4.0, 4.0, 4.0, 5.0]
    assert got["ts"].tolist() == kept["ts"].tolist()
    assert got["mid-mid_price"].tolist() == kept["value"].tolist()
    mids = q.dropna(subset=["ts"])["value"].to_numpy()
    want = [np.std(mids[: i + 1], ddof=1) if i else np.nan for i in range(len(kept))]
    np.testing.assert_allclose(got["vol-volatility"].to_numpy(dtype=float), want, rtol=1e-12)


SECS = np.array([0, 1, 2, 3, 4, 5, 6, 6, 7, 8, 12, 13, 20, 30])
BID = 100.0 + np.arange(len(SECS))
BID[[2, 9]] = np.nan
SIDE_SECS = np.array([0.5, 3, 6, 6, 6.5, 13, 25])  # between, on and among the source's rows


def _any_batching(label):
    """No Spark: the per-key pass over one key cut into batches of every
    size equals the one-batch pass. The source's peers at 6 s have
    different quotes, a lookahead boundary (1 s + 5 s) falls on the
    7-row batches' edge, and a bigint side (one value null) has rows
    between, on and among the source's rows. Returns the one-batch
    (ts, {output: float64 array})."""
    load_definitions_from_source(USER_FD, module_name="fused_side")
    features = [*FEATURES, BARS, {"name": "dbl", "feature_definition": "doubled_mid", "deps": ["mid"]}]
    cfg = FeaturizerConfig.load({**_config("unused.parquet", ["sym"], features), "label_feature": label})
    side = StructField("dbl-doubled", LongType())
    plan = featurizer.kernel_plan(cfg, ["bid", "ask", "price", "amount"])
    inputs, outputs, fn = featurizer._fused(cfg, plan, {"dbl": [side]}, label)

    order = np.argsort(np.concatenate([SECS, SIDE_SECS]), kind="stable")
    src = {"bid": BID, "ask": BID + 0.5, "price": BID + 0.5, "amount": np.ones(len(SECS))}
    cols = {c: np.concatenate([v, np.full(len(SIDE_SECS), np.nan)])[order] for c, v in src.items()}
    cols["__side"] = np.concatenate([np.zeros(len(SECS)), np.ones(len(SIDE_SECS))])[order]
    cols[side] = pa.array([None] * len(SECS) + [10, 11, None, 13, 14, 15, 16], pa.int64()).take(order)
    ts = (np.concatenate([SECS, SIDE_SECS])[order] * 1e9).astype(np.int64)
    up = [cols[c] for c in inputs]
    names = [getattr(o, "name", o) for o in outputs]

    def run(size):
        outs = list(fn((ts[i : i + size], [u[i : i + size] for u in up]) for i in range(0, len(ts), size)))
        return np.concatenate([o[0] for o in outs]), {c: np.concatenate([
            np.asarray(o[1][c].to_pylist() if isinstance(o[1][c], pa.Array) else o[1][c], dtype=float)
            for o in outs]) for c in names}

    want_ts, want = run(len(ts))
    for size in range(1, len(ts)):
        got_ts, got = run(size)
        np.testing.assert_array_equal(got_ts, want_ts, err_msg=str(size))
        for c in names:
            np.testing.assert_allclose(got[c], want[c], rtol=1e-12, equal_nan=True, err_msg=f"{size} {c}")
    return want_ts, want


def test_fused_pass_in_any_batching_equals_one_batch():
    """The source's rows whose lookahead its last event (30 s) reaches;
    the side read at its last row at or before each, its null filled over."""
    ts, out = _any_batching("mid")
    assert (ts == SECS[SECS + LOOKAHEAD_S <= 30] * 1e9).all()
    assert out["label_mid-mid_price"][1] == BID[7] + 0.25  # the edge's later peer
    np.testing.assert_array_equal(out["dbl-doubled"][:9], [np.nan, 10, 10, 11, 11, 11, 13, 13, 14])


def test_fused_pass_with_a_side_label_in_any_batching_equals_one_batch():
    """A kernel-less label: the side's rows whose lookahead its last
    event (25 s) reaches, its label its own value 5 s on."""
    ts, out = _any_batching("dbl")
    assert (ts == SIDE_SECS[SIDE_SECS + LOOKAHEAD_S <= 25] * 1e9).all()
    np.testing.assert_array_equal(out["label_dbl-doubled"], [11, 14, 14, 14, 14, 15])
    np.testing.assert_array_equal(out["dbl-doubled"], [10, 11, 13, 13, 14, 15])
    assert out["mid-mid_price"][2] == BID[7] + 0.25  # the side's 6 s reads the source's last peer


def _batch(secs, values):
    return pa.RecordBatch.from_pydict({"ts": pa.array(secs, pa.int64()), "__in0": pa.array(values, pa.float64())})


@pytest.mark.parametrize("batches", [
    [[0, 2, 1]],
    [[0, 1, 5], [4, 6]],
], ids=["within_a_batch", "across_batches"])
def test_handler_raises_on_disordered_ts(batches):
    """No Spark: the per-key handler refuses event times that go back."""
    def identity(chunks):
        for ts, (v,) in chunks:
            yield ts, {"v": v}

    handler = key_handler(["k"], ["__in0"], ["v"], identity)
    with pytest.raises(ValueError, match="not ordered by ts"):
        list(handler((pa.scalar("A"),), iter(_batch(b, [1.0] * len(b)) for b in batches)))
    # in order, the same handler passes every event through
    (out,) = list(handler((pa.scalar("A"),), iter([_batch([0, 1, 1], [1.0, None, 3.0])])))
    assert out.to_pydict() == {"k": ["A"] * 3, "ts": [0, 1, 1], "v": [1.0, None, 3.0]}


def test_handler_never_splits_an_equal_ts_peer_group():
    """No Spark: a peer group that Arrow cuts across three batches
    reaches ``fn`` in one batch, with its values; batches with no peer
    group across their cut pass as they are."""
    seen = []

    def identity(chunks):
        for ts, (v,) in chunks:
            seen.append((ts // 1000).tolist())
            yield ts, {"v": v}

    handler = key_handler(["k"], ["__in0"], ["v"], identity)
    cuts = [[0, 1, 1], [1, 1], [1, 2], [3]]
    out = list(handler((pa.scalar("A"),), iter(_batch(b, [float(i) for i in range(len(b))]) for b in cuts)))
    assert seen == [[0], [1, 1, 1, 1, 1, 2], [3]]
    assert pa.Table.from_batches(out).to_pydict()["v"] == [0.0, 1.0, 2.0, 0.0, 1.0, 0.0, 1.0, 0.0]


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_one_grouped_map(df, shuffled: bool = False):
    """One Arrow grouped map over one sort on (keys, ts), so the grouped
    stage adds no sort of its own. Below the sort, a coalesce to one
    partition with no shuffle (under KEY_TASK_BYTES of input) or, when
    ``shuffled``, one hash shuffle on the keys."""
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("FlatMapGroupsInArrow") == 1, optimized
    assert "Window" not in optimized, optimized
    tree = _plan_of(df).split("\n\n")[0]  # the operator tree, before node details
    (grouped,) = re.finditer(r"\bFlatMapGroupsInArrow\b", tree)
    (sort,) = re.finditer(r"\bSort\b", tree)
    physical = df._jdf.queryExecution().executedPlan().toString()
    if shuffled:
        (below,) = re.finditer(r"\bExchange\b", tree)
        assert "Exchange hashpartitioning" in physical, physical
    else:
        assert not re.search(r"\bExchange\b", tree), tree
        (below,) = re.finditer(r"\bCoalesce\b", tree)
        assert "Coalesce 1" in physical, physical
    assert below.start() > sort.start() > grouped.start(), tree


def test_all_kernel_plan_is_one_grouped_map(spark, mixed_quotes):
    _assert_one_grouped_map(Featurizer(spark).run(_config(mixed_quotes, ["venue", "sym"])))


def test_per_key_stage_above_key_task_bytes_is_one_hash_shuffle(spark, mixed_quotes, monkeypatch):
    """Over KEY_TASK_BYTES of input the per-key stage hash-shuffles on
    the keys, into one partition per KEY_TASK_BYTES, at most one per core."""
    monkeypatch.setattr(definitions, "KEY_TASK_BYTES", 1)
    df = Featurizer(spark).run(_config(mixed_quotes, ["venue", "sym"]))
    _assert_one_grouped_map(df, shuffled=True)


def test_small_persisted_fls_is_one_python_task(spark, mixed_quotes):
    """Under KEY_TASK_BYTES of input the per-key stage is one task, also
    in a persisted FLS, whose partitions AQE does not coalesce; an
    aggregate over that FLS plans no shuffle."""
    fls = Featurizer(spark).run(_config(mixed_quotes, ["venue", "sym"])).persist()
    try:
        assert fls.rdd.getNumPartitions() == 1
        agg = fls.agg(F.count(F.lit(1)), F.max("ts"))
        assert not re.search(r"\bExchange\b", _plan_of(agg)), _plan_of(agg)
    finally:
        fls.unpersist()


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


#: kernel-less user definitions over the source and over mid: a bigint
#: and a string column, a double holding NaN (a value, not a null) and a
#: side on its own ts grid. Each is NULL where the bid is.
SIDE_FDS = '''
from pyspark.sql import functions as F

from svoe_spark.plans.definitions import FeatureDefinition


class QuoteCents(FeatureDefinition):
    name = "quote_cents"

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["source"]
        return df.select(*keys, "ts", (F.col("bid") * 100).cast("bigint").alias("cents"))


class QuoteKind(FeatureDefinition):
    name = "quote_kind"

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["source"]
        wide = F.col("ask") - F.col("bid") > 0.05
        return df.select(*keys, "ts", F.when(wide, "wide").when(~wide, "tight").alias("kind"))


class NanBid(FeatureDefinition):
    name = "nan_bid"

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["source"]
        bid = F.col("bid")
        return df.select(*keys, "ts", F.when(bid >= 100, bid).when(bid < 100, F.lit(float("nan"))).alias("bid"))


class SparseMid(FeatureDefinition):
    name = "sparse_mid"
    dep_slots = ("upstream",)

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["upstream"]
        return df.where(F.pmod(F.hash("ts"), F.lit(3)) == 0).select(
            *keys, (F.col("ts") + F.expr("INTERVAL 250 MILLISECONDS")).alias("ts"), "mid_price")
'''

#: features whose values are equal at equal-ts peers (mixed_quotes' peers
#: repeat their quote), so the as-of composition's pick among peers is moot
PEER_FREE = FEATURES[:3]
DBL = {"name": "dbl", "feature_definition": "doubled_mid", "deps": ["mid"]}
SIDE_CONFIGS = {
    "kernelless_label": ([*PEER_FREE, DBL], {"label_feature": "dbl", "label_lookahead": None}),
    "kernelless_label_lookahead": ([*PEER_FREE, DBL], {"label_feature": "dbl"}),
    "bigint_column": ([*PEER_FREE, {"name": "cents", "feature_definition": "quote_cents"}], {}),
    "string_column": ([*PEER_FREE, {"name": "kind", "feature_definition": "quote_kind"}], {}),
    "nan_double": ([*PEER_FREE, {"name": "nanb", "feature_definition": "nan_bid"}], {}),
    "sparse_side": ([*PEER_FREE, {"name": "sparse", "feature_definition": "sparse_mid", "deps": ["mid"]}], {}),
}


def _side_config(tmp_path, path, name):
    (tmp_path / "side_fds.py").write_text(USER_FD + SIDE_FDS)
    features, extra = SIDE_CONFIGS[name]
    return {**_config(path, ["venue", "sym"], features,
                      definition_paths=[str(tmp_path / "side_fds.py")]), **extra}


def _assert_same_fls(new_df, old_df, keys):
    """Equal schemas, rows and values; a NaN is told apart from a NULL."""
    assert new_df.schema == old_df.schema
    doubles = [f.name for f in new_df.schema if isinstance(f.dataType, DoubleType)]

    def frame(df):
        nans = [F.isnan(c).alias(f"nan {c}") for c in doubles]
        return df.select("*", *nans).toPandas().sort_values([*keys, "ts"], kind="stable").reset_index(drop=True)

    new, old = frame(new_df), frame(old_df)
    assert len(new) == len(old) > 0
    for c in new.columns:
        if c in doubles:
            np.testing.assert_allclose(new[c].to_numpy(dtype=float), old[c].to_numpy(dtype=float),
                                       rtol=1e-12, equal_nan=True, err_msg=c)
        else:
            assert (new[c].isna() == old[c].isna()).all(), c
            assert new[c].dropna().tolist() == old[c].dropna().tolist(), c


@pytest.mark.parametrize("batch_rows", [None, 7], ids=["default_batches", "7_row_batches"])
@pytest.mark.parametrize("name", list(SIDE_CONFIGS))
def test_sides_equal_old_asof_path(spark, mixed_quotes, tmp_path, name, batch_rows):
    """Each kernel-less feature is a typed side of the one per-key pass:
    the FLS equals the as-of composition's, column types included, with
    one grouped map and no Window."""
    cfg = _side_config(tmp_path, mixed_quotes, name)
    with contextlib.ExitStack() as stack:
        if batch_rows:
            stack.enter_context(_small_batches(spark))
        new_df = Featurizer(spark).run(cfg)
        _assert_same_fls(new_df, _old_run(spark, cfg), ["venue", "sym"])
    _assert_one_grouped_map(new_df)
    if name == "nan_double":
        assert new_df.where(F.isnan("nanb-bid")).count() > 0
        assert new_df.where(F.col("nanb-bid").isNull()).count() > 0


@pytest.mark.parametrize("batch_rows", [None, 7], ids=["default_batches", "7_row_batches"])
def test_stored_feature_equals_old_asof_path(spark, mixed_quotes, tmp_path, batch_rows):
    """A stored feature is a side read from the store: its first run
    (computed, written, read back) and its second run (read) equal the
    as-of composition's; the second run plans one grouped map."""
    cfg = {**_side_config(tmp_path, mixed_quotes, "kernelless_label_lookahead"),
           "label_feature": "mid", "features_to_store": ["vol"]}
    keys = ["venue", "sym"]
    store = FeatureStore(spark, str(tmp_path / "store"))
    with contextlib.ExitStack() as stack:
        if batch_rows:
            stack.enter_context(_small_batches(spark))
        old = _old_run(spark, cfg, FeatureStore(spark, str(tmp_path / "old_store")))
        _assert_same_fls(Featurizer(spark, store).run(cfg), old, keys)
        second = Featurizer(spark, store).run(cfg)
        _assert_same_fls(second, old, keys)
    assert len(list((tmp_path / "store").iterdir())) == 1
    _assert_one_grouped_map(second)


@pytest.mark.parametrize("side", [False, True], ids=["kernels", "with_user_side"])
def test_user_kernel_carries_its_state_in_the_per_key_pass(spark, tmp_path, side):
    """A user kernel's declared state crosses the key's Arrow batches:
    its running max, seeded with the carried max, equals
    np.fmax.accumulate of the key's mids, in 7-row batches too."""
    rng = np.random.default_rng(17)
    parts = []
    for sym, n in [("A", 90), ("B", 40)]:
        ts, bid, ask = _series(rng, n)
        parts.append(pd.DataFrame({"sym": sym, "ts": ts, "bid": np.where(rng.random(n) < 0.2, np.nan, bid),
                                   "ask": ask}))
    q = pd.concat(parts, ignore_index=True)
    (tmp_path / "fds.py").write_text(_USER_FDS + USER_FD)
    features = [FEATURES[0], {"name": "peak", "feature_definition": "running_max", "deps": ["mid"]},
                *([DBL] if side else [])]
    cfg = {**_config(_write(q, str(tmp_path / "q.parquet")), ["sym"], features,
                     definition_paths=[str(tmp_path / "fds.py")]), "label_lookahead": None}
    for batches in (contextlib.nullcontext(), _small_batches(spark)):
        with batches:
            got = Featurizer(spark).run(cfg).toPandas()
        for sym, g in q.groupby("sym"):
            mid = ((g["bid"] + g["ask"]) / 2).to_numpy()
            have = got[got["sym"] == sym].sort_values("ts")
            assert len(have) == len(g)
            np.testing.assert_array_equal(have["peak-max"].to_numpy(dtype=float), np.fmax.accumulate(mid))
            if side:
                # a side's null reads its last non-null value
                np.testing.assert_array_equal(have["dbl-doubled"].to_numpy(dtype=float),
                                              pd.Series(2 * mid).ffill().to_numpy())


def test_run_rejects_a_kernel_with_no_state_fields(spark, tmp_path):
    """``Featurizer.run`` raises on a user kernel that declares no
    ``state_fields``, naming its feature."""
    (tmp_path / "fds.py").write_text(_USER_FDS)
    features = [FEATURES[0], {"name": "peak", "feature_definition": "undeclared_max", "deps": ["mid"]}]
    q = pd.DataFrame({"sym": ["A"], "ts": [T0], "bid": [1.0], "ask": [2.0]})
    cfg = _config(_write(q, str(tmp_path / "q.parquet")), ["sym"], features,
                  definition_paths=[str(tmp_path / "fds.py")])
    with pytest.raises(ValueError, match="feature 'peak' has a kernel but declares no state_fields"):
        Featurizer(spark).run(cfg)


def test_unknown_label_feature_is_rejected():
    cfg = {**_config("unused.parquet", ["sym"]), "label_feature": "nope"}
    with pytest.raises(ValueError, match=r"label_feature 'nope' is not a configured feature: \['mid', 'spr'"):
        Featurizer(None).run(cfg)


def test_null_ts_side_row_is_ignored(spark, tmp_path):
    """A side's row with no event time drops out as a source event
    does: it seeds no later row's value (the as-of composition sorted
    it first, so its value filled the key's leading nulls)."""
    q = pd.DataFrame({"venue": "X", "sym": "A", "ts": T0 + pd.to_timedelta([np.nan, 1, 2], unit="s"),
                      "bid": [150.0, np.nan, 120.0], "ask": [151.0, 121.0, 121.0]})
    path = _write(q, str(tmp_path / "null_ts.parquet"))
    cfg = {**_side_config(tmp_path, path, "nan_double"), "label_lookahead": None}
    got = Featurizer(spark).run(cfg).toPandas()
    assert got["ts"].tolist() == q["ts"][1:].tolist()
    assert got["nanb-bid"].isna().tolist() == [True, False] and got["nanb-bid"].iloc[1] == 120.0
