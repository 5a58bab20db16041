"""Kappa online path: Featurizer.run_stream (fused per-key feature
state machine) over a replayed source equals the batch features at
every event time."""

import datetime
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
    """Kappa for EWMA: batch recursion (per-key Arrow pass) == fused stream."""
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


# -- one plan for batch and stream: the kernels of every streaming
# definition, the one input rule, and carried state across a restart --

_WINDOWS = range(0, 240_000, 30_000)  # ms: one file (one micro-batch) each


def _write_quotes(path, files=range(len(_WINDOWS)), trades=False):
    """The null-bid quotes of test_run_stream_equals_batch_with_null_bids
    (seed 7), one parquet file per 30 s of event time with mtimes in
    time order; writes only the files numbered in ``files``. ``trades``
    adds trade columns (price, amount, side: 10% nulls each) and ~10%
    equal-ts peers that repeat their row's quote and price. Returns the
    row count."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    n = 480
    sym = rng.choice(["A", "B", "C", "D"], n)
    ms = np.sort(rng.choice(np.arange(2400), n, replace=False)) * 100
    bid = 100.0 + np.cumsum(rng.normal(0, 0.2, n))
    ask = bid + rng.uniform(0.01, 0.05, n)
    bid_null = rng.random(n) < 0.2
    cols = {"bid": bid, "ask": ask}
    if trades:
        trng = np.random.default_rng(8)
        cols["price"] = np.where(trng.random(n) < 0.1, np.nan, ask)
        peers = np.sort(np.concatenate([np.arange(n), trng.choice(n, n // 10, replace=False)]))
        sym, ms, bid_null = sym[peers], ms[peers], bid_null[peers]
        cols = {c: v[peers] for c, v in cols.items()}
        n = len(peers)
        cols["amount"] = np.where(trng.random(n) < 0.1, np.nan, trng.uniform(1, 10, n))
        cols["side"] = trng.choice(np.array(["BUY", "SELL", None]), n, p=[0.45, 0.45, 0.1])
    path.mkdir(exist_ok=True)
    for j in files:
        m = (ms >= _WINDOWS[j]) & (ms < _WINDOWS[j] + 30_000)
        f = path / f"part-{j:03d}.parquet"
        pq.write_table(pa.table({
            "ts": pa.array(ms[m].astype("int64") * 1_000, pa.timestamp("us")),
            "symbol": pa.array(sym[m]),
            **{c: pa.array(v[m], mask=bid_null[m] if c == "bid" else None, from_pandas=True)
               for c, v in cols.items()},
        }), f)
        os.utime(f, (1_000_000 + j, 1_000_000 + j))
    return n


def _quote_stream(spark, path):
    return (
        spark.readStream.schema(spark.read.parquet(str(path)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(path))
    )


def _quote_cfg(path, features):
    return {"data_source": {"kind": "parquet", "path": str(path)},
            "keys": ["symbol"], "features": features}


def _by_event(rows, cols):
    """{(symbol, ts): per column, its values over the event's equal-ts
    peers, sorted with nulls last} of ``rows``."""
    events = {}
    for r in rows:
        events.setdefault((r["symbol"], r["ts"]), []).append([r[c] for c in cols])
    null = lambda x: x is None or math.isnan(x)  # noqa: E731
    return {k: [sorted(c, key=lambda x: (null(x), 0.0 if null(x) else x)) for c in zip(*v)]
            for k, v in events.items()}


def _stream_columns(name, outputs):
    """``run_stream``'s columns of a feature: ``{name}_value`` for one
    output, else ``{name}_{output}`` each."""
    return [f"{name}_value"] if len(outputs) == 1 else [f"{name}_{o}" for o in outputs]


def _assert_stream_equals_batch(spark, cfg, rows, tol=None):
    """``run_stream`` output ``rows`` == ``build_features`` for every
    feature of ``cfg`` and each of its outputs, per (symbol, ts) and
    its peers in either order; NULL where batch is NULL. ``tol``: (rel,
    abs) tolerance per definition (default exact)."""
    fz = Featurizer(spark)
    feats = fz.build_features(FeaturizerConfig.load(cfg))
    for f in cfg["features"]:
        df = feats[f["name"]][1]
        outputs = [c for c in df.columns if c not in ("symbol", "ts")]
        got = _by_event(rows, _stream_columns(f["name"], outputs))
        want = _by_event(df.collect(), outputs)
        assert set(want) == set(got), f["name"]
        rel, abs_ = (tol or {}).get(f["feature_definition"], (0, 0))
        for k, per_output in want.items():
            for n, ws, gs in zip(outputs, per_output, got[k]):
                assert len(gs) == len(ws), (f["name"], n, k)
                for g, w in zip(gs, ws):
                    if w is None or math.isnan(w):
                        assert g is None or math.isnan(g), (f["name"], n, k, g)
                    else:
                        assert g == pytest.approx(w, rel=rel, abs=abs_), (f["name"], n, k, g, w)


_TOL = {"volatility_stddev": (1e-9, 0), "ewma": (1e-12, 0), "tvi": (1e-9, 1e-12), "ohlcv": (1e-12, 0)}


_ROW_LOCAL = [
    {"name": "mid", "feature_definition": "mid_price"},
    {"name": "spr", "feature_definition": "relative_spread"},
]


@pytest.mark.parametrize("features,trades", [
    (_ROW_LOCAL + [
        {"name": "vol", "feature_definition": "volatility_stddev",
         "deps": ["mid"], "params": {"window": "20s"}},
        {"name": "mom", "feature_definition": "diff", "deps": ["mid"],
         "params": {"window": "20s"}},
        {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
         "params": {"alpha": 0.3, "value_col": "mid_price"}},
        {"name": "imb", "feature_definition": "tvi", "params": {"window": "20s"}},
        {"name": "bars", "feature_definition": "ohlcv", "params": {"window": "7s"}},
        {"name": "bvol", "feature_definition": "volatility_stddev", "deps": ["bars"],
         "params": {"window": "40s", "value_col": "close"}},
    ], True),
    (_ROW_LOCAL, False),  # no kernel carries state: the stateless form
], ids=["stateful", "row_local"])
def test_run_stream_equals_batch_for_every_streaming_kernel(spark, tmp_path, features, trades):
    """Every built-in definition — mid_price, relative_spread,
    volatility_stddev, diff, ewma, tvi and ohlcv, with a volatility over
    the bars' close — in one fused stream over 8 micro-batches == batch:
    20% null bids and, in the stateful case, a trade feed with null
    prices, amounts and sides and equal-ts peers."""
    from svoe_spark.plans.definitions import REGISTRY

    path = tmp_path / "quotes"
    n = _write_quotes(path, trades=trades)
    cfg = _quote_cfg(path, features)
    out = Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))
    assert out.columns == ["symbol", "ts", *[
        c for f in features for c in _stream_columns(f["name"], REGISTRY[f["feature_definition"]].outputs)
    ]]
    rows = run_available_to_memory(out).collect()
    assert len(rows) == n
    _assert_stream_equals_batch(spark, cfg, rows, _TOL)


_USER_FDS = """
import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from svoe_spark.plans.definitions import FeatureDefinition


class HalvedMid(FeatureDefinition):
    name = "halved_mid"
    dep_slots = ("upstream",)

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["upstream"]
        return df.select(*keys, "ts", (F.col("mid_price") / 2).alias("halved"))


# a kernel that carries its running max from batch to batch
class RunningMax(FeatureDefinition):
    name = "running_max"
    dep_slots = ("upstream",)
    outputs = ("max",)
    state_fields = (("max", DoubleType()),)

    @classmethod
    def kernel(cls, ts, up, params, state=None):
        peak = np.fmax.accumulate(np.concatenate([[state[0] if state else np.nan], up[0]]))
        return [peak[1:]], (float(peak[-1]),)


# a kernel that declares no state_fields: neither path runs it
class UndeclaredMax(RunningMax):
    name = "undeclared_max"
    state_fields = None
"""


@pytest.mark.parametrize("feature", [
    {"name": "half", "feature_definition": "halved_mid", "deps": ["mid"]},
    {"name": "peak", "feature_definition": "undeclared_max", "deps": ["mid"]},
])
def test_run_stream_rejects_batch_only_features(spark, tmp_path, feature):
    """A kernel-less user definition has no fused streaming form, and a
    user kernel that declares no ``state_fields`` runs on neither path."""
    path = tmp_path / "quotes"
    _write_quotes(path, files=[0])
    defs = tmp_path / "user_fds.py"
    defs.write_text(_USER_FDS)
    cfg = {**_quote_cfg(path, [{"name": "mid", "feature_definition": "mid_price"}, feature]),
           "definition_paths": [str(defs)]}
    error = {"half": "no fused streaming form", "peak": "feature 'peak' has a kernel but declares no state_fields"}
    with pytest.raises(ValueError, match=error[feature["name"]]):
        Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))


@pytest.mark.parametrize("keys", [[], ["symbol", "ask"]], ids=["no_key", "two_keys"])
def test_run_stream_rejects_multi_key_configs(spark, tmp_path, keys):
    path = tmp_path / "quotes"
    _write_quotes(path, files=[0])
    cfg = {**_quote_cfg(path, [{"name": "mid", "feature_definition": "mid_price"}]), "keys": keys}
    with pytest.raises(ValueError, match="needs exactly one key column"):
        Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))


def test_run_stream_and_batch_share_one_input_rule(spark, tmp_path):
    """Definitions' ``inputs`` resolve columns for both paths: a dep
    feature with no value_col reads its dep's output; a dep-less one
    reads its value_col; a missing column, read directly or by a SQL
    expression input, is a ValueError naming the feature in batch and
    stream alike."""
    path = tmp_path / "quotes"
    _write_quotes(path)
    deps = _quote_cfg(path, [
        {"name": "mid", "feature_definition": "mid_price"},
        {"name": "vol", "feature_definition": "volatility_stddev",
         "deps": ["mid"], "params": {"window": "20s"}},
        {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
         "params": {"alpha": 0.3}},
    ])
    rows = run_available_to_memory(
        Featurizer(spark).run_stream(deps, _quote_stream(spark, path))
    ).collect()
    _assert_stream_equals_batch(spark, deps, rows, _TOL)

    depless = _quote_cfg(path, [
        {"name": "vol", "feature_definition": "volatility_stddev",
         "params": {"window": "20s", "value_col": "bid"}},
    ])
    rows = run_available_to_memory(
        Featurizer(spark).run_stream(depless, _quote_stream(spark, path))
    ).collect()
    _assert_stream_equals_batch(spark, depless, rows, _TOL)

    # tvi's side flag is a SQL expression input over the absent `side`
    for feature in ({"name": "vol", "feature_definition": "volatility_stddev",
                     "params": {"value_col": "last"}},
                    {"name": "imb", "feature_definition": "tvi",
                     "params": {"price_col": "ask", "amount_col": "bid"}}):
        missing = _quote_cfg(path, [feature])
        with pytest.raises(ValueError, match=f"feature '{feature['name']}' reads"):
            Featurizer(spark).run_stream(missing, _quote_stream(spark, path))
        with pytest.raises(ValueError, match=f"feature '{feature['name']}' reads"):
            Featurizer(spark).run({**missing, "label_lookahead": "1s"})


def test_run_stream_restart_carries_state(spark, tmp_path):
    """State survives a query restart: the first half of the files
    drained to a checkpointed parquet sink, then the rest on the same
    checkpoint; the union of both runs == batch over all files."""
    path, sink, ckpt = tmp_path / "quotes", tmp_path / "out", tmp_path / "ckpt"
    cfg = _quote_cfg(path, [
        {"name": "mid", "feature_definition": "mid_price"},
        {"name": "vol", "feature_definition": "volatility_stddev",
         "deps": ["mid"], "params": {"window": "20s"}},
        {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
         "params": {"alpha": 0.3}},
    ])
    half = len(_WINDOWS) // 2
    for files in (range(half), range(half, len(_WINDOWS))):
        n = _write_quotes(path, files)
        (
            Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    rows = spark.read.parquet(str(sink)).collect()
    assert len(rows) == n
    _assert_stream_equals_batch(spark, cfg, rows, _TOL)


def _exact(rows):
    """``rows`` as sorted tuples, NaN as None, for exact comparison."""
    return sorted(tuple(None if isinstance(x, float) and math.isnan(x) else x for x in r) for r in rows)


def _start(spark, cfg, path, checkpoint, trigger=None):
    """``run_stream`` over the quote files at ``path`` started by
    ``sinks.foreach_batch``, run until it has processed every file and
    stopped: its rows and its state-store instance counts."""
    from conftest import state_store_instances

    from svoe_spark.streaming.sinks import foreach_batch

    rows = []
    out = Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))
    query = foreach_batch(out, lambda df, _: rows.extend(df.collect()), str(checkpoint), trigger)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return rows, state_store_instances(query)


def test_run_stream_state_partitions_follow_the_trigger(spark, tmp_path):
    """Started live (``sinks.foreach_batch``'s default trigger), a
    ``run_stream`` query keeps its new checkpoint's state in one
    partition and records 1 shuffle partition, while the caller's session
    keeps its 8; drained with ``availableNow`` it keeps the session's 8.
    Both emit the same rows. A listener registered on the caller's
    session hears the live query start."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class Starts(StreamingQueryListener):
        def __init__(self):
            self.started = 0

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    def recorded(checkpoint):
        meta = json.loads((checkpoint / "offsets" / "0").read_text().splitlines()[1])
        return meta["conf"]["spark.sql.shuffle.partitions"]

    path = tmp_path / "quotes"
    n = _write_quotes(path)
    cfg = _quote_cfg(path, _STATEFUL)
    starts = Starts()
    spark.streams.addListener(starts)
    try:
        live, live_instances = _start(spark, cfg, path, tmp_path / "live")
    finally:
        spark.streams.removeListener(starts)
    drained, drained_instances = _start(spark, cfg, path, tmp_path / "drained", {"availableNow": True})
    assert starts.started == 1
    assert (live_instances, recorded(tmp_path / "live")) == ({1}, "1")
    assert (drained_instances, recorded(tmp_path / "drained")) == ({8}, "8")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert len(live) == n and _exact(live) == _exact(drained)


def test_live_run_stream_resumes_with_its_recorded_state_partitions(spark, tmp_path, monkeypatch):
    """The state-partition count a live query's checkpoint recorded wins
    over the one the resumed start asks for: the first run starts with 4,
    the resumed one keeps 4. The state carries over: the union of both
    runs == one uninterrupted drain."""
    from svoe_spark import session

    path, ckpt = tmp_path / "quotes", tmp_path / "ckpt"
    cfg = _quote_cfg(path, _STATEFUL)
    half = len(_WINDOWS) // 2
    _write_quotes(path, range(half))
    with monkeypatch.context() as m:
        m.setattr(session, "STREAM_STATE_PARTITIONS", 4)
        first, instances = _start(spark, cfg, path, ckpt)
    assert instances == {4}
    n = _write_quotes(path, range(half, len(_WINDOWS)))
    rest, instances = _start(spark, cfg, path, ckpt)
    assert instances == {4}
    whole = run_available_to_memory(Featurizer(spark).run_stream(cfg, _quote_stream(spark, path)))
    assert len(first + rest) == n and _exact(first + rest) == _exact(whole.collect())


def test_bind_stream_session_follows_the_caller(spark, tmp_path):
    """A live trigger binds to one stream session per caller session,
    which takes the caller's conf and streaming listeners at each bind;
    a drain's DataFrame is left as it is."""
    from conftest import session_time_zone
    from pyspark.sql.streaming import StreamingQueryListener

    from svoe_spark.session import bind_stream_session

    class Quiet(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    def listeners(s):
        return len(s._jsparkSession.streams().listListeners())

    path = tmp_path / "quotes"
    _write_quotes(path, range(1))
    df = _quote_stream(spark, path)
    assert bind_stream_session(df, {"availableNow": True}) is df
    quiet = Quiet()
    spark.streams.addListener(quiet)
    try:
        with session_time_zone(spark, "America/New_York"):
            during = bind_stream_session(df, None).sparkSession
            assert during.conf.get("spark.sql.session.timeZone") == "America/New_York"
            assert listeners(during) == listeners(spark)
    finally:
        spark.streams.removeListener(quiet)
    after = bind_stream_session(df, {"processingTime": "1 second"}).sparkSession
    assert after is during
    assert after.conf.get("spark.sql.session.timeZone") == spark.conf.get("spark.sql.session.timeZone")
    assert after.conf.get("spark.sql.shuffle.partitions") == "1"
    assert listeners(after) == listeners(spark)


# -- the packed boundary: byte-encoded state and packed output rows --

_STATEFUL = [
    {"name": "mid", "feature_definition": "mid_price"},
    {"name": "vol", "feature_definition": "volatility_stddev",
     "deps": ["mid"], "params": {"window": "20s"}},
    {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
     "params": {"alpha": 0.3}},
]


def _write_hot_quotes(path, files=4, per_file=120, hot=0.8, seed=11):
    """Quotes where symbol "H" takes a ``hot`` share of each file's
    events; one file (one micro-batch) per 30 s of event time. Returns
    the fewest "H" events in any one file."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    path.mkdir()
    fewest = per_file
    for j in range(files):
        ms = 30_000 * j + np.sort(rng.choice(np.arange(300), per_file, replace=False)) * 100
        sym = np.where(rng.random(per_file) < hot, "H", rng.choice(["A", "B"], per_file))
        bid = 100.0 + np.cumsum(rng.normal(0, 0.2, per_file))
        f = path / f"part-{j:03d}.parquet"
        pq.write_table(pa.table({
            "ts": pa.array(ms.astype("int64") * 1_000, pa.timestamp("us")),
            "symbol": pa.array(sym),
            "bid": pa.array(bid, mask=rng.random(per_file) < 0.1),
            "ask": pa.array(bid + rng.uniform(0.01, 0.05, per_file)),
        }), f)
        os.utime(f, (1_000_000 + j, 1_000_000 + j))
        fewest = min(fewest, int((sym == "H").sum()))
    return fewest


def test_run_stream_equals_batch_across_chunks_and_packed_rows(spark, tmp_path, monkeypatch):
    """A hot key whose every micro-batch arrives in several Arrow chunks
    and leaves in several packed rows: stream == batch."""
    from svoe_spark.streaming import feature_vector

    path = tmp_path / "quotes"
    assert _write_hot_quotes(path) > 40  # > 5 chunks and > 5 packed rows a batch
    monkeypatch.setattr(feature_vector, "PACKED_ROW_EVENTS", 7)
    cfg = _quote_cfg(path, _STATEFUL)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        rows = run_available_to_memory(
            Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(rows) == 4 * 120
    _assert_stream_equals_batch(spark, cfg, rows, _TOL)


def test_batch_arrays_assembles_and_sorts_across_chunks():
    import pandas as pd

    from svoe_spark.streaming.chunks import batch_arrays

    # chunk 2 holds EARLIER events than chunk 1 (fetch order != time)
    c1 = pd.DataFrame({"ts": [5, 7], "side": [1, 0], "v": [50, 70]})
    c2 = pd.DataFrame({"ts": [1, 6, 5], "side": [1, 0, 0], "v": [10, 60, 51]})
    ts, v = batch_arrays(iter([c1, c2]), ["ts", "v"])
    assert ts.tolist() == [1, 5, 5, 6, 7]
    assert v.tolist() == [10, 50, 51, 60, 70]  # stable: equal ts keep arrival order
    ts, side, v = batch_arrays(iter([c1, c2]), ["ts", "side", "v"], 2)
    assert (ts.tolist(), side.tolist(), v.tolist()) == ([1, 5, 5, 6, 7], [1, 0, 1, 0, 0], [10, 51, 50, 60, 70])
    (one,) = batch_arrays(iter([c1]), ["ts"])
    assert one.tolist() == [5, 7]
    # a timeout-fired key arrives with ZERO chunks: empty arrays, not a
    # crash in np.concatenate([])
    assert [len(a) for a in batch_arrays(iter([]), ["ts", "side", "v"], 2)] == [0, 0, 0]


def test_run_stream_equals_batch_over_files_interleaved_in_time(spark, tmp_path):
    """One micro-batch of two files whose events interleave in time for
    every key (file 0 at even seconds, file 1 at odd): the handler
    orders each key's events before its order-dependent kernels (a 20 s
    stddev and ewma), and stream == batch."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "quotes"
    path.mkdir()
    rng = np.random.default_rng(5)
    for j in range(2):
        s = np.repeat(np.arange(j, 120, 2), 3)
        bid = 100.0 + np.cumsum(rng.normal(0, 0.2, len(s)))
        pq.write_table(pa.table({
            "ts": pa.array(s * 1_000_000, pa.timestamp("us")),
            "symbol": pa.array(np.tile(["A", "B", "C"], len(s) // 3)),
            "bid": pa.array(bid),
            "ask": pa.array(bid + rng.uniform(0.01, 0.05, len(s))),
        }), path / f"part-{j:03d}.parquet")
    cfg = _quote_cfg(path, _STATEFUL)
    stream = spark.readStream.schema(spark.read.parquet(str(path)).schema).parquet(str(path))
    rows = run_available_to_memory(Featurizer(spark).run_stream(cfg, stream)).collect()
    assert len(rows) == 360
    _assert_stream_equals_batch(spark, cfg, rows, _TOL)


_PEER_FEATURES = [
    {"name": "mid", "feature_definition": "mid_price", "params": {"price_col": "price"}},
    {"name": "vol", "feature_definition": "volatility_stddev", "deps": ["mid"], "params": {"window": "20s"}},
    {"name": "diff", "feature_definition": "diff", "deps": ["mid"], "params": {"window": "20s"}},
]


def _write_peer_cut_quotes(path, sizes):
    """One key's 14 events: prices 100.01..110.01 at 0..10 s, a second
    10 s event at 130.01, then 131.01 at 11 s and 132.01 at 12 s. Written
    in order as one parquet file per entry of ``sizes`` (its row count),
    with mtimes in file order."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = np.array([*range(11), 10, 11, 12])
    price = np.array([100.01 + i for i in range(11)] + [130.01, 131.01, 132.01])
    path.mkdir()
    for j, (lo, hi) in enumerate(zip(np.cumsum([0, *sizes[:-1]]), np.cumsum(sizes))):
        f = path / f"part-{j:03d}.parquet"
        pq.write_table(pa.table({
            "ts": pa.array(s[lo:hi] * 1_000_000, pa.timestamp("us")),
            "symbol": pa.array(["A"] * (hi - lo)),
            "price": pa.array(price[lo:hi]),
        }), f)
        os.utime(f, (1_000_000 + j, 1_000_000 + j))


def test_build_features_holds_equal_ts_peers_across_arrow_batches(spark, tmp_path):
    """An Arrow batch of 11 rows ends between the two 10 s peers: every
    kernel still sees the whole peer group, so ``build_features`` equals
    the run whose one batch holds the key."""
    path = tmp_path / "quotes"
    _write_peer_cut_quotes(path, [14])
    cfg = FeaturizerConfig.load(_quote_cfg(path, _PEER_FEATURES))

    def features(batch_rows):
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
        try:
            return {name: _by_event(df.collect(), [c for c in df.columns if c not in ("symbol", "ts")])
                    for name, (_, df) in Featurizer(spark).build_features(cfg).items()}
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    whole = features(10_000)
    peers = whole["vol"][("A", datetime.datetime(1970, 1, 1, 0, 0, 10))]
    assert peers == [[pytest.approx(7.8793, abs=1e-4)] * 2]
    assert features(11) == whole


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "run_stream does not hold a key's trailing equal-ts peers for its next "
    "micro-batch (ROADMAP items 15 and 16)"))
def test_run_stream_holds_equal_ts_peers_across_micro_batches(spark, tmp_path):
    """The events of the batch test above in two micro-batches, the
    first ending between the 10 s peers: stream == batch."""
    path = tmp_path / "quotes"
    _write_peer_cut_quotes(path, [11, 3])
    cfg = _quote_cfg(path, _PEER_FEATURES)
    rows = run_available_to_memory(Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))).collect()
    assert len(rows) == 14
    _assert_stream_equals_batch(spark, cfg, rows, _TOL)


def test_run_stream_ignores_a_null_ts_event(spark, tmp_path):
    """An event with a null ts is ignored by the stream, as by batch:
    the other events stream, none reads the null event's value, and
    stream == ``Featurizer.run``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "quotes"
    path.mkdir()
    pq.write_table(pa.table({
        "ts": pa.array([0, 1_000_000, None, 3_000_000], pa.timestamp("us")),
        "symbol": pa.array(["A"] * 4),
        "bid": pa.array([1.0, 2.0, 3.0, 4.0]),
        "ask": pa.array([1.0, 2.0, 3.0, 4.0]),
    }), path / "part-000.parquet")
    cfg = _quote_cfg(path, [
        {"name": "mid", "feature_definition": "mid_price"},
        {"name": "vol", "feature_definition": "volatility_stddev",
         "deps": ["mid"], "params": {"window": "1m"}},
    ])
    rows = run_available_to_memory(
        Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))
    ).collect()
    got = sorted((r["ts"], r["mid_value"], r["vol_value"]) for r in rows)
    want = sorted((r["ts"], r["mid-mid_price"], r["vol-volatility"])
                  for r in Featurizer(spark).run(cfg).collect())
    epoch = datetime.datetime(1970, 1, 1)
    assert [((t - epoch).total_seconds(), m) for t, m, _ in got] == [(0.0, 1.0), (1.0, 2.0), (3.0, 4.0)]
    assert [(t, m) for t, m, _ in got] == [(t, m) for t, m, _ in want]
    assert got[0][2] is None or math.isnan(got[0][2])
    assert [v for *_, v in got[1:]] == pytest.approx([v for *_, v in want[1:]], rel=1e-12)
    assert got[2][2] == pytest.approx(np.std([1.0, 2.0, 4.0], ddof=1), rel=1e-12)


def test_state_codec_round_trips_every_state_field_type():
    """Spark-free: every state field type a registered definition
    declares survives encode -> pickle (the state's transport) ->
    decode; array fields cross as explicit little-endian bytes, empty
    buffers included; and a kernel carried through the codec across
    batches equals one pass."""
    import pickle

    import numpy as np
    from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType

    from svoe_spark.plans.definitions import REGISTRY
    from svoe_spark.streaming.feature_vector import state_codec
    from svoe_spark.streaming.kernels import trailing_stddev

    types = {t for d in REGISTRY.values() for _, t in d.state_fields or ()}
    assert types == {ArrayType(LongType()), ArrayType(DoubleType()), DoubleType(), LongType()}
    samples = {
        ArrayType(LongType()): [np.array([-(2**62), 0, 7], np.int64), np.empty(0, np.int64)],
        ArrayType(DoubleType()): [np.array([1.5, -0.0, np.inf]), np.empty(0)],
        DoubleType(): [2.5, float("nan")],
        LongType(): [3, 0],
    }
    fields = [(f"{t.simpleString()}_{i}", t) for t in samples for i in range(2)]
    schema, encode, decode = state_codec(fields)
    assert [f.dataType for f in schema] == [
        BinaryType() if isinstance(t, ArrayType) else t for _, t in fields
    ]
    state = [v for t in samples for v in samples[t]]
    row = encode(state)
    assert row[0] == np.array([-(2**62), 0, 7], "<i8").tobytes() and row[1] == b""
    back = decode(pickle.loads(pickle.dumps(row)))
    for want, got in zip(state, back):
        if isinstance(want, np.ndarray):
            assert got.dtype == want.dtype and np.array_equal(got, want)
        else:
            assert got == want or (math.isnan(want) and math.isnan(got))

    # trailing_stddev's (ts, v) buffer carried through the codec
    _, enc, dec = state_codec([("ts", ArrayType(LongType())), ("v", ArrayType(DoubleType()))])
    rng = np.random.default_rng(3)
    ts = np.sort(rng.choice(10_000, 200, replace=False)).astype(np.int64)
    v = np.where(rng.random(200) < 0.2, np.nan, rng.normal(size=200))
    whole, _ = trailing_stddev(ts, v, 500)
    parts, carried = [], None
    for lo, hi in ((0, 1), (1, 90), (90, 200)):
        out, st = trailing_stddev(ts[lo:hi], v[lo:hi], 500, carried)
        parts.append(out)
        carried = dec(pickle.loads(pickle.dumps(enc(st))))
    np.testing.assert_allclose(np.concatenate(parts), whole, rtol=1e-12, equal_nan=True)


def test_run_stream_maps_ts_back_in_the_zone_the_query_runs_in(spark, tmp_path):
    """The session zone, here set after the plan is built, does not
    touch event time: the handler reads it as UTC µs, so every event
    keeps its instant, including the two that share a wall time in the
    DST fall-back hour."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from conftest import session_time_zone
    from pyspark.sql import functions as F

    # America/New_York falls back at 2024-11-03 06:00 UTC (01:00-02:00 local repeats)
    utc = [datetime.datetime(2024, 11, 3, h, 30) for h in (4, 5, 6, 7)]
    path = tmp_path / "quotes"
    path.mkdir()
    pq.write_table(pa.table({
        "ts": pa.array(utc, pa.timestamp("us", tz="UTC")),  # instants: TimestampType
        "symbol": pa.array(["A"] * 4),
        "bid": pa.array([1.0, 2.0, 3.0, 4.0]),
        "ask": pa.array([1.0, 2.0, 3.0, 4.0]),
    }), path / "part-000.parquet")
    out = Featurizer(spark).run_stream(_quote_cfg(path, _STATEFUL), _quote_stream(spark, path))
    with session_time_zone(spark, "America/New_York"):
        rows = run_available_to_memory(out).select(
            "mid_value", F.unix_micros("ts").alias("us")
        ).collect()
    epoch = datetime.datetime(1970, 1, 1)
    us = [(t - epoch) // datetime.timedelta(microseconds=1) for t in utc]
    assert sorted((r["mid_value"], r["us"]) for r in rows) == [(1.0 + i, u) for i, u in enumerate(us)]
