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


# -- one plan for batch and stream: the kernels of every streaming
# definition, the one input rule, and carried state across a restart --

_WINDOWS = range(0, 240_000, 30_000)  # ms: one file (one micro-batch) each


def _write_quotes(path, files=range(len(_WINDOWS))):
    """The null-bid quotes of test_run_stream_equals_batch_with_null_bids
    (seed 7), one parquet file per 30 s of event time with mtimes in
    time order; writes only the files numbered in ``files``."""
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
    path.mkdir(exist_ok=True)
    for j in files:
        m = (ms >= _WINDOWS[j]) & (ms < _WINDOWS[j] + 30_000)
        f = path / f"part-{j:03d}.parquet"
        pq.write_table(pa.table({
            "ts": pa.array(ms[m].astype("int64") * 1_000, pa.timestamp("us")),
            "symbol": pa.array(sym[m]),
            "bid": pa.array(bid[m], mask=bid_null[m]),
            "ask": pa.array(ask[m]),
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


def _assert_stream_equals_batch(spark, cfg, rows, rel=None):
    """``run_stream`` output ``rows`` == ``build_features`` for every
    feature of ``cfg``, per (symbol, ts); NULL where batch is NULL.
    ``rel``: relative tolerance per definition (default exact)."""
    fz = Featurizer(spark)
    feats = fz.build_features(FeaturizerConfig.load(cfg))
    names = [f["name"] for f in cfg["features"]]
    got = {(r["symbol"], r["ts"]): [r[f"{n}_value"] for n in names] for r in rows}
    assert len(got) == len(rows)
    for n, f in zip(names, cfg["features"]):
        df = feats[n][1]
        (col,) = [c for c in df.columns if c not in ("symbol", "ts")]
        want = {(r["symbol"], r["ts"]): r[col] for r in df.collect()}
        assert set(want) == set(got), n
        tol = (rel or {}).get(f["feature_definition"], 0)
        for k, w in want.items():
            g = got[k][names.index(n)]
            if w is None or math.isnan(w):
                assert g is None or math.isnan(g), (n, k, g)
            else:
                assert g == pytest.approx(w, rel=tol, abs=0), (n, k, g, w)


_REL = {"volatility_stddev": 1e-9, "ewma": 1e-12}


_ROW_LOCAL = [
    {"name": "mid", "feature_definition": "mid_price"},
    {"name": "spr", "feature_definition": "relative_spread"},
]


@pytest.mark.parametrize("features", [
    _ROW_LOCAL + [
        {"name": "vol", "feature_definition": "volatility_stddev",
         "deps": ["mid"], "params": {"window": "20s"}},
        {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
         "params": {"alpha": 0.3, "value_col": "mid_price"}},
    ],
    _ROW_LOCAL,  # no kernel carries state: the stateless form
], ids=["stateful", "row_local"])
def test_run_stream_equals_batch_for_every_streaming_kernel(spark, tmp_path, features):
    """mid_price, relative_spread, volatility_stddev and ewma in one
    fused stream over 20% null bids and 8 micro-batches == batch."""
    path = tmp_path / "quotes"
    n = _write_quotes(path)
    cfg = _quote_cfg(path, features)
    out = Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))
    assert out.columns == ["symbol", "ts", *[f"{f['name']}_value" for f in features]]
    rows = run_available_to_memory(out).collect()
    assert len(rows) == n
    _assert_stream_equals_batch(spark, cfg, rows, _REL)


@pytest.mark.parametrize("feature", [
    {"name": "mom", "feature_definition": "diff", "deps": ["mid"],
     "params": {"window": "20s"}},
    {"name": "bars", "feature_definition": "ohlcv", "params": {"price_col": "ask"}},
])
def test_run_stream_rejects_batch_only_features(spark, tmp_path, feature):
    path = tmp_path / "quotes"
    _write_quotes(path, files=[0])
    cfg = _quote_cfg(path, [{"name": "mid", "feature_definition": "mid_price"}, feature])
    with pytest.raises(ValueError, match="no fused streaming form"):
        Featurizer(spark).run_stream(cfg, _quote_stream(spark, path))


def test_run_stream_and_batch_share_one_input_rule(spark, tmp_path):
    """Definitions' ``inputs`` resolve columns for both paths: a dep
    feature with no value_col reads its dep's output; a dep-less one
    reads its value_col; a missing column is a ValueError naming the
    feature in batch and stream alike."""
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
    _assert_stream_equals_batch(spark, deps, rows, _REL)

    depless = _quote_cfg(path, [
        {"name": "vol", "feature_definition": "volatility_stddev",
         "params": {"window": "20s", "value_col": "bid"}},
    ])
    rows = run_available_to_memory(
        Featurizer(spark).run_stream(depless, _quote_stream(spark, path))
    ).collect()
    _assert_stream_equals_batch(spark, depless, rows, _REL)

    missing = _quote_cfg(path, [
        {"name": "vol", "feature_definition": "volatility_stddev",
         "params": {"value_col": "last"}},
    ])
    with pytest.raises(ValueError, match="feature 'vol' reads"):
        Featurizer(spark).run_stream(missing, _quote_stream(spark, path))
    with pytest.raises(ValueError, match="feature 'vol' reads"):
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
    _assert_stream_equals_batch(spark, cfg, rows, _REL)


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
    _assert_stream_equals_batch(spark, cfg, rows, _REL)


def test_run_stream_keeps_a_null_ts_event(spark, tmp_path):
    """An event with a null ts streams without error and comes out with
    a null ts; the other events keep theirs."""
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
    rows = run_available_to_memory(
        Featurizer(spark).run_stream(_quote_cfg(path, _STATEFUL), _quote_stream(spark, path))
    ).collect()
    got = sorted((r["mid_value"], r["ts"]) for r in rows)
    assert [m for m, _ in got] == [1.0, 2.0, 3.0, 4.0]
    epoch = datetime.datetime(1970, 1, 1)
    assert [t and (t - epoch).total_seconds() for _, t in got] == [0.0, 1.0, None, 3.0]


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
    """The handler sees ts as wall time in the session zone, here set
    after the plan is built: outside a DST fall-back hour every event
    keeps its instant; inside it, the two instants of one wall time both
    come out at the earlier (daylight) offset."""
    import pyarrow as pa
    import pyarrow.parquet as pq
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
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = run_available_to_memory(out).select(
            "mid_value", F.unix_micros("ts").alias("us")
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    epoch = datetime.datetime(1970, 1, 1)
    us = [(t - epoch) // datetime.timedelta(microseconds=1) for t in utc]
    assert sorted((r["mid_value"], r["us"]) for r in rows) == [
        (1.0, us[0]), (2.0, us[1]), (3.0, us[1]), (4.0, us[3])
    ]
