"""Point-in-time correctness of the FeatureLabelSet: no feature of an
FLS row may read an event after the row's time. For every registered
definition, and a user definition loaded through ``definition_paths``,
changing every event after a cut time t (its values, and then its time
too) must leave the feature columns of the rows at ts <= t unchanged
(labels read the future by design).

Event time is an instant: in a session zone with DST, the events of a
fall-back hour keep their order and their instants through the FLS,
``run_stream``, the order book and ``ohlcv``'s UTC-midnight bars."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import session_time_zone
from pyspark.sql import functions as F

from svoe_spark.operators.orderbook import reconstruct_book, reconstruct_book_bucketed, reconstruct_book_stream
from svoe_spark.plans.definitions import REGISTRY
from svoe_spark.plans.featurizer import Featurizer
from svoe_spark.streaming.sinks import run_available_to_memory
from svoe_spark.streaming.sources import replay_parquet
from test_definition_loading import USER_FD
from test_featurizer_fused import T0

CUT = T0 + pd.Timedelta(seconds=107.5)  # inside a 20 s bucket
VALUES = ("bid", "ask", "price", "amount", "side")


def _us(ts) -> int:
    """A naive UTC timestamp as epoch µs."""
    return pd.Timestamp(ts).value // 1000


def _write(pdf: pd.DataFrame, path: str) -> str:
    """``pdf`` as parquet, its naive UTC timestamps as instants."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table.cast(pa.schema(
        [pa.field(f.name, pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
         for f in table.schema]
    )), path)
    return path


def _trades(seed: int, after=None, move_times=False) -> pd.DataFrame:
    """Quotes and trades on two symbols over ~200 s (unique ts per
    symbol, gaps 0.1-3 s, 10% null prices and amounts). With ``after``,
    every event after it gets new values from another seed, and with
    ``move_times`` new times too: new gaps (10 ms-6 s) from ``after`` on."""
    rng = np.random.default_rng(seed)
    parts = []
    for sym, n in (("A", 150), ("B", 120)):
        ts = T0 + pd.to_timedelta(np.cumsum(rng.integers(100_000, 3_000_000, n)), unit="us")
        bid = 100 + np.cumsum(rng.normal(0, 0.05, n))
        ask = bid + rng.uniform(0.01, 0.1, n)
        parts.append(pd.DataFrame({
            "sym": sym, "ts": ts, "bid": bid, "ask": ask,
            "price": np.where(rng.random(n) < 0.1, np.nan, ask),
            "amount": np.where(rng.random(n) < 0.1, np.nan, rng.uniform(1, 5, n)),
            "side": rng.choice(["BUY", "SELL"], n),
        }))
    df = pd.concat(parts, ignore_index=True)
    if after is not None:
        late = df["ts"] > after
        df.loc[late, list(VALUES)] = _trades(seed + 1000).loc[late, list(VALUES)]
        if move_times:
            gaps = pd.Series(np.random.default_rng(seed + 2000).integers(10_000, 6_000_000, late.sum()),
                             index=df.index[late])
            df.loc[late, "ts"] = after + pd.to_timedelta(gaps.groupby(df.loc[late, "sym"]).cumsum(), unit="us")
    return df


def _features(name: str) -> list[dict]:
    """``name`` with defaults, over a mid price unless it reads the
    source (the user definition ``doubled_mid`` reads an upstream)."""
    mid = {"name": "mid", "feature_definition": "mid_price"}
    if name == "mid_price":
        return [mid]
    feature = {"name": "f", "feature_definition": name, "params": {"window": "20s"}}
    if name not in REGISTRY or REGISTRY[name].dep_slots[0] != "source":
        feature.update(deps=["mid"], params={"window": "20s", "value_col": "mid_price"})
    return [mid, feature]


def _assert_point_in_time(spark, tmp_path, before: pd.DataFrame, after: pd.DataFrame, cut, **config):
    """The FLS (keys ``sym``, label ``mid`` 5 s ahead, then ``config``)
    over the events ``before`` and ``after``, which agree at ts <= ``cut``:
    its rows at ts <= cut are those events, each at its own instant, and
    their feature columns are equal. Returns the rows over ``before``."""
    cut_us = _us(cut)
    frames = []
    for i, events in enumerate((before, after)):
        path = _write(events, str(tmp_path / f"events{i}.parquet"))
        cfg = {"data_source": {"kind": "parquet", "path": path}, "keys": ["sym"],
               "label_feature": "mid", "label_lookahead": "5s", **config}
        out = Featurizer(spark).run(cfg).withColumn("ts", F.unix_micros("ts")).toPandas()
        frames.append(out[out["ts"] <= cut_us].sort_values(["sym", "ts"]).reset_index(drop=True))
    first, second = frames
    events = before[before["ts"] <= cut].sort_values(["sym", "ts"])
    assert first["ts"].tolist() == [_us(t) for t in events["ts"]]
    features = [c for c in first.columns if c not in ("sym", "ts") and not c.startswith("label_")]
    for c in ["sym", "ts", *features]:
        a, b = first[c].to_numpy(), second[c].to_numpy()
        if a.dtype.kind == "f":
            assert np.array_equal(a, b, equal_nan=True), c
        else:
            assert (a == b).all(), c
    return first


@pytest.mark.parametrize("name", [*sorted(REGISTRY), "doubled_mid"])
def test_fls_features_do_not_read_the_future(spark, tmp_path, name):
    user_fd = tmp_path / "user_fd.py"
    user_fd.write_text(USER_FD)
    rows = _assert_point_in_time(spark, tmp_path, _trades(1), _trades(1, CUT), CUT,
                                 definition_paths=[str(user_fd)], features=_features(name))
    features = [c for c in rows.columns if c.startswith(("mid-", "f-"))]
    assert len(rows) > 80 and len(features) > (name != "mid_price")


@pytest.mark.parametrize("name", [*sorted(REGISTRY), "doubled_mid"])
def test_fls_features_do_not_read_later_event_times(spark, tmp_path, name):
    """As above, but the events after the cut also move in time, some
    to within 10 ms of it: a feature that reads a later event's time
    changes."""
    user_fd = tmp_path / "user_fd.py"
    user_fd.write_text(USER_FD)
    after = _trades(1, CUT, move_times=True)
    assert not after["ts"].equals(_trades(1)["ts"])
    rows = _assert_point_in_time(spark, tmp_path, _trades(1), after, CUT,
                                 definition_paths=[str(user_fd)], features=_features(name))
    assert len(rows) > 80


# America/New_York falls back at 2024-11-03 06:00 UTC: local 01:00-02:00
# repeats, so 05:20Z (01:20 EDT) follows 06:10Z (01:10 EST) in wall time,
# and 2024-11-03 01:00Z is still 2024-11-02 in local time.
NY = "America/New_York"
FALL_BACK = [pd.Timestamp(t) for t in ("2024-11-02 23:00", "2024-11-03 01:00", "2024-11-03 05:20",
                                       "2024-11-03 05:50", "2024-11-03 06:10", "2024-11-03 06:40")]
FALL_BACK_FEATURES = [
    {"name": "mid", "feature_definition": "mid_price"},
    {"name": "mom", "feature_definition": "diff", "deps": ["mid"],
     "params": {"window": "25m", "value_col": "mid_price"}},
    {"name": "vol", "feature_definition": "volatility_stddev", "deps": ["mid"], "params": {"window": "25m"}},
    {"name": "ew", "feature_definition": "ewma", "deps": ["mid"], "params": {"alpha": 0.5}},
    {"name": "tvi", "feature_definition": "tvi", "params": {"window": "25m"}},
    {"name": "bars", "feature_definition": "ohlcv", "params": {"window": "1d"}},
]


def _fall_back_events(values=(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)) -> pd.DataFrame:
    """One symbol's events at ``FALL_BACK`` with bid = ask = price = the values."""
    v = np.asarray(values)
    return pd.DataFrame({"sym": "A", "ts": FALL_BACK, "bid": v, "ask": v, "price": v,
                         "amount": 1.0, "side": ["BUY", "SELL"] * 3})


def test_fall_back_hour_fls_is_point_in_time(spark, tmp_path):
    """In a New York session, the 05:20Z row is itself (not stamped an
    hour late) and its 25 m diff does not read the 06:10Z event."""
    with session_time_zone(spark, NY):
        rows = _assert_point_in_time(
            spark, tmp_path, _fall_back_events(), _fall_back_events((1.0, 2.0, 3.0, 9.0, 9.0, 9.0)),
            pd.Timestamp("2024-11-03 05:30"), features=FALL_BACK_FEATURES,
        )
    assert rows["mom-diff"].tolist() == [0.0, 0.0, 0.0]  # no other event within 25 m before


def _fls_and_stream(spark, path) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The FLS and ``run_stream`` feature columns over the fall-back
    events written under the new directory ``path``, both under the FLS
    names, with ts as µs, sorted by ts."""
    path.mkdir()
    _write(_fall_back_events(), str(path / "events.parquet"))
    path = str(path)
    cfg = {"data_source": {"kind": "parquet", "path": path}, "keys": ["sym"],
           "features": FALL_BACK_FEATURES, "label_feature": "mid"}
    columns = {}  # FLS name -> run_stream name
    for f in FALL_BACK_FEATURES:
        outputs = REGISTRY[f["feature_definition"]].outputs
        columns.update({f"{f['name']}-{o}": f"{f['name']}_{o if len(outputs) > 1 else 'value'}" for o in outputs})

    def frame(df, names: dict):
        return (df.select(F.unix_micros("ts").alias("ts"), *[F.col(f"`{c}`").alias(n) for n, c in names.items()])
                .toPandas().sort_values("ts", ignore_index=True))

    stream = run_available_to_memory(Featurizer(spark).run_stream(cfg, replay_parquet(spark, path)))
    return frame(Featurizer(spark).run(cfg), {n: n for n in columns}), frame(stream, columns)


def test_fall_back_hour_run_and_run_stream_keep_each_instant(spark, tmp_path):
    """``run`` and ``run_stream`` in a New York session give every event
    its own UTC instant, and the values of a UTC session."""
    with session_time_zone(spark, NY):
        fls, stream = _fls_and_stream(spark, tmp_path / "ny")
    utc, _ = _fls_and_stream(spark, tmp_path / "utc")
    assert fls["ts"].tolist() == [_us(t) for t in FALL_BACK]
    pd.testing.assert_frame_equal(stream.ffill(), fls, check_exact=True)  # the FLS as-of fill
    pd.testing.assert_frame_equal(utc, fls, check_exact=True)


def test_fall_back_hour_ohlcv_bars_align_to_utc_midnight(spark, tmp_path):
    """The 1 d bar closes at UTC midnight in a New York session: the
    2024-11-03 01:00Z event (2024-11-02 in local time) sees the closed
    bar of the 23:00Z event, in ``run`` and ``run_stream``."""
    with session_time_zone(spark, NY):
        frames = _fls_and_stream(spark, tmp_path / "events")
    bar = ["bars-open", "bars-high", "bars-low", "bars-close", "bars-num_trades"]
    for df in frames:
        at = df.set_index("ts")[bar]
        assert at.loc[_us(FALL_BACK[0])].isna().all()
        assert at.loc[_us(FALL_BACK[1])].tolist() == [1.0, 1.0, 1.0, 1.0, 1.0]


def _updates(tmp_path) -> str:
    """A book on one symbol: a SNAPSHOT at 05:20Z, then a SET of the bid
    to 2, 3 and 4 at 05:50Z, 06:10Z and 06:40Z."""
    times = FALL_BACK[2:]
    path = tmp_path / "updates"
    path.mkdir()
    level = pa.struct([("side", pa.string()), ("price", pa.float64()), ("size", pa.float64())])
    orders = [[{"side": "bid", "price": 100.0, "size": 1.0}, {"side": "ask", "price": 101.0, "size": 1.0}]]
    orders += [[{"side": "bid", "price": 100.0, "size": s}] for s in (2.0, 3.0, 4.0)]
    pq.write_table(pa.table({
        "symbol": pa.array(["A"] * 4),
        "ts": pa.array([t.to_pydatetime() for t in times], pa.timestamp("us", tz="UTC")),
        "update_type": pa.array(["SNAPSHOT", "SET", "SET", "SET"]),
        "orders": pa.array(orders, pa.list_(level)),
    }), path / "part-0.parquet")
    return str(path)


def _book_rows(df) -> list:
    return sorted(
        (r["us"], [tuple(x) for x in r["bids"]], [tuple(x) for x in r["asks"]], r["inconsistencies"])
        for r in df.select(F.unix_micros("ts").alias("us"), "bids", "asks", "inconsistencies").collect()
    )


def test_fall_back_hour_book_equals_utc_session(spark, tmp_path):
    """``reconstruct_book``, its bucketed form and
    ``reconstruct_book_stream`` in a New York session equal the UTC
    session's book: every update applies in instant order."""
    path = _updates(tmp_path)
    want = _book_rows(reconstruct_book(spark.read.parquet(path), depth=5))
    assert [w[1] for w in want] == [[(100.0, s)] for s in (1.0, 2.0, 3.0, 4.0)]
    with session_time_zone(spark, NY):
        updates = spark.read.parquet(path)
        assert _book_rows(reconstruct_book(updates, depth=5)) == want
        assert _book_rows(reconstruct_book_bucketed(updates, depth=5, bucket="1h")) == want
        stream = reconstruct_book_stream(replay_parquet(spark, path), depth=5)
        assert _book_rows(run_available_to_memory(stream)) == want
