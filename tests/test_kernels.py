"""Property tests of the per-event window kernels (streaming.kernels
and the tvi, diff and ohlcv definitions' kernels), Spark-free: any
split of a series into micro-batches, carrying the state between them,
equals a numpy two-pass stddev, a single-pass pandas ewm, direct
per-window tvi and diff, and pandas bars as-of joined onto the events
over the whole series; tvi equals a DuckDB range frame."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from svoe_spark.plans.definitions import OHLCV, Diff, TradeVolumeImbalance
from svoe_spark.streaming.kernels import ewma, trailing_stddev

RTOL = 1e-9


def two_pass_std(ts, v, window):
    """Per event: sample stddev of the non-null values in
    [t - window, t], peers included, by numpy two-pass (shifted by the
    window's first value so the reference itself keeps its digits)."""
    out = np.full(len(ts), np.nan)
    for i, t in enumerate(ts):
        seg = v[(ts >= t - window) & (ts <= t)]
        seg = seg[~np.isnan(seg)]
        if len(seg) > 1:
            out[i] = (seg - seg[0]).std(ddof=1)
    return out


def direct_tvi(ts, price, amount, is_buy, window):
    """Per event: 2(B-S)/(B+S) of the buy (is_buy 1) and sell (0)
    notional in [t - window, t], nulls counting as nothing; 0.0 where
    B+S is 0."""
    notional = np.where(np.isnan(price * amount), 0.0, price * amount)
    out = np.empty(len(ts))
    for i, t in enumerate(ts):
        w = (ts >= t - window) & (ts <= t)
        b, s = notional[w & (is_buy == 1)].sum(), notional[w & (is_buy == 0)].sum()
        out[i] = 2 * (b - s) / (b + s) if b + s != 0 else 0.0
    return out


def direct_diff(ts, v, window):
    """Per event: (last - first) / first of all events in
    [t - window, t] in array order; NaN where first is null or 0."""
    out = np.empty(len(ts))
    for i, t in enumerate(ts):
        idx = np.flatnonzero((ts >= t - window) & (ts <= t))
        first, last = v[idx[0]], v[idx[-1]]
        out[i] = (last - first) / first if first != 0 else np.nan
    return out


def pandas_bars(ts, price, amount, window):
    """Per event: the last bar closed by its time, by pandas — bars of
    ``groupby`` bucket ts // window (open / close the lowest / highest
    non-null price among the bucket's first / last equal-ts events,
    SQL sums, vwap NaN where the volume is 0) stamped at the bucket end,
    then ``merge_asof`` onto the events."""
    ev = pd.DataFrame({"ts": ts, "price": price, "amount": amount, "pa": price * amount})
    ev["b"] = ev["ts"] // window
    g = ev.groupby("b")
    edge = lambda at: ev[ev["ts"] == g["ts"].transform(at)].groupby("b")["price"]  # noqa: E731
    volume = g["amount"].sum(min_count=1)
    bars = pd.DataFrame({
        "open": edge("min").min(), "high": g["price"].max(), "low": g["price"].min(),
        "close": edge("max").max(), "volume": volume,
        "vwap": g["pa"].sum(min_count=1) / volume.where(volume != 0),
        "num_trades": g.size().astype(float),
    })
    bars["ts"] = (bars.index + 1) * window
    out = pd.merge_asof(ev[["ts"]], bars.reset_index(drop=True), on="ts")
    return [out[c].to_numpy(dtype=float) for c in OHLCV.outputs]


def assert_bars_equal(got, want):
    """Prices and counts exact; volume and vwap, sums in another order, to RTOL."""
    for name, g, w in zip(OHLCV.outputs, got, want):
        if name in ("volume", "vwap"):
            assert np.array_equal(np.isnan(g), np.isnan(w)), name
            np.testing.assert_allclose(g, w, rtol=RTOL, atol=0, equal_nan=True, err_msg=name)
        else:
            assert np.array_equal(g, w, equal_nan=True), name


def trades(rng, v, null_frac):
    """Trade inputs around price ``v``: amount and the side flag (1.0
    buy, 0.0 sell) with ``null_frac`` nulls each."""
    n = len(v)
    amount = rng.uniform(0.1, 10.0, n)
    is_buy = (rng.random(n) < 0.5).astype(float)
    amount[rng.random(n) < null_frac] = np.nan
    is_buy[rng.random(n) < null_frac] = np.nan
    return amount, is_buy


def run_kernel(defn, ts, up, window, splits):
    """``defn``'s kernel over the ``splits`` of (ts, up), carrying
    state: one array per output."""
    state, out = None, []
    for a, b in splits:
        o, state = defn.kernel(ts[a:b], [x[a:b] for x in up], {"window": window / 1e9}, state)
        assert len(o) == len(defn.outputs) and all(len(x) == b - a for x in o)
        out.append(o)
    return [np.concatenate(x) for x in zip(*out)]


def random_splits(rng, ts, n_batches, split_peers=False):
    """Cut points between distinct timestamps (a micro-batch holds all
    peers of its timestamps) or, with ``split_peers``, anywhere, with
    some empty batches mixed in."""
    edges = np.arange(1, len(ts)) if split_peers else np.flatnonzero(np.diff(ts)) + 1
    cuts = np.sort(rng.choice(edges, size=min(n_batches, len(edges)), replace=False))
    cuts = np.concatenate([[0], cuts, cuts[: len(cuts) // 4], [len(ts)]])
    return [(a, b) for a, b in zip(np.sort(cuts)[:-1], np.sort(cuts)[1:])]


def run_split(ts, v, window, alpha, splits):
    sd_state = ew_state = None
    sd_out, ew_out = [], []
    for a, b in splits:
        sd, sd_state = trailing_stddev(ts[a:b], v[a:b], window, sd_state)
        ew, ew_state = ewma(v[a:b], alpha, ew_state)
        assert len(sd) == len(ew) == b - a
        sd_out.append(sd)
        ew_out.append(ew)
    return np.concatenate(sd_out), np.concatenate(ew_out)


def assert_std_close(got, want):
    assert np.array_equal(np.isnan(got), np.isnan(want))
    ok = ~np.isnan(want)
    np.testing.assert_allclose(got[ok], want[ok], rtol=RTOL, atol=0)


def series(rng, n, null_frac=0.0, peers=False):
    if peers:  # few distinct timestamps: many equal-ts peers
        ts = np.sort(rng.integers(0, n // 8, n)) * 1_000
    else:
        ts = np.sort(rng.choice(np.arange(50 * n), n, replace=False)) * 1_000
    v = 100.0 + np.cumsum(rng.normal(0, 1.0, n))
    if null_frac:
        v[rng.random(n) < null_frac] = np.nan
    return ts.astype(np.int64), v


@pytest.mark.parametrize(
    "seed,null_frac,peers",
    [(0, 0.0, False), (1, 0.0, True), (2, 0.15, False), (3, 0.3, True), (4, 0.9, False)],
)
def test_splits_equal_one_pass(seed, null_frac, peers):
    rng = np.random.default_rng(seed)
    ts, v = series(rng, 1500, null_frac, peers)
    amount, is_buy = trades(rng, v, null_frac)
    # ~40 events per window (~5 distinct stamps of ~8 peers each)
    window, alpha = (5_000 if peers else 2_000_000), 0.2
    # an idle gap: seven empty windows (ohlcv buckets) mid-series
    ts[len(ts) // 2 :] += 7 * window
    want_sd = two_pass_std(ts, v, window)
    want_ew = pd.Series(v).ewm(alpha=alpha, adjust=False).mean().to_numpy()
    want_tvi = direct_tvi(ts, v, amount, is_buy, window)
    want_diff = direct_diff(ts, v, window)
    want_bars = pandas_bars(ts, v, amount, window)
    for n_batches in (0, 1, 7, 60):
        splits = random_splits(rng, ts, n_batches)
        got_sd, got_ew = run_split(ts, v, window, alpha, splits)
        assert_std_close(got_sd, want_sd)
        # ewma is bit-equal, nulls included
        assert np.array_equal(got_ew, want_ew, equal_nan=True)
        (got_tvi,) = run_kernel(TradeVolumeImbalance, ts, [v, amount, is_buy], window, splits)
        np.testing.assert_allclose(got_tvi, want_tvi, rtol=RTOL, atol=1e-12)
        # diff reads two buffered values: exact, nulls included
        (got_diff,) = run_kernel(Diff, ts, [v], window, splits)
        assert np.array_equal(got_diff, want_diff, equal_nan=True)
        # ohlcv: batch boundaries inside buckets, the open bucket carried;
        # it shows closed bars only, so a batch may also end inside peers
        for bar_splits in (splits, random_splits(rng, ts, n_batches, split_peers=True)):
            assert_bars_equal(run_kernel(OHLCV, ts, [v, amount], window, bar_splits), want_bars)


def test_peers_share_window():
    ts = np.array([0, 5, 5, 5, 9], dtype=np.int64)
    v = np.array([1.0, 2.0, 4.0, np.nan, 8.0])
    got, _ = trailing_stddev(ts, v, 5)
    # each ts-5 event sees all three peers (one null) and the event at 0
    assert np.isnan(got[0])
    assert got[1] == got[2] == got[3] == pytest.approx(np.std([1, 2, 4], ddof=1))
    assert got[4] == pytest.approx(np.std([2, 4, 8], ddof=1))


def test_empty_batch_keeps_state():
    sd_state = (np.array([1, 2], dtype=np.int64), np.array([1.0, 2.0]))
    out, new = trailing_stddev(np.empty(0, np.int64), np.empty(0), 10, sd_state)
    assert len(out) == 0 and [a.tolist() for a in new] == [[1, 2], [1.0, 2.0]]
    out, new = ewma(np.empty(0), 0.5, (3.0, 2))
    assert len(out) == 0 and new == (3.0, 2)
    out, new = ewma(np.empty(0), 0.5)
    assert len(out) == 0 and np.isnan(new[0]) and new[1] == 0
    empty = np.empty(0)
    tvi_state = (np.array([1], dtype=np.int64), np.array([2.0]), np.array([0.0]))
    (out,), new = TradeVolumeImbalance.kernel(empty.astype(np.int64), [empty] * 3, {}, tvi_state)
    assert len(out) == 0 and [a.tolist() for a in new] == [[1], [2.0], [0.0]]
    (out,), new = Diff.kernel(empty.astype(np.int64), [empty], {}, sd_state)
    assert len(out) == 0 and [a.tolist() for a in new] == [[1, 2], [1.0, 2.0]]
    bars_state = (np.array([60, 70], dtype=np.int64), np.arange(7.0), np.full(7, np.nan))
    out, new = OHLCV.kernel(empty.astype(np.int64), [empty] * 2, {}, bars_state)
    assert [len(o) for o in out] == [0] * 7 and all(a is b for a, b in zip(new, bars_state))
    # no event yet: an empty span, then the first batch starts a bucket
    out, new = OHLCV.kernel(empty.astype(np.int64), [empty] * 2, {})
    assert [len(o) for o in out] == [0] * 7 and len(new[0]) == 0
    out, new = OHLCV.kernel(np.array([5], np.int64), [np.array([1.0])] * 2, {}, new)
    assert np.isnan(out).all() and new[0].tolist() == [5, 5] and new[1][6] == 1


def test_nulls_follow_batch():
    """stddev skips a null as stddev_samp does; ewma outputs the carried
    value at a null and carries through it, as pandas ewm does, so at
    alpha 1 it is the forward fill."""
    ts = np.arange(5, dtype=np.int64)
    v = np.array([1.0, np.nan, 3.0, np.nan, np.nan])
    sd, state = trailing_stddev(ts, v, 10)
    assert np.isnan(sd[0]) and np.isnan(sd[1])
    assert sd[2] == sd[3] == sd[4] == pytest.approx(np.std([1, 3], ddof=1))
    assert state[1].tolist() == [1.0, 3.0]
    ew, state = ewma(v, 0.5)
    assert ew[1] == 1.0 and ew[3] == ew[4] == ew[2]
    assert state == (ew[2], 2)
    nxt, _ = ewma(np.array([5.0]), 0.5, state)
    full = pd.Series([*v, 5.0]).ewm(alpha=0.5, adjust=False).mean().to_numpy()
    assert nxt[0] == full[-1]
    # alpha 1 is the forward fill, in one pass and carried across batches
    rng = np.random.default_rng(3)
    v = np.where(rng.random(200) < 0.6, np.nan, rng.normal(100, 5, 200))
    v[:4] = np.nan
    want = pd.Series(v).ffill().to_numpy()
    np.testing.assert_array_equal(ewma(v, 1.0)[0], want)
    state, parts = None, []
    for part in np.array_split(v, 7):
        out, state = ewma(part, 1.0, state)
        parts.append(out)
    np.testing.assert_array_equal(np.concatenate(parts), want)


def test_constant_window_is_exact_zero():
    ts = np.arange(200, dtype=np.int64)
    got, _ = trailing_stddev(ts, np.full(200, 1234.5678), 50)
    assert np.isnan(got[0]) and (got[1:] == 0.0).all()


@pytest.mark.parametrize("window", [5_000, 200_000])
def test_adversarial_long_buffer(window):
    """A trending random walk at ~1e6 with steps of 1e-5: prefix sums of
    the shifted values dwarf a window's spread, the case where the
    prefix form cancels and must fall back to two-pass (for tvi, to
    direct sums). The long window carries ~2000 events in its buffer
    between batches."""
    rng = np.random.default_rng(window)
    n = 6000
    ts = np.sort(rng.choice(np.arange(100 * n), n, replace=False)).astype(np.int64)
    v = 1e6 + np.cumsum(rng.normal(1e-4, 1e-5, n))
    want = two_pass_std(ts, v, window)
    # tvi: rare trades 1e10 times the usual size, whose notional the
    # prefix sums still carry in the windows after they leave them
    amount = np.where(rng.random(n) < 0.005, 1e10, rng.uniform(0.5, 1.5, n))
    is_buy = (rng.random(n) < 0.5).astype(float)
    want_tvi = direct_tvi(ts, v, amount, is_buy, window)
    for n_batches in (0, 5):
        splits = random_splits(rng, ts, n_batches)
        got, _ = run_split(ts, v, window, 0.5, splits)
        assert_std_close(got, want)
        (got_tvi,) = run_kernel(TradeVolumeImbalance, ts, [v, amount, is_buy], window, splits)
        np.testing.assert_allclose(got_tvi, want_tvi, rtol=RTOL, atol=1e-12)


def test_tvi_equals_duckdb_range_frame():
    """The tvi kernel against SQL: SUM of CASE over a RANGE frame, with
    null prices, amounts and sides, and equal-ts peers."""
    rng = np.random.default_rng(17)
    n = 3000
    ts = np.sort(rng.integers(0, n // 3, n)).astype(np.int64) * 1_000_000_000
    price = 100.0 + np.cumsum(rng.normal(0, 0.5, n))
    price[rng.random(n) < 0.1] = np.nan
    amount, is_buy = trades(rng, price, 0.1)
    side = np.where(np.isnan(is_buy), None, np.where(is_buy == 1, "BUY", "SELL"))
    events = pd.DataFrame({"i": np.arange(n), "ts": ts, "price": price, "amount": amount, "side": side})
    want = duckdb.sql(f"""
        SELECT CASE WHEN b + s <> 0 THEN 2 * (b - s) / (b + s) ELSE 0.0 END AS tvi
        FROM (SELECT i,
                     SUM(CASE WHEN side = 'BUY' THEN price * amount ELSE 0.0 END) OVER w AS b,
                     SUM(CASE WHEN side <> 'BUY' THEN price * amount ELSE 0.0 END) OVER w AS s
              FROM events
              WINDOW w AS (ORDER BY ts RANGE BETWEEN {20 * 10**9} PRECEDING AND CURRENT ROW))
        ORDER BY i""").df()["tvi"].to_numpy()
    assert (np.diff(ts) == 0).sum() > n // 2 and np.isnan(price).any()
    (got,), _ = TradeVolumeImbalance.kernel(ts, [price, amount, is_buy], {"window": "20s"})
    np.testing.assert_allclose(got, want, rtol=RTOL, atol=1e-12)


def test_ohlcv_shows_a_bar_from_its_bucket_end():
    """Trades at 10:00:00 (100), 10:00:30 (101), 10:00:59 (200),
    10:01:30 (102), 10:02:30 (103) and later, 1m bars: no bar before
    10:01, and the 10:00 bar's close (the 10:00:59 trade) only from then
    on."""
    sec = np.array([0, 30, 59, 90, 150, 180, 181, 240])
    ts = (36_000 + sec).astype(np.int64) * 1_000_000_000
    price = np.array([100.0, 101.0, 200.0, 102.0, 103.0, np.nan, 3.0, 1.0])
    amount = np.array([1.0, 2.0, 1.0, 0.0, np.nan, 2.0, -2.0, 0.0])
    out, state = OHLCV.kernel(ts, [price, amount], {"window": "1m"})
    bars = np.column_stack(out)
    assert np.isnan(bars[:3]).all()
    assert bars[3].tolist() == [100.0, 200.0, 100.0, 200.0, 4.0, 502.0 / 4, 3.0]
    # the 10:01 bar: volume 0 gives a NULL vwap
    assert np.array_equal(bars[4], [102.0, 102.0, 102.0, 102.0, 0.0, np.nan, 1.0], equal_nan=True)
    # the 10:02 bar: a null amount adds no volume, and all-null amounts sum to NULL
    assert np.array_equal(bars[5], [103.0, 103.0, 103.0, 103.0, np.nan, np.nan, 1.0], equal_nan=True)
    # the 10:03 bar: signed amounts summing to 0 give a NULL vwap; its
    # null-price trade counts, and adds to the volume only
    assert np.array_equal(bars[7], [np.nan, 3.0, 3.0, 3.0, 0.0, np.nan, 2.0], equal_nan=True)
    assert state[0].tolist() == [ts[7], ts[7]]


def test_ohlcv_equals_pandas_bars():
    """One pass over trades with 20% null prices and amounts, equal-ts
    peers at bucket edges, zero amounts, idle gaps of several empty
    buckets and times before the epoch == pandas_bars."""
    rng = np.random.default_rng(23)
    n, window = 4000, 10_000
    ts = np.sort(rng.integers(-200, 2000, n)) * 1_000
    ts[ts > 1_000_000] += 50 * window
    price = np.round(100 + np.cumsum(rng.normal(0, 0.5, n)), 1)
    amount = rng.choice([0.0, 1.0, 2.5, 3.0], n)
    price[rng.random(n) < 0.2] = np.nan
    amount[rng.random(n) < 0.2] = np.nan
    assert (np.diff(ts) == 0).sum() > n // 2 and (ts < 0).any()
    out, _ = OHLCV.kernel(ts, [price, amount], {"window": window / 1e9})
    want = pandas_bars(ts, price, amount, window)
    assert_bars_equal(out, want)
    assert np.isnan(want[5]).any() and (~np.isnan(want[0])).sum() > n // 2
