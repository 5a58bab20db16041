"""Per-event window kernels: the one definition of trailing stddev,
ewma, closed OHLCV bars and the trailing-window buffer, shared by the
online operator (streaming.feature_vector) and the batch feature
definitions.

A kernel maps one key's batch of events, sorted by event time (int64
UTC ns, the instant: both paths read it as µs, never as session-zone
wall time, so a DST fall-back hour keeps its order and ``closed_bars``
aligns to UTC midnight in any session zone), and the
state carried from the key's previous batch to (outputs, new state):
any split of a series into consecutive batches gives the outputs of one
pass over the whole series. State contracts:

  window_buffer (trailing_stddev; the diff and tvi definitions):
      (ts, *values) — the buffered events with ts >= latest event
      time - window; an int64 array and float64 arrays. trailing_stddev
      buffers its non-null values, diff all of them.
  ewma: (value, pending) — the ewma after the last non-null input (NaN
      before the first one) and the count of null inputs since then.
  closed_bars: (span, partial, closed) — the open bucket's first and
      last event times (empty before the first event), its partial
      aggregates and the last closed bar.

Nulls (NaN) follow the batch forms: stddev skips them as `stddev_samp`
does, ewma carries through them as `pandas.Series.ewm` does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_EPS = np.finfo(float).eps
# a window whose estimated relative error in the prefix form exceeds
# this is recomputed directly (kept far below the 1e-9 the kernel is
# checked against: numpy's cumsum error grows with the buffer length)
_PREFIX_RTOL = 1e-12
# elements gathered per chunk of directly summed windows, bounding its memory
_GATHER_CHUNK = 1 << 20


def window_buffer(ts, ev_ts, ev_values, window: int, state=None) -> tuple:
    """The trailing-window buffer of the windowed kernels: append the
    events (``ev_ts`` sorted int64, ``ev_values`` float64 arrays of the
    same length) to the carried buffer ``state`` = (ts, *values), None
    before the first batch.

    Returns (all_values, lo, hi, new_state): the buffered then the new
    events' values, and for each query time t in ``ts`` (sorted) the
    bounds [lo, hi) of the events in [t - window, t], equal-timestamp
    peers included as in a RANGE frame; new_state keeps the events a
    later query (t >= ts[-1]) can read."""
    buf = state or ((),) * (1 + len(ev_values))
    all_ts = np.concatenate([np.asarray(buf[0], dtype=np.int64), ev_ts])
    all_v = [np.concatenate([np.asarray(b, dtype=float), v]) for b, v in zip(buf[1:], ev_values)]
    lo = np.searchsorted(all_ts, ts - window, side="left")
    hi = np.searchsorted(all_ts, ts, side="right")
    keep = all_ts >= ts[-1] - window if len(ts) else slice(None)
    return all_v, lo, hi, (all_ts[keep], *(v[keep] for v in all_v))


def trailing_stddev(ts, values, window: int, state=None) -> tuple[np.ndarray, tuple]:
    """Sample stddev of the non-null values with event time in
    [t - window, t], for each event time t in ``ts`` (sorted int64, the
    same unit as ``window``). Equal-timestamp peers are inside each
    other's window, as in a RANGE frame; fewer than two values give NaN.

    Window moments are differences of prefix sums of the values shifted
    by the buffer's first value. Where that cancels too much (a window
    whose spread is tiny against its offset from the shift, e.g. a flat
    series), the window is recomputed two-pass."""
    ts = np.asarray(ts, dtype=np.int64)
    values = np.asarray(values, dtype=float)
    ok = ~np.isnan(values)
    (all_v,), lo, hi, state = window_buffer(ts, ts[ok], [values[ok]], window, state)
    n = hi - lo
    d = all_v - (all_v[0] if len(all_v) else 0.0)
    p1, a1, p2 = (np.concatenate([[0.0], np.cumsum(x)]) for x in (d, np.abs(d), d * d))
    s1, s2 = p1[hi] - p1[lo], p2[hi] - p2[lo]
    with np.errstate(divide="ignore", invalid="ignore"):
        m2 = s2 - s1 * s1 / n
        err = _EPS * (p2[hi] + p2[lo] + 2 * np.abs(s1) * (a1[hi] + a1[lo]) / n)
        out = np.where(n > 1, np.sqrt(np.maximum(m2, 0.0) / (n - 1)), np.nan)
    redo = np.flatnonzero((n > 1) & ~(err <= _PREFIX_RTOL * m2))
    if len(redo):
        out[redo] = _two_pass_std(all_v, lo[redo], n[redo])
    return out, state


def window_sums(values: list, lo: np.ndarray, hi: np.ndarray) -> list[np.ndarray]:
    """Sum of each array in ``values`` over each window [lo, hi).

    Sums are differences of prefix sums restarted every L elements, L
    the longest window: a window spans at most two blocks, so the
    prefixes it subtracts stay of the order of a few windows however
    long the series. Windows whose estimated rounding error still
    exceeds _PREFIX_RTOL of the windows' summed magnitudes (the arrays'
    together) are summed directly."""
    size = max(1, int((hi - lo).max(initial=0)))
    start = lo // size
    cross = hi // size != start
    sums, err = [], 0.0
    for v in values:
        q, total = _block_prefix(v, size)
        aq, atotal = _block_prefix(np.abs(v), size)
        sums.append((np.where(cross, total[start], 0.0) - q[lo]) + q[hi])
        err = err + _EPS * (aq[lo] + aq[hi] + np.where(cross, atotal[start], 0.0))
    redo = np.flatnonzero((hi > lo) & ~(err <= _PREFIX_RTOL * sum(np.abs(s) for s in sums)))
    for v, s in zip(values, sums):
        for i, j, seg, starts in _gather(v, lo[redo], (hi - lo)[redo]):
            s[redo[i:j]] = np.add.reduceat(seg, starts)
    return sums


def _block_prefix(v: np.ndarray, size: int) -> tuple[np.ndarray, np.ndarray]:
    """(q, total): q[k] the sum of v from the start of k's block of
    ``size`` elements up to k (exclusive), for k in [0, len(v)]; total
    each block's sum."""
    blocks = np.zeros((len(v) // size + 1, size))
    blocks.ravel()[: len(v)] = v
    c = np.cumsum(blocks, axis=1)
    q = np.zeros_like(c)
    q[:, 1:] = c[:, :-1]
    return q.ravel(), c[:, -1]


def _gather(v: np.ndarray, lo: np.ndarray, n: np.ndarray):
    """The windows v[lo:lo+n] (n >= 1) in chunks of about
    _GATHER_CHUNK elements: yields (i, j, seg, starts), windows i:j
    concatenated in seg, each starting at its offset in starts."""
    ends = np.cumsum(n)
    i = 0
    while i < len(n):
        base = ends[i - 1] if i else 0
        j = max(i + 1, int(np.searchsorted(ends, base + _GATHER_CHUNK, side="right")))
        cn, clo = n[i:j], lo[i:j]
        starts = np.cumsum(cn) - cn
        yield i, j, v[np.arange(cn.sum()) - np.repeat(starts - clo, cn)], starts
        i = j


def _two_pass_std(v: np.ndarray, lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Sample stddev of each window v[lo:lo+n] (n >= 2): shift by the
    window's first value, then a corrected two-pass sum of squares."""
    out = np.empty(len(n))
    for i, j, seg, starts in _gather(v, lo, n):
        cn = n[i:j]
        seg = seg - np.repeat(seg[starts], cn)
        dev = seg - np.repeat(np.add.reduceat(seg, starts) / cn, cn)
        s = np.add.reduceat(dev, starts)
        m2 = np.add.reduceat(dev * dev, starts) - s * s / cn
        out[i:j] = np.sqrt(np.maximum(m2, 0.0) / (cn - 1))
    return out


def ewma(values, alpha: float, state=None) -> tuple[np.ndarray, tuple[float, int]]:
    """e_i = alpha*x_i + (1-alpha)*e_{i-1}, seeded with the carried
    value: bit-equal to ``pandas.Series.ewm(alpha=alpha,
    adjust=False).mean()`` over the whole series. A null input outputs
    the carried value; as in pandas, each null since the last input
    also decays the carried value's weight in the next update, which is
    why the state counts them."""
    values = np.asarray(values, dtype=float)
    last, pending = state or (float("nan"), 0)
    # a NaN seed is a no-op: pandas starts at the first non-null input
    seeded = pd.Series(np.concatenate([[last], np.full(pending, np.nan), values]))
    out = seeded.ewm(alpha=alpha, adjust=False).mean().to_numpy()[1 + pending :]
    seen = np.flatnonzero(~np.isnan(values))
    if len(seen):
        return out, (float(out[seen[-1]]), len(values) - 1 - int(seen[-1]))
    return out, (last, pending + len(values) if last == last else 0)


def closed_bars(ts, price, amount, window: int, state=None) -> tuple[list[np.ndarray], tuple]:
    """At each event time t in ``ts`` (sorted int64), the last closed
    OHLCV bar of the epoch-aligned buckets [k*window, (k+1)*window): the
    latest bucket with events whose end is <= t. Returns its open, high,
    low, close, volume, vwap and num_trades as float64 arrays (NaN
    before the first bar closes) and the new state.

    Bars follow ``operators.windows.ohlcv``: high, low and volume skip
    null (NaN) inputs and are NaN when all are null, num_trades counts
    rows, vwap is sum(price*amount) / volume, NaN when volume is 0.
    open (close) is the price of the bucket's first (last) event; where
    several events share that time, the lowest (highest) non-null price
    among them, so a bar does not depend on the order of peers."""
    span, c_part, closed = state or (np.empty(0, np.int64), np.full(7, np.nan), np.full(7, np.nan))
    n = len(ts)
    if not n:
        return [np.empty(0)] * 7, (span, c_part, closed)
    bucket = ts // window
    new = np.concatenate([[True], bucket[1:] != bucket[:-1]])
    starts = np.flatnonzero(new)
    seg = np.cumsum(new) - 1
    first, last = ts[starts], ts[np.append(starts[1:], n) - 1]
    # partial aggregates per bucket: open, high, low, close, volume, sum(price*amount), count
    part = np.stack([
        np.fmin.reduceat(np.where(ts == first[seg], price, np.nan), starts),
        np.fmax.reduceat(price, starts),
        np.fmin.reduceat(price, starts),
        np.fmax.reduceat(np.where(ts == last[seg], price, np.nan), starts),
        _null_sums(amount, starts),
        _null_sums(price * amount, starts),
        np.diff(np.append(starts, n)).astype(float),
    ], axis=1)
    if len(span) and span[0] // window == bucket[0]:  # the batch continues the open bucket
        o, h, lo, c, vol, pv, cnt = part[0]
        part[0] = (np.fmin(c_part[0], o) if first[0] == span[0] else c_part[0],
                   np.fmax(c_part[1], h), np.fmin(c_part[2], lo),
                   np.fmax(c_part[3], c) if last[0] == span[1] else c,
                   _null_add(c_part[4], vol), _null_add(c_part[5], pv), c_part[6] + cnt)
        first[0] = span[0]
    elif len(span):
        closed = _bar(c_part)
    # bars[k]: the bar closed when bucket k opens
    bars = np.vstack([closed, _bar(part[:-1])])
    return list(bars[seg].T), (np.array([first[-1], last[-1]]), part[-1], bars[-1])


def _null_sums(v: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """SQL SUM of each segment of v starting at ``starts``: the non-null
    values' sum, NaN where all are null."""
    ok = ~np.isnan(v)
    return np.where(np.logical_or.reduceat(ok, starts), np.add.reduceat(np.where(ok, v, 0.0), starts), np.nan)


def _null_add(a: float, b: float) -> float:
    """SQL SUM of two partial sums, NaN meaning no non-null term."""
    return b if np.isnan(a) else a if np.isnan(b) else a + b


def _bar(part: np.ndarray) -> np.ndarray:
    """Bars (open, high, low, close, volume, vwap, num_trades) from the
    partial aggregates of closed buckets, one per row."""
    vol, pv = part[..., 4], part[..., 5]
    with np.errstate(divide="ignore", invalid="ignore"):
        vwap = np.where(vol != 0, pv / vol, np.nan)
    return np.concatenate([part[..., :5], vwap[..., None], part[..., 6:]], axis=-1)
