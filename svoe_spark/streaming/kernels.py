"""Per-event window kernels: the one definition of trailing stddev and
ewma, shared by the online operator (streaming.feature_vector, which
trailing_stddev_stream also runs) and the batch feature definitions.

A kernel maps one key's batch of events, sorted by event time, and the
state carried from the key's previous batch to (outputs, new state):
any split of a series into consecutive batches gives the outputs of one
pass over the whole series. State contracts:

  trailing_stddev: (ts, values) — the non-null events with
      ts >= latest event time - window; int64 and float64 arrays.
  ewma: (value, pending) — the ewma after the last non-null input (NaN
      before the first one) and the count of null inputs since then.

Nulls (NaN) follow the batch forms: stddev skips them as `stddev_samp`
does, ewma carries through them as `pandas.Series.ewm` does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_EPS = np.finfo(float).eps
# a window whose estimated relative error in the prefix form exceeds
# this is recomputed two-pass (kept far below the 1e-9 the kernel is
# checked against: numpy's cumsum error grows with the buffer length)
_PREFIX_RTOL = 1e-12
# elements gathered per two-pass chunk, bounding its memory
_TWO_PASS_CHUNK = 1 << 20


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
    buf_ts, buf_v = state or ((), ())
    buf_ts, buf_v = np.asarray(buf_ts, dtype=np.int64), np.asarray(buf_v, dtype=float)
    if not len(ts):
        return np.empty(0), (buf_ts, buf_v)
    ok = ~np.isnan(values)
    all_ts = np.concatenate([buf_ts, ts[ok]])
    all_v = np.concatenate([buf_v, values[ok]])
    lo = np.searchsorted(all_ts, ts - window, side="left")
    hi = np.searchsorted(all_ts, ts, side="right")
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
    keep = all_ts >= ts[-1] - window
    return out, (all_ts[keep], all_v[keep])


def _two_pass_std(v: np.ndarray, lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Sample stddev of each window v[lo:lo+n] (n >= 2): shift by the
    window's first value, then a corrected two-pass sum of squares.
    Windows are gathered in chunks of about _TWO_PASS_CHUNK elements."""
    out = np.empty(len(n))
    ends = np.cumsum(n)
    i = 0
    while i < len(n):
        base = ends[i - 1] if i else 0
        j = max(i + 1, int(np.searchsorted(ends, base + _TWO_PASS_CHUNK, side="right")))
        cn, clo = n[i:j], lo[i:j]
        starts = np.cumsum(cn) - cn
        flat = np.arange(cn.sum()) - np.repeat(starts - clo, cn)
        seg = v[flat] - np.repeat(v[clo], cn)
        dev = seg - np.repeat(np.add.reduceat(seg, starts) / cn, cn)
        s = np.add.reduceat(dev, starts)
        m2 = np.add.reduceat(dev * dev, starts) - s * s / cn
        out[i:j] = np.sqrt(np.maximum(m2, 0.0) / (cn - 1))
        i = j
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
