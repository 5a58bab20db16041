"""Reference computations the benchmark compares engine outputs against.

Plain pandas/numpy, written from the feature definitions' documented
semantics, not from the engine's code."""

from __future__ import annotations

import numpy as np
import pandas as pd

RTOL = 1e-9
#: absolute slack for prices of O(100): a few ulps of the inputs
ATOL = 1e-9


def _trailing_first_index(ts_us: np.ndarray, window_us: int) -> np.ndarray:
    """Index of the first row inside [ts - window, ts] (ts sorted)."""
    return np.searchsorted(ts_us, ts_us - window_us, side="left")


def fls_reference(quotes: pd.DataFrame, lookahead_s: float, window_s: float, alpha: float) -> pd.DataFrame:
    """FeatureLabelSet of one instrument's quotes (unique ts): mid,
    relative spread, trailing stddev and pct-change over the closed
    window [ts - window, ts], event-indexed ewma, each joined backward
    as-of onto the label rows, and the label: mid ``lookahead_s`` ahead
    (backward as-of at ts + lookahead), dropping rows whose lookahead
    passes the last quote."""
    q = quotes.sort_values("ts").reset_index(drop=True)
    ts = q["ts"].to_numpy()
    ts_us = ts.astype("datetime64[us]").astype(np.int64)
    mid = ((q["bid"] + q["ask"]) / 2).to_numpy()
    feats = pd.DataFrame({"ts": ts, "mid": mid})
    feats["spr"] = (2.0 * (q["bid"] - q["ask"]).abs() / (q["bid"] + q["ask"])).to_numpy()
    lo = _trailing_first_index(ts_us, int(round(window_s * 1e6)))
    # two-pass std per window: pandas' rolling std accumulates rounding
    # error along the series
    feats["vol"] = [
        mid[a : b + 1].std(ddof=1) if b > a else np.nan for b, a in enumerate(lo)
    ]
    first = mid[lo]
    feats["mom"] = np.where(first != 0, (mid - first) / first, np.nan)
    feats["ew"] = pd.Series(mid).ewm(alpha=alpha, adjust=False).mean().to_numpy()

    ahead = pd.DataFrame({"ts": ts - pd.Timedelta(seconds=lookahead_s), "label": mid})
    labels = pd.merge_asof(feats[["ts"]], ahead, on="ts", direction="backward")
    labels = labels[labels["ts"] + pd.Timedelta(seconds=lookahead_s) <= ts[-1]]
    out = labels
    # The engine's as-of join takes each feature's latest non-null value
    # (a 1m window holding one quote has no stddev, and the row then
    # carries the instrument's previous volatility), so the reference
    # matches against the rows where the feature is defined.
    for col in ("mid", "spr", "vol", "mom", "ew"):
        out = pd.merge_asof(out, feats[["ts", col]].dropna(), on="ts", direction="backward")
    return out.reset_index(drop=True)


def mismatches(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> int:
    """Rows whose ``cols`` differ (NaN equals NaN/None); a row-count
    difference counts every row of the longer frame."""
    if len(got) != len(want):
        return max(len(got), len(want))
    bad = np.zeros(len(got), dtype=bool)
    for c in cols:
        a = pd.to_numeric(got[c], errors="coerce").to_numpy(dtype=float)
        b = pd.to_numeric(want[c], errors="coerce").to_numpy(dtype=float)
        bad |= ~np.isclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True)
    return int(bad.sum())
