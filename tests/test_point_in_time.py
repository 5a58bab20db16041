"""Point-in-time correctness of the FeatureLabelSet: no feature of an
FLS row may read an event after the row's time. For every registered
definition, and a user definition loaded through ``definition_paths``,
changing every event after a cut time t must leave the feature columns
of the rows at ts <= t unchanged (labels read the future by design)."""

import numpy as np
import pandas as pd
import pytest

from svoe_spark.plans.definitions import REGISTRY
from svoe_spark.plans.featurizer import Featurizer
from test_definition_loading import USER_FD
from test_featurizer_fused import T0, _write

CUT = T0 + pd.Timedelta(seconds=107.5)  # inside a 20 s bucket


def _trades(seed: int, after=None) -> pd.DataFrame:
    """Quotes and trades on two symbols over ~200 s (unique ts per
    symbol, gaps 0.1-3 s, 10% null prices and amounts). With ``after``,
    every event after it gets new values from another seed."""
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
        new = _trades(seed + 1000)
        for c in ("bid", "ask", "price", "amount", "side"):
            df.loc[late, c] = new.loc[late, c]
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


@pytest.mark.parametrize("name", [*sorted(REGISTRY), "doubled_mid"])
def test_fls_features_do_not_read_the_future(spark, tmp_path, name):
    user_fd = tmp_path / "user_fd.py"
    user_fd.write_text(USER_FD)
    frames = []
    for i, after in enumerate((None, CUT)):
        path = _write(_trades(1, after), str(tmp_path / f"trades{i}.parquet"))
        cfg = {"data_source": {"kind": "parquet", "path": path}, "keys": ["sym"],
               "definition_paths": [str(user_fd)], "features": _features(name),
               "label_feature": "mid", "label_lookahead": "5s"}
        out = Featurizer(spark).run(cfg).toPandas()
        frames.append(out[out["ts"] <= CUT].sort_values(["sym", "ts"]).reset_index(drop=True))
    before, after = frames
    features = [c for c in before.columns if c.startswith(("mid-", "f-"))]
    assert len(before) > 80 and len(features) > (name != "mid_price")
    for c in ["sym", "ts", *features]:
        a, b = before[c].to_numpy(), after[c].to_numpy()
        if a.dtype.kind == "f":
            assert np.array_equal(a, b, equal_nan=True), c
        else:
            assert (a == b).all(), c
