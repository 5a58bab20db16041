#!/usr/bin/env python
"""Product-level Kappa demo: train on the batch FeatureLabelSet, then
serve the SAME feature graph online as one streaming query — feature
stream (one inference vector per event) -> in-stream scoring — and
report batch==stream agreement on the flagship columns.

Run: python examples/streaming_flagship.py [sf_dir]
(reference topology: batch builder.py:302-330 + online
feature_stream_graph.py / inference_loop.py — here the model scores
inside the stream, no RPC hop)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from svoe_spark.consumers.trainer import r2, score, train_regressor  # noqa: E402
from svoe_spark.flagship import flagship_streaming_scored  # noqa: E402
from svoe_spark.plans.featurizer import Featurizer  # noqa: E402
from svoe_spark.session import get_spark  # noqa: E402

MID, VOL, LABEL = "mid-mid_price", "vol-volatility", "label_mid-mid_price"

CFG = {
    "data_source": {"kind": "table", "table": "events", "sf_dir": None,
                    "select": ["ts", "event_type", "value"]},
    "keys": ["event_type"],
    "features": [
        {"name": "mid", "feature_definition": "mid_price",
         "params": {"price_col": "value"}},
        {"name": "vol", "feature_definition": "volatility_stddev",
         "deps": ["mid"], "params": {"window": "1h"}},
    ],
    "label_feature": "mid",
    "label_lookahead": "1h",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("streaming_flagship")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = {**CFG, "data_source": {**CFG["data_source"], "sf_dir": sf_dir}}

    # offline: FeatureLabelSet -> model
    fls = Featurizer(spark).run(cfg)
    model = train_regressor(fls, [MID, VOL], LABEL)
    print(f"offline r2 = {r2(score(model, fls), LABEL):.4f}")

    # online: same features as streams, scored in-stream
    with tempfile.TemporaryDirectory() as td:
        scored = flagship_streaming_scored(spark, sf_dir, td, model)
        batch = {
            (r["event_type"], r["ts"]): r["prediction"]
            for r in score(model, fls).collect()
        }
        agree = total = 0
        for r in scored.collect():
            k = (r["event_type"], r["ts"])
            if k in batch:
                total += 1
                if abs(r["prediction"] - batch[k]) <= 1e-6 * max(1.0, abs(batch[k])):
                    agree += 1
        print(
            f"streamed {scored.count()} scored vectors; "
            f"batch==stream prediction agreement {agree}/{total}"
        )


if __name__ == "__main__":
    main()
