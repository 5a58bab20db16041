"""Product-level Kappa: the flagship's ONLINE leg (one streaming query:
feature stream -> inference vector -> in-stream scoring) must reproduce
the BATCH FeatureLabelSet's feature columns and model predictions at
every event instant."""

import math
import os

import pytest
from pyspark.sql import functions as F

from svoe_spark.consumers.trainer import score, train_regressor
from svoe_spark.flagship import _online_vector, flagship_config, flagship_streaming_scored
from svoe_spark.plans.featurizer import Featurizer
from svoe_spark.streaming.sinks import run_available_to_memory

MID, VOL = "mid-mid_price", "vol-volatility"

CFG = {
    "data_source": {"kind": "table", "table": "events", "sf_dir": "unused",
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


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_streaming_flagship_equals_batch(spark, sf_small, tmp_path):
    cfg = {**CFG, "data_source": {**CFG["data_source"], "sf_dir": sf_small}}
    fls = Featurizer(spark).run(cfg)
    model = train_regressor(fls, [MID, VOL], "label_mid-mid_price")

    batch = {
        (r["event_type"], r["ts"]): (r[MID], r[VOL], r["prediction"])
        for r in score(model, fls).collect()
    }
    stream = {
        (r["event_type"], r["ts"]): (r[MID], r[VOL], r["prediction"])
        for r in flagship_streaming_scored(
            spark, sf_small, str(tmp_path), model
        ).collect()
    }

    # batch label rows are the lookahead-truncated subset of all events;
    # the stream scores every event — compare on the batch's instants.
    # (scoring skips warmup rows with null/NaN vol on both sides.)
    missing = set(batch) - set(stream)
    assert not missing
    compared = 0
    for k, (bm, bv, bp) in batch.items():
        sm, sv, sp = stream[k]
        assert sm == bm, k
        assert sv == pytest.approx(bv, rel=1e-9), k
        assert sp == pytest.approx(bp, rel=1e-6), k
        compared += 1
    assert compared > 500


@pytest.mark.heavy  # r10 trim: 9.6 s streaming e2e; round-close sweep runs it
def test_streaming_flagship_scores_all_events(spark, sf_small, tmp_path):
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

    cfg = {**CFG, "data_source": {**CFG["data_source"], "sf_dir": sf_small}}
    fls = Featurizer(spark).run(cfg)
    model = train_regressor(fls, [MID, VOL], "label_mid-mid_price")
    starts = Starts()
    spark.streams.addListener(starts)
    try:
        out = flagship_streaming_scored(spark, sf_small, str(tmp_path), model)
    finally:
        spark.streams.removeListener(starts)
    # one streaming query, and no sink or checkpoint of its own in workdir
    assert starts.started == 1
    assert os.listdir(tmp_path) == ["source"]
    # every non-warmup source event yields one scored vector row
    n = out.count()
    assert n > 900  # 1000 events at sf0.001 minus per-key warmup rows
    assert out.filter(F.col("prediction").isNull()).count() == 0
    # predictions are finite numbers
    bad = [
        r
        for r in out.select("prediction").collect()
        if r["prediction"] is None or math.isnan(r["prediction"])
    ]
    assert not bad


def _write_events(path):
    """Two keys' (ts, event_type, value) in three files, one micro-batch
    each. Events more than 1 h after their key's previous one sit alone
    in their 1 h window: "X" at 150 min (opening the second file), 300
    and 400 min, "Y" at 200 and 330 min."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    minutes = [
        {"X": [0, 10, 20, 30], "Y": [5, 200]},
        {"X": [150, 160, 170], "Y": [210, 215]},
        {"X": [300, 400, 410, 500], "Y": [330, 600]},
    ]
    path.mkdir()
    i = 0
    for j, keys in enumerate(minutes):
        rows = sorted((m, k) for k, ms in keys.items() for m in ms)
        values = [100.0 + ((i + n) * 37 % 11) for n in range(len(rows))]
        i += len(rows)
        f = path / f"part-{j:03d}.parquet"
        pq.write_table(pa.table({
            "ts": pa.array([m * 60_000_000 for m, _ in rows], pa.timestamp("us")),
            "event_type": pa.array([k for _, k in rows]),
            "value": pa.array(values),
        }), f)
        os.utime(f, (1_000_000 + j, 1_000_000 + j))


def test_online_vector_equals_fls(spark, tmp_path):
    """The flagship's online vector, streamed in three micro-batches,
    equals the FeatureLabelSet's mid and vol on every FLS row, the vol
    an event alone in its 1 h window carries from its key's earlier
    events included."""
    path = tmp_path / "events"
    _write_events(path)
    cfg = {**flagship_config("unused"), "data_source": {"kind": "parquet", "path": str(path)}}
    source = (spark.readStream.schema(spark.read.parquet(str(path)).schema)
              .option("maxFilesPerTrigger", 1).parquet(str(path)))
    stream = {(r["event_type"], r["ts"]): (r[MID], r[VOL])
              for r in run_available_to_memory(_online_vector(spark, cfg, source)).collect()}
    assert len(stream) == 17
    fls = Featurizer(spark).run(cfg).collect()
    assert len(fls) > 10
    null = lambda x: x is None or math.isnan(x)  # noqa: E731
    for r in fls:
        m, v = stream[(r["event_type"], r["ts"])]
        assert m == r[MID]
        if null(r[VOL]):
            assert null(v), r
        else:
            assert v == pytest.approx(r[VOL], rel=1e-9), r
    # X at 150 min is alone in its window: its vol is X's last, at 30 min
    x_vol = {t.hour * 60 + t.minute: v for (k, t), (_, v) in stream.items() if k == "X"}
    assert not null(x_vol[30]) and x_vol[150] == x_vol[30]
