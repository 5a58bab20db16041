"""Kappa equivalence (reference T6, the framework's core requirement):
the SAME feature computed over a replayed stream must equal the batch
computation. Plus stateful streaming ops: OHLCV bars, trailing stddev
and order-book reconstruction with state across micro-batches, and
stateless operators run unchanged on a stream."""

import bisect
import datetime
import math

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.orderbook import (
    reconstruct_book,
    reconstruct_book_stream,
    synthetic_l2_updates,
)
from svoe_spark.operators.windows import ohlcv, sliding_stddev
from svoe_spark.plans.featurizer import Featurizer
from svoe_spark.queries import ticks
from svoe_spark.sources.tables import load_table
from svoe_spark.streaming.sinks import run_available_to_memory
from svoe_spark.streaming.sources import replay_parquet


@pytest.fixture(scope="module")
def tick_parquet(spark, sf_small, tmp_path_factory):
    """Ticks written as multiple files so the replay spans micro-batches."""
    path = str(tmp_path_factory.mktemp("stream") / "ticks")
    ticks(spark, sf_small).repartitionByRange(4, "ts").write.parquet(path)
    return path


def _rows(df, keycols):
    return {
        tuple(r[k] for k in keycols): r.asDict() for r in df.collect()
    }


def test_ohlcv_stream_equals_batch(spark, sf_small, tick_parquet):
    """``run_stream`` with ``ohlcv`` gives at each tick the last closed
    bar: the batch ``windows.ohlcv`` bar stamped at its bucket end,
    as-of joined onto the ticks."""
    cfg = {"data_source": {"kind": "parquet", "path": tick_parquet}, "keys": ["event_type"],
           "features": [{"name": "bars", "feature_definition": "ohlcv",
                         "params": {"price_col": "value", "amount_col": "qty", "window": "1h"}}]}
    stream = replay_parquet(spark, tick_parquet).select("event_type", "ts", "value", "qty")
    out = run_available_to_memory(Featurizer(spark).run_stream(cfg, stream)).collect()
    batch = ohlcv(
        ticks(spark, sf_small), on="ts", price="value", amount="qty",
        by="event_type", window="1h",
    ).collect()
    hour = datetime.timedelta(hours=1)
    bars = {}  # per key: (bucket ends, bars) sorted by end
    for b in sorted(batch, key=lambda b: b["window_start"]):
        ends, rows = bars.setdefault(b["event_type"], ([], []))
        ends.append(b["window_start"] + hour)
        rows.append(b)
    assert len(out) == ticks(spark, sf_small).count()
    closed = 0
    for r in out:
        ends, rows = bars[r["event_type"]]
        i = bisect.bisect_right(ends, r["ts"]) - 1
        if i < 0:
            assert r["bars_num_trades"] is None or math.isnan(r["bars_num_trades"]), r
            continue
        closed += 1
        w = rows[i]
        for col in ("open", "high", "low", "close", "volume", "num_trades"):
            assert r[f"bars_{col}"] == w[col], (r, col)
        assert r["bars_vwap"] == pytest.approx(w["vwap"], rel=1e-12, abs=1e-12)
    assert closed > len(out) // 2


def test_trailing_stddev_stream_equals_batch(spark, sf_small, tick_parquet):
    """``run_stream`` of ``volatility_stddev`` over the tick value gives
    the batch ``windows.sliding_stddev`` at every tick."""
    cfg = {"data_source": {"kind": "parquet", "path": tick_parquet}, "keys": ["event_type"],
           "features": [{"name": "mid", "feature_definition": "mid_price", "params": {"price_col": "value"}},
                        {"name": "volatility", "feature_definition": "volatility_stddev",
                         "deps": ["mid"], "params": {"window": "1h"}}]}
    stream = replay_parquet(spark, tick_parquet).select("event_type", "ts", "value")
    out = run_available_to_memory(Featurizer(spark).run_stream(cfg, stream)).withColumnRenamed(
        "volatility_value", "volatility"
    )
    batch = sliding_stddev(
        ticks(spark, sf_small).select("event_type", "ts", "value"),
        on="ts", value="value", by="event_type", window="1h",
    )
    got = _rows(out, ("event_type", "ts"))
    want = _rows(batch, ("event_type", "ts"))
    assert set(got) == set(want)
    mismatches = 0
    for k, w in want.items():
        g, exp = got[k]["volatility"], w["volatility"]
        if exp is None:
            ok = g is None or math.isnan(g)
        else:
            ok = g == pytest.approx(exp, rel=1e-9)
        mismatches += 0 if ok else 1
    assert mismatches == 0


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
@pytest.mark.filterwarnings("error::UserWarning")
def test_orderbook_stream_equals_batch(spark, sf_small, tmp_path):
    import time

    events = load_table(spark, "events", sf_small)
    updates = synthetic_l2_updates(events)
    path = str(tmp_path / "l2")
    # the stateful op assumes in-order arrival per key (the reference's
    # invariant, T5): the file source orders micro-batches by mtime, so
    # write the time-ranges sequentially to model an ordered feed
    bounds = updates.selectExpr(
        "min(ts) lo", "max(ts) hi"
    ).first()
    step = (bounds["hi"] - bounds["lo"]) / 4
    for i in range(4):
        lo = bounds["lo"] + i * step
        hi = bounds["hi"] if i == 3 else bounds["lo"] + (i + 1) * step
        chunk = updates.filter(
            (F.col("ts") >= lo) & (F.col("ts") <= hi if i == 3 else F.col("ts") < hi)
        )
        chunk.coalesce(1).write.mode("append").parquet(path)
        time.sleep(1.1)  # file-source mtime ordering is second-granular

    stream = (
        spark.readStream.schema(updates.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    got = _rows(
        run_available_to_memory(reconstruct_book_stream(stream, depth=10)),
        ("symbol", "ts"),
    )
    want = _rows(reconstruct_book(updates, depth=10), ("symbol", "ts"))
    assert set(got) == set(want)
    diffs = [
        k
        for k in want
        if (got[k]["bids"], got[k]["asks"], got[k]["inconsistencies"])
        != (want[k]["bids"], want[k]["asks"], want[k]["inconsistencies"])
    ]
    assert diffs == []


def test_book_stream_started_live_keeps_state_in_one_partition(spark, sf_small, tmp_path):
    """Started live (``sinks.foreach_batch``'s default trigger), the book
    stream keeps its new checkpoint's state in one partition and emits
    the batch books of a one-file replay."""
    from conftest import state_store_instances

    from svoe_spark.streaming.sinks import foreach_batch

    updates = synthetic_l2_updates(load_table(spark, "events", sf_small))
    path = str(tmp_path / "l2")
    updates.coalesce(1).write.parquet(path)
    rows = []
    query = foreach_batch(
        reconstruct_book_stream(replay_parquet(spark, path), depth=10),
        lambda df, _: rows.extend(df.collect()),
        str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert state_store_instances(query) == {1}
    got = {(r["symbol"], r["ts"]): (r["bids"], r["asks"], r["inconsistencies"]) for r in rows}
    want = _rows(reconstruct_book(updates, depth=10), ("symbol", "ts"))
    assert got == {k: (w["bids"], w["asks"], w["inconsistencies"]) for k, w in want.items()}
    assert len(rows) == len(want)


def test_stateless_minhash_runs_on_stream(spark, sf_small, tmp_path):
    """The array-side MinHash signature is a narrow projection, so the
    SAME operator code must run unchanged on a streaming DataFrame
    (Kappa for the LLM-pipeline layer) and emit identical signatures."""
    from svoe_spark.operators.dedup import minhash_signature

    docs = load_table(spark, "documents", sf_small).select("doc_id", "text")
    path = str(tmp_path / "docs")
    docs.repartitionByRange(3, "doc_id").write.parquet(path)

    stream = spark.readStream.schema(docs.schema).parquet(path)
    out = run_available_to_memory(minhash_signature(stream), "minhash_stream")
    batch = minhash_signature(spark.read.parquet(path))

    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(map(tuple, out.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, batch.collect()), key=lambda t: t[0]
    )


def test_stateless_cleaning_runs_on_stream(spark, sf_small, tmp_path):
    """pii_redact and repetition_signals are narrow projections (spread
    passes streams through untouched), so the SAME operator code runs
    unchanged on a streaming DataFrame and emits identical rows —
    Kappa for the corpus-cleaning layer."""
    from svoe_spark.operators.cleaning import pii_redact, repetition_signals

    docs = load_table(spark, "documents", sf_small).select("doc_id", "text")
    path = str(tmp_path / "docs")
    docs.repartitionByRange(3, "doc_id").write.parquet(path)

    stream = spark.readStream.schema(docs.schema).parquet(path)
    batch = spark.read.parquet(path)
    for op, name in ((pii_redact, "pii_stream"), (repetition_signals, "rep_stream")):
        out = run_available_to_memory(op(stream), name)
        k = lambda t: t[0]  # noqa: E731
        assert sorted(map(tuple, out.collect()), key=k) == sorted(
            map(tuple, op(batch).collect()), key=k
        )
