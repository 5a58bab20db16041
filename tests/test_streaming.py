"""Kappa equivalence (reference T6, the framework's core requirement):
the SAME feature computed over a replayed stream must equal the batch
computation. Plus stateful streaming ops: OHLCV bars, trailing stddev,
running reduce, order-book reconstruction with state across
micro-batches."""

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


def test_running_reduce_stream(spark, sf_small, tick_parquet):
    from svoe_spark.streaming.aggregate import keyed_reduce_stream

    stream = replay_parquet(spark, tick_parquet).select(
        F.col("event_type").alias("symbol"), F.col("ts"), F.col("value")
    )
    out = run_available_to_memory(
        keyed_reduce_stream(stream, value="value", ops=["sum", "count", "max"])
    )
    rows = sorted(
        (r for r in out.collect() if r["symbol"] == "click"), key=lambda r: r["ts"]
    )
    vals = [r["value"] for r in rows]
    assert rows[-1]["sum_value"] == pytest.approx(sum(vals))
    assert rows[-1]["count_value"] == len(vals)
    assert rows[-1]["max_value"] == max(vals)
    # running invariants hold at every prefix
    run = 0.0
    for r in rows:
        run += r["value"]
        assert r["sum_value"] == pytest.approx(run)


def test_running_reduce_stream_skips_nulls_across_batches(spark, tmp_path):
    """Two files replayed as two micro-batches, the first ending in a
    null value: every running op equals ``combine.running_reduce``'s
    SQL aggregates, whose sum/min/max skip nulls."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from svoe_spark.operators.combine import running_reduce
    from svoe_spark.streaming.aggregate import keyed_reduce_stream

    path = tmp_path / "vals"
    path.mkdir()
    files = [  # (symbol, second, value) per file
        [("s", 0, 1.0), ("s", 1, None), ("m", 0, 5.0), ("m", 1, None), ("n", 0, None)],
        [("s", 2, 2.0), ("m", 2, 1.0), ("m", 3, 7.0), ("n", 1, None), ("n", 2, 3.0)],
    ]
    for j, rows in enumerate(files):
        sym, sec, val = zip(*rows)
        f = path / f"part-{j}.parquet"
        pq.write_table(pa.table({
            "symbol": pa.array(sym),
            "ts": pa.array([s * 1_000_000 for s in sec], pa.timestamp("us", tz="UTC")),
            "value": pa.array(val, pa.float64()),
        }), f)
        os.utime(f, (1_000_000 + j, 1_000_000 + j))
    ops = ["sum", "count", "min", "max", "last"]
    stream = spark.readStream.schema(spark.read.parquet(str(path)).schema).option(
        "maxFilesPerTrigger", 1).parquet(str(path))
    got = run_available_to_memory(keyed_reduce_stream(stream, value="value", ops=ops))
    want = running_reduce(spark.read.parquet(str(path)), {
        "sum_value": F.sum("value"), "count_value": F.count(F.lit(1)),
        "min_value": F.min("value"), "max_value": F.max("value"), "last_value": F.last("value"),
    }, on="ts", by="symbol")
    cols = ["symbol", "ts", *[f"{op}_value" for op in ops]]
    nan_to_none = lambda r: tuple(None if isinstance(x, float) and math.isnan(x) else x for x in r)  # noqa: E731
    assert sorted(map(nan_to_none, got.select(cols).collect())) == sorted(
        map(nan_to_none, want.select(cols).collect())
    )


def test_stream_exact_dedup_equals_batch(spark, sf_small, tmp_path):
    """Streaming exact dedup must keep exactly one survivor per distinct
    content, with the same distinct-content set as the batch hash
    groupBy (survivor identity differs: first-arrival vs min-id)."""
    from svoe_spark.operators.dedup import (
        drop_exact_duplicates,
        drop_exact_duplicates_stream,
    )

    docs = (
        load_table(spark, "documents", sf_small)
        .limit(200)
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(1_700_000_000 + F.col("doc_id")).alias("ts"),
        )
    )
    # duplicate every doc under a new id so the stream sees real dups
    dupped = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "ts")
    )
    path = str(tmp_path / "docs")
    dupped.repartitionByRange(4, "doc_id").write.parquet(path)

    stream = replay_parquet(spark, path)
    out = run_available_to_memory(
        drop_exact_duplicates_stream(stream), "dedup_stream"
    )
    batch = drop_exact_duplicates(spark.read.parquet(path))

    stream_texts = sorted(r["text"] for r in out.collect())
    batch_texts = sorted(r["text"] for r in batch.collect())
    assert stream_texts == batch_texts
    assert len(stream_texts) == len(set(stream_texts))


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


def test_keyed_reduce_dispatch(spark):
    from svoe_spark.streaming.aggregate import keyed_reduce_stream

    df = spark.readStream.format("rate").load().selectExpr(
        "'k' AS symbol", "timestamp AS ts", "CAST(value AS DOUBLE) AS value"
    )
    q = keyed_reduce_stream(df, value="value", ops=["sum"])
    assert q.isStreaming


@pytest.mark.heavy  # round-10 quick-tier trim (slowest cases -> sharded tier)
def test_stream_curation_chain_equals_batch(spark, sf_small, tmp_path):
    """Kappa for the curation layer: the SAME operator code — linear
    quality classifier (stateless projection) -> keep-filter ->
    streaming exact dedup — over a replayed document stream keeps
    exactly the batch chain's distinct surviving contents."""
    from svoe_spark.operators.dedup import (
        drop_exact_duplicates,
        drop_exact_duplicates_stream,
    )
    from svoe_spark.operators.text_analysis import quality_classifier

    docs = (
        load_table(spark, "documents", sf_small)
        .limit(200)
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(1_700_000_000 + F.col("doc_id")).alias("ts"),
        )
    )
    dupped = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "ts")
    )
    path = str(tmp_path / "docs")
    dupped.repartitionByRange(4, "doc_id").write.parquet(path)

    def chain(df, dedup):
        scored = quality_classifier(df, threshold=-0.25, passthrough=True)
        kept = scored.where("keep").select("doc_id", "text", "ts")
        return dedup(kept)

    stream_out = run_available_to_memory(
        chain(replay_parquet(spark, path), drop_exact_duplicates_stream),
        "curation_stream",
    )
    batch_out = chain(spark.read.parquet(path), drop_exact_duplicates)

    s_texts = sorted(r["text"] for r in stream_out.collect())
    b_texts = sorted(r["text"] for r in batch_out.collect())
    assert s_texts == b_texts
    assert 0 < len(s_texts) < 200  # classifier filtered some, dedup halved


def test_drawdown_stream_equals_batch(spark, sf_small, tick_parquet):
    from svoe_spark.operators.quant import max_drawdown
    from svoe_spark.streaming.aggregate import drawdown_stream

    stream = replay_parquet(spark, tick_parquet).select(
        F.col("event_type").alias("symbol"),
        F.col("ts"),
        F.col("event_id"),
        F.col("value_c").cast("double").alias("v"),
    )
    out = run_available_to_memory(
        drawdown_stream(stream, value="v", key="symbol", tiebreak="event_id")
    )
    got = {
        r["symbol"]: r["max_dd"]
        for r in out.groupBy("symbol").agg(F.max("max_dd").alias("max_dd")).collect()
    }
    batch = ticks(spark, sf_small).select(
        F.col("event_type").alias("symbol"), "ts", "event_id", "value_c"
    )
    want = {
        r["symbol"]: float(r["max_dd"])
        for r in max_drawdown(
            batch, "value_c", by="symbol", order=["ts", "event_id"]
        ).collect()
    }
    assert got == want
    # running invariants: peak never decreases, dd = peak - v, max_dd
    # never decreases per key
    rows = sorted(
        (r for r in out.collect() if r["symbol"] == "view"),
        key=lambda r: r["ts"],
    )
    prev_peak, prev_mdd = float("-inf"), 0.0
    for r in rows:
        assert r["peak"] >= prev_peak and r["max_dd"] >= prev_mdd
        assert r["dd"] == r["peak"] - r["v"]
        prev_peak, prev_mdd = r["peak"], r["max_dd"]
