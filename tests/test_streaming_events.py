"""Kappa parity for the stateful book-top operator: ``ofi_stream``
over a time-sliced replay must equal the batch
``quant.order_flow_imbalance`` row for row, also when each key's
micro-batch arrives as many Arrow chunks (``chunks.batch_frame``)."""

import pytest
from pyspark.sql import functions as F

from svoe_spark.streaming.sinks import run_available_to_memory

pytestmark = pytest.mark.heavy  # multi-minute suite: deselected by the
# default `pytest tests/ -q` tier (pytest.ini); scripts/ptest.py shards and
# the round-close sweep run it


def _replay(spark, path):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force state across batches
        .parquet(path)
    )


def test_batch_frame_assembles_and_sorts_across_chunks():
    import pandas as pd

    from svoe_spark.streaming.chunks import batch_frame

    # chunk 2 holds EARLIER events than chunk 1 (fetch order != time)
    c1 = pd.DataFrame({"ts": [5, 7], "v": [50, 70]})
    c2 = pd.DataFrame({"ts": [1, 6], "v": [10, 60]})
    got = batch_frame(iter([c1, c2]), ["ts"])
    assert list(got["ts"]) == [1, 5, 6, 7]
    assert list(got["v"]) == [10, 50, 60, 70]
    one = batch_frame(iter([c1]), ["ts"])
    assert list(one["ts"]) == [5, 7]
    # ADVICE r5: a timeout-fired key arrives with ZERO chunks — must
    # yield an empty frame, not crash in pd.concat([])
    empty = batch_frame(iter([]), ["ts"])
    assert len(empty) == 0


@pytest.fixture(scope="module")
def booktop_parquet(spark, sf_small, tmp_path_factory):
    """Synthetic best bid/ask stream (the ofi_1h construction) as four
    sequential time-slice files: one write each, a second apart, so
    file modification times follow event time and the file source
    replays them in order (the cross-batch ordering contract of
    ``ofi_stream``)."""
    import time

    from svoe_spark.queries import ticks

    path = str(tmp_path_factory.mktemp("booktop") / "top")
    t = ticks(spark, sf_small).select(
        "event_type",
        "ts",
        "event_id",
        (F.col("value_c") - (F.lit(1) + F.col("event_id") % 3)).alias("bid_px"),
        F.col("qty").alias("bid_sz"),
        (F.col("value_c") + (F.lit(1) + F.col("event_id") % 5)).alias("ask_px"),
        (F.lit(1) + F.col("event_id") % 9).alias("ask_sz"),
    ).persist()
    qs = t.selectExpr(
        "percentile(unix_micros(ts), array(0.25, 0.5, 0.75)) AS q"
    ).first()["q"]
    bounds = [None, *[int(q) for q in qs], None]
    for i in range(4):
        sl = t
        if bounds[i] is not None:
            sl = sl.where(F.unix_micros("ts") > bounds[i])
        if bounds[i + 1] is not None:
            sl = sl.where(F.unix_micros("ts") <= bounds[i + 1])
        sl.coalesce(1).write.mode("append").parquet(path)
        time.sleep(1.1)
    t.unpersist()
    return path


def test_ofi_stream_equals_batch(spark, booktop_parquet):
    from svoe_spark.operators.quant import order_flow_imbalance
    from svoe_spark.streaming.aggregate import ofi_stream

    stream = _replay(spark, booktop_parquet)
    out = run_available_to_memory(
        ofi_stream(
            stream, key="event_type", on="ts", tiebreak="event_id"
        )
    )
    got = {
        (r["event_type"], r["event_id"]): r["e_ofi"] for r in out.collect()
    }
    top = spark.read.parquet(booktop_parquet)
    want_df = order_flow_imbalance(
        top, "event_type", "ts", "bid_px", "bid_sz", "ask_px", "ask_sz",
        tie_col="event_id",
    )
    want = {
        (r["event_type"], r["event_id"]): r["e_ofi"] for r in want_df.collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_ofi_stream_survives_tiny_arrow_chunks(spark, booktop_parquet):
    from svoe_spark.operators.quant import order_flow_imbalance
    from svoe_spark.streaming.aggregate import ofi_stream

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        out = run_available_to_memory(
            ofi_stream(
                _replay(spark, booktop_parquet),
                key="event_type", on="ts", tiebreak="event_id",
            )
        )
        got = {
            (r["event_type"], r["event_id"]): r["e_ofi"] for r in out.collect()
        }
        top = spark.read.parquet(booktop_parquet)
        want = {
            (r["event_type"], r["event_id"]): r["e_ofi"]
            for r in order_flow_imbalance(
                top, "event_type", "ts", "bid_px", "bid_sz", "ask_px",
                "ask_sz", tie_col="event_id",
            ).collect()
        }
        assert got == want
    finally:
        spark.conf.set(key, old)
