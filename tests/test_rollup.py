"""Incremental rollup store: merge algebra + partition-scoped refresh
(operators/rollup.py). The registered ohlcv_1h_rollup query pins the
two-level batch algebra against the direct-1h DuckDB oracle; these
tests pin the incremental path."""

import os

from pyspark.sql import functions as F

from svoe_spark.operators.rollup import (
    RollupStore,
    bars_from_ticks,
    combine_bars,
    finish_bars,
    rollup_bars,
)
from svoe_spark.queries import ticks
import pytest


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


def test_incremental_refresh_equals_full_recompute(spark, sf_small, tmp_path):
    t = ticks(spark, sf_small).cache()
    cut = t.selectExpr("percentile(unix_micros(ts), 0.5) AS m").first()["m"]
    first = t.where(F.unix_micros("ts") <= cut)
    second = t.where(F.unix_micros("ts") > cut)
    assert first.count() > 0 and second.count() > 0

    store = RollupStore(spark, str(tmp_path / "bars_1h"))
    days1 = store.refresh(first)
    days2 = store.refresh(second)
    assert days1 and days2

    full = finish_bars(
        rollup_bars(bars_from_ticks(t, window="1m"), window="1h")
    )
    assert _sorted_rows(store.read()) == _sorted_rows(full)
    t.unpersist()


def test_refresh_rewrites_only_touched_days(spark, sf_small, tmp_path):
    t = ticks(spark, sf_small)
    days = sorted(
        str(r["d"]) for r in t.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 2
    d0, rest = days[0], days[1:]
    store = RollupStore(spark, str(tmp_path / "bars"))
    store.refresh(t)
    d0_dir = os.path.join(str(tmp_path / "bars"), f"day={d0}")
    before = {
        f: os.path.getmtime(os.path.join(d0_dir, f)) for f in os.listdir(d0_dir)
    }
    # refresh with a batch touching only the OTHER days
    touched = store.refresh(t.where(F.to_date("ts") != F.lit(d0).cast("date")))
    assert d0 not in touched and set(touched) == set(rest)
    after = {
        f: os.path.getmtime(os.path.join(d0_dir, f)) for f in os.listdir(d0_dir)
    }
    assert before == after  # untouched partition not rewritten


def test_combine_bars_associative_batching(spark, sf_small):
    t = ticks(spark, sf_small)
    b = bars_from_ticks(t, window="1m")
    thirds = [
        b.where(F.pmod(F.xxhash64("event_type", "window_start"), F.lit(3)) == i)
        for i in range(3)
    ]
    merged = combine_bars(combine_bars(thirds[0], thirds[1]), thirds[2])
    assert _sorted_rows(merged) == _sorted_rows(b)


def test_streaming_maintenance_equals_batch(spark, sf_small, tmp_path):
    """Replayed tick stream -> foreachBatch incremental refresh ==
    one-shot batch rollup (the Kappa property for the rollup store)."""
    from svoe_spark.streaming.sinks import foreach_batch
    from svoe_spark.streaming.sources import replay_parquet

    t = ticks(spark, sf_small)
    src = str(tmp_path / "ticks_src")
    # several files -> several micro-batches per availableNow pass
    t.repartition(4).write.parquet(src)
    store = RollupStore(spark, str(tmp_path / "bars_stream"))
    q = foreach_batch(
        replay_parquet(spark, src),
        store.apply_batch,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()

    full = finish_bars(
        rollup_bars(bars_from_ticks(t, window="1m"), window="1h")
    )
    assert _sorted_rows(store.read()) == _sorted_rows(full)


def test_apply_batch_idempotent_on_replayed_batch_id(spark, sf_small, tmp_path):
    t = ticks(spark, sf_small).limit(500)
    store = RollupStore(spark, str(tmp_path / "bars"))
    assert store.apply_batch(t, 0) is True
    snap = _sorted_rows(store.read())
    # same batch id re-delivered (foreachBatch at-least-once): no-op
    assert store.apply_batch(t, 0) is False
    assert _sorted_rows(store.read()) == snap
    # a new batch id with the same data DOES merge (double volume)
    assert store.apply_batch(t, 1) is True
    assert _sorted_rows(store.read()) != snap


def test_crash_between_write_and_commit_log_not_double_counted(
    spark, sf_small, tmp_path
):
    """Simulate the at-least-once crash window: the batch's data write
    completed (partitions stamped with the batch id) but the commit log
    append did not. The replayed batch must skip the stamped days."""
    t = ticks(spark, sf_small)
    store = RollupStore(spark, str(tmp_path / "bars"))
    # crashed attempt: data fully written, _commits never appended
    store.refresh(t, batch_id=7)
    assert not os.path.exists(store.path + "._commits")
    snap = _sorted_rows(store.read())
    # streaming replay of the same batch id
    assert store.apply_batch(t, 7) is True  # log was empty -> work ran
    assert _sorted_rows(store.read()) == snap  # ...but nothing re-merged


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_partial_crash_merges_only_unswapped_days(spark, sf_small, tmp_path):
    """A crash mid-write can leave SOME touched days swapped: replay
    must merge only the days the crashed attempt did not stamp."""
    t = ticks(spark, sf_small)
    days = sorted(
        str(r["d"])
        for r in t.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 2
    d0 = days[0]
    base = t.where(F.to_date("ts") == F.lit(d0).cast("date") - 99999)  # empty
    store = RollupStore(spark, str(tmp_path / "bars"))
    # prior state: batch 0 applied cleanly over all days
    store.apply_batch(t, 0)
    # crashed batch 1: only day d0's partition got swapped (stamped 1)
    store.refresh(
        t.where(F.to_date("ts") == F.lit(d0).cast("date")), batch_id=1
    )
    # replay of the FULL batch 1
    store.apply_batch(t, 1)
    # reference: clean store with batch 0 then batch 1 applied once each
    ref = RollupStore(spark, str(tmp_path / "ref"))
    ref.apply_batch(t, 0)
    ref.apply_batch(t, 1)
    assert _sorted_rows(store.read()) == _sorted_rows(ref.read())
    del base
