"""SCD2Store: bucket-incremental dimension maintenance (operators/
scd.py). scd2_compress/merge semantics are pinned in test_scd.py; these
tests pin the store path — incremental == full recompute, touched-
bucket-only rewrites, replay idempotence."""

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.scd import SCD2Store, scd2_compress
from svoe_spark.sources.tables import load_table


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _ev(spark, sf_small):
    return load_table(spark, "events", sf_small).select(
        "user_id", "ts", "event_id", "event_type"
    )


def _store(spark, path, n_buckets=8):
    return SCD2Store(
        spark,
        path,
        key="user_id",
        attr_cols=["event_type"],
        ts="ts",
        tie_col="event_id",
        n_buckets=n_buckets,
    )


def test_incremental_refresh_equals_full_recompute(spark, sf_small, tmp_path):
    ev = _ev(spark, sf_small).cache()
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS m").first()["m"]
    store = _store(spark, str(tmp_path / "dim"))
    store.refresh(ev.where(F.unix_micros("ts") <= cut))
    store.refresh(ev.where(F.unix_micros("ts") > cut))
    full = scd2_compress(
        ev, "user_id", ["event_type"], ts="ts", tie_col="event_id"
    )
    assert _sorted_rows(store.read()) == _sorted_rows(full)
    ev.unpersist()


def test_refresh_rewrites_only_touched_buckets(spark, sf_small, tmp_path):
    ev = _ev(spark, sf_small)
    store = _store(spark, str(tmp_path / "dim"))
    store.refresh(ev)
    one_user = ev.orderBy("user_id").limit(1)
    uid = one_user.first()["user_id"]
    touched = store.refresh(
        one_user.select(
            "user_id",
            (F.col("ts") + F.expr("INTERVAL 100 DAYS")).alias("ts"),
            (F.col("event_id") + 10_000_000).alias("event_id"),
            F.lit("zzz").alias("event_type"),
        )
    )
    assert len(touched) == 1  # one key -> one bucket rewritten
    cur = store.current().where(F.col("user_id") == uid).first()
    assert cur["event_type"] == "zzz"


def test_refresh_warns_when_batch_scatters_across_buckets(
    spark, sf_small, tmp_path
):
    """A batch whose keys cover >50% of buckets degrades the pruned
    incremental path toward a full copy-on-write rewrite (measured
    7.6 s key-local vs ~24 s scattered at 30M/64 buckets) — the store
    says so instead of silently paying it."""
    import warnings as _w

    import pytest

    ev = _ev(spark, sf_small)
    store = _store(spark, str(tmp_path / "dim"))
    # the initial full load scatters across every bucket by nature
    with pytest.warns(RuntimeWarning, match="buckets"):
        store.refresh(ev)
    # a key-local burst stays quiet
    one_user = ev.orderBy("user_id").limit(1)
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        touched = store.refresh(
            one_user.select(
                "user_id",
                (F.col("ts") + F.expr("INTERVAL 200 DAYS")).alias("ts"),
                (F.col("event_id") + 20_000_000).alias("event_id"),
                F.lit("yyy").alias("event_type"),
            )
        )
    assert len(touched) == 1


def test_apply_batch_idempotent_on_replayed_batch_id(spark, sf_small, tmp_path):
    ev = _ev(spark, sf_small)
    store = _store(spark, str(tmp_path / "dim"))
    assert store.apply_batch(ev, batch_id=0) is True
    before = _sorted_rows(store.read())
    assert store.apply_batch(ev, batch_id=0) is False  # commit-log skip
    assert _sorted_rows(store.read()) == before


def test_crash_between_write_and_commit_not_corrupting(spark, sf_small, tmp_path):
    """Replay after a crash BETWEEN the data write and the log append:
    the per-bucket stamp short-circuits, and even without it
    scd2_merge's replay idempotence absorbs duplicate observations."""
    ev = _ev(spark, sf_small)
    store = _store(spark, str(tmp_path / "dim"))
    store.apply_batch(ev.where("user_id % 2 = 0"), batch_id=0)
    batch1 = ev.where("user_id % 2 = 1")
    store.refresh(batch1, batch_id=1)  # data written, log NOT appended
    before = _sorted_rows(store.read())
    assert store.apply_batch(batch1, batch_id=1) is True  # replay
    assert _sorted_rows(store.read()) == before
    full = scd2_compress(
        ev, "user_id", ["event_type"], ts="ts", tie_col="event_id"
    )
    assert before == _sorted_rows(full)


def test_pruned_read_has_partition_filters(spark, sf_small, tmp_path):
    ev = _ev(spark, sf_small)
    store = _store(spark, str(tmp_path / "dim"))
    store.refresh(ev)
    plan = store._read_buckets([0, 1])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "kb" in plan.split("PartitionFilters", 1)[1][:120]
