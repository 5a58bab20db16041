"""The hot-key gate (``operators.util.hot_key_bucket``) shared by the
as-of and order-book auto-dispatch: which inputs it settles with no
Spark job, and the bucket width its one profile job derives."""

from __future__ import annotations

import datetime as dt
import math

from conftest import session_conf
from pyspark.sql import functions as F

from svoe_spark.functions.time import epoch_seconds
from svoe_spark.operators.util import hot_key_bucket, plan_size_bytes
from svoe_spark.plans.definitions import per_key_map

BASE = dt.datetime(2024, 1, 1)


def _gate(spark, df, target):
    """(gate result, Spark jobs the gate ran)."""
    sc = spark.sparkContext
    group = f"hot_key_gate_{id(df)}_{target}"
    sc.setJobGroup(group, "hot-key gate")
    try:
        got = hot_key_bucket(df, ["k"], epoch_seconds("ts"), target)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return got, len(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k string, ts timestamp, v double")


def test_exact_row_count_under_target_runs_no_job(spark):
    df = _frame(spark, [("A", BASE + dt.timedelta(seconds=i), float(i)) for i in range(50)]).persist()
    try:
        assert df.count() == 50
        # the size estimate (~1 kB) is above the 50 x 20 B floor: the
        # exact count alone settles it
        assert plan_size_bytes(df) > 50 * 20
        assert _gate(spark, df, 50) == (None, 0)
    finally:
        df.unpersist()


def test_small_scan_under_size_floor_runs_no_job(spark):
    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("k"), F.timestamp_seconds("id").alias("ts")
    )
    assert _gate(spark, df, 1_000) == (None, 0)


def test_python_stage_lineage_runs_no_job(spark):
    def fn(batches):
        for ts, up in batches:
            yield ts, {"w": up[0] * 2.0}

    df = _frame(spark, [("A", BASE + dt.timedelta(seconds=i), float(i)) for i in range(20)])
    mapped = per_key_map(df, ["k"], ["v"], ["w"], fn)
    assert _gate(spark, mapped, 1) == (None, 0)


def test_empty_input(spark):
    assert _gate(spark, _frame(spark, []), 1)[0] is None


def test_hot_key_profile_is_one_job(spark):
    n, target, step = 120, 25, 7
    rows = [("A", BASE + dt.timedelta(seconds=i * step), float(i)) for i in range(n)]
    rows += [("B", BASE, 0.0), ("C", BASE + dt.timedelta(seconds=3), 1.0)]
    # AQE submits each shuffle stage as a job of its own; without it one
    # action is one job
    with session_conf(spark, "spark.sql.adaptive.enabled", "false"):
        got, jobs = _gate(spark, _frame(spark, rows), target)
    span = (n - 1) * step
    assert got == max(1.0, span / math.ceil(n / target))
    assert jobs == 1
