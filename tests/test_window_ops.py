"""Direct unit tests for the window-operator library helpers not
already covered by oracle queries: the trailing_window frame (A5) and
ohlcv on a hand-computed fixture."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.windows import ohlcv, trailing_window

BASE = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def trades(spark):
    rows = [
        # (sec offset, price, amount, side)
        (0, 100.0, 1.0, "BUY"),
        (10, 101.0, 2.0, "SELL"),
        (30, 99.0, 1.0, "BUY"),
        (70, 102.0, 3.0, "SELL"),  # new minute
        (75, 98.0, 1.0, "BUY"),
    ]
    return spark.createDataFrame(
        [(BASE + dt.timedelta(seconds=o), p, a, s, i) for i, (o, p, a, s) in enumerate(rows)],
        "ts timestamp, price double, amount double, side string, seq long",
    )


def test_ohlcv_hand_computed(trades):
    out = {r["window_start"].minute: r for r in ohlcv(trades, on="ts").collect()}
    m0, m1 = out[0], out[1]
    assert (m0["open"], m0["high"], m0["low"], m0["close"]) == (100.0, 101.0, 99.0, 99.0)
    assert m0["volume"] == 4.0 and m0["num_trades"] == 3
    assert m0["vwap"] == pytest.approx((100 + 2 * 101 + 99) / 4.0)
    assert (m1["open"], m1["close"], m1["num_trades"]) == (102.0, 98.0, 2)


def test_trailing_window_frame(trades):
    """The frame is [ts - window, ts], both ends inclusive."""
    w = trailing_window("ts", "30s")
    out = trades.select(
        "seq", F.count(F.lit(1)).over(w).alias("n_30s"), F.max("price").over(w).alias("max_30s")
    )
    by_seq = {r["seq"]: r for r in out.collect()}
    assert by_seq[0]["n_30s"] == 1
    assert by_seq[2]["n_30s"] == 3 and by_seq[2]["max_30s"] == 101.0  # 0,10,30 all in [0,30]
    assert by_seq[4]["n_30s"] == 2 and by_seq[4]["max_30s"] == 102.0  # 70,75


def test_approx_sketches_error_bound(spark, sf_mid):
    """Relational-HLL estimates (p=9, small-range-corrected: linear
    counting below raw 2.5m) stay within 10% of exact counts (measured
    max 3.5% at sf0.01 — deep in the LC regime — and 7.3% at sf0.1,
    the raw regime near the switch, vs the m=512 sigma of 4.6%), and
    the running union is EXACTLY monotone — the register-wise-max
    merge only grows the register mass and only fills zero registers,
    and the fixture series never crosses the LC/raw switch."""
    from svoe_spark.all_queries import QUERIES

    rows = QUERIES["approx_distinct_daily"].fn(spark, sf_mid).collect()
    assert rows
    # Regime guard (ADVICE r9): the monotonicity assertion below is
    # only sound while the running-union series stays on ONE side of
    # the LC/raw switch (raw = 2.5m, i.e. ~2.5*512 = 1280 in estimate
    # space, where the small-range correction is discontinuous). If a
    # regenerated/rescaled fixture crosses it, fail HERE with the real
    # cause instead of flaking on a legitimate dip.
    assert all(r["est_users_to_date"] < 0.9 * 2.5 * 512 for r in rows), (
        "fixture's running union approaches the LC/raw switch — the "
        "monotonicity assertion below is no longer regime-safe"
    )
    prev = 0.0
    for r in sorted(rows, key=lambda r: r["day"]):
        assert abs(r["est_users"] - r["exact_users"]) <= 0.1 * r["exact_users"]
        assert r["est_users_to_date"] >= prev  # exact monotonicity
        prev = r["est_users_to_date"]


def test_native_hll_matches_relational(spark, sf_mid):
    """The engine-native sketch forms (hll_sketch_agg /
    approx_count_distinct) — the documented EXAMPLE the registered
    approx_distinct_daily deliberately does not use, because HLL++
    internals are implementation-defined and no cross-engine oracle can
    exist for them — agree with the exact counts within their tighter
    default-precision envelope, and the mergeable running union
    (hll_union_agg over an expanding frame) is monotone."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from svoe_spark.sources.tables import load_table

    e = load_table(spark, "events", sf_mid).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    daily = e.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    rows = daily.select(
        "day",
        F.hll_sketch_estimate("sk").alias("est_users"),
        "exact_users",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias(
            "est_users_to_date"
        ),
    ).collect()
    assert rows
    prev = 0.0
    for r in sorted(rows, key=lambda r: r["day"]):
        assert abs(r["est_users"] - r["exact_users"]) <= 0.05 * r["exact_users"]
        assert r["est_users_to_date"] >= prev * 0.95  # estimate jitter only
        prev = r["est_users_to_date"]


def test_subsecond_trailing_window(spark):
    """Regression: float-seconds rangeBetween bounds crashed py4j for
    any sub-second window; the micros frame must work at '500ms'."""
    import datetime as dt

    from pyspark.sql import Row

    from svoe_spark.operators.windows import trailing_window

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(k="A", ts=base + dt.timedelta(milliseconds=m), v=float(i))
        for i, m in enumerate([0, 300, 600, 1200])
    ]
    df = spark.createDataFrame(rows)
    w = trailing_window("ts", "500ms", by="k")
    out = {
        int((r["ts"] - base).total_seconds() * 1000): r["s"]
        for r in df.select("ts", F.sum("v").over(w).alias("s")).collect()
    }
    # 0ms: {0}; 300ms: {0,1}; 600ms: {1,2} (0 is 600ms away, excluded
    # only if > 500ms — inclusive frame keeps 300ms row); 1200ms: {3}
    assert out[0] == 0.0
    assert out[300] == 1.0  # 0+1
    assert out[600] == 3.0  # 1+2
    assert out[1200] == 3.0  # just row 3
