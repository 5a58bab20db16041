"""Property-based differential tests: the as-of join and lookahead
shift against the pandas merge_asof oracle on random keyed time series
(reference pattern: test_task_graph.py:82 res_ray.equals(res_seq);
hypothesis explores boundary cases — duplicate join instants, empty
sides, single-row series — that fixed fixtures miss)."""

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from svoe_spark.operators.asof import asof_join, lookahead_shift

pytestmark = pytest.mark.heavy  # multi-minute suite: deselected by the
# default `pytest tests/ -q` tier (pytest.ini); scripts/ptest.py shards and
# the round-close sweep run it


BASE = dt.datetime(2024, 1, 1)


def _mk_rows(offsets_by_key, value_start=0.0):
    rows = []
    i = 0
    for key, offsets in offsets_by_key.items():
        for off in sorted(offsets):
            rows.append((key, BASE + dt.timedelta(seconds=off), value_start + i, i))
            i += 1
    return rows


series_strategy = st.dictionaries(
    st.sampled_from(["A", "B", "C"]),
    st.lists(
        st.integers(min_value=0, max_value=3600), min_size=0, max_size=25, unique=True
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left_spec=series_strategy, right_spec=series_strategy)
def test_asof_join_matches_pandas(spark, left_spec, right_spec):
    left_rows = _mk_rows(left_spec)
    right_rows = _mk_rows(right_spec, value_start=1000.0)
    if not left_rows or not right_rows:
        return
    schema = "k string, ts timestamp, v double, rid long"
    left = spark.createDataFrame(left_rows, schema)
    right = spark.createDataFrame(
        [(k, t, v, r) for k, t, v, r in right_rows],
        "k string, ts timestamp, rv double, rid long",
    )

    got = asof_join(
        left, right.select("k", "ts", "rv"), on="ts", by="k", right_cols=["rv"]
    ).toPandas()

    lp = pd.DataFrame(left_rows, columns=["k", "ts", "v", "rid"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "rv", "rid"]).sort_values("ts")
    want = pd.merge_asof(lp, rp[["k", "ts", "rv"]], on="ts", by="k", direction="backward")

    g = got.sort_values(["k", "ts"]).reset_index(drop=True)
    w = want.sort_values(["k", "ts"]).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["k"] == w["k"]).all() and (g["ts"] == w["ts"]).all()
    pd.testing.assert_series_equal(
        g["rv"], w["rv"], check_names=False, check_index=False
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left_spec=series_strategy,
    right_spec=series_strategy,
    bucket=st.sampled_from(["30s", "5m", "1h"]),
)
def test_bucketed_asof_equals_default(spark, left_spec, right_spec, bucket):
    """The time-bucketed scale path must be indistinguishable from the
    single-sort plan for ANY bucket size (seed/carry-forward logic is
    where boundary bugs live)."""
    left_rows = _mk_rows(left_spec)
    right_rows = _mk_rows(right_spec, value_start=1000.0)
    if not left_rows or not right_rows:
        return
    left = spark.createDataFrame(left_rows, "k string, ts timestamp, v double, rid long")
    right = spark.createDataFrame(
        right_rows, "k string, ts timestamp, rv double, rid long"
    ).select("k", "ts", "rv")

    base = asof_join(left, right, on="ts", by="k", right_cols=["rv"])
    bucketed = asof_join(
        left, right, on="ts", by="k", right_cols=["rv"], time_bucket=bucket
    )
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, bucketed.collect()))
    assert a == b


def test_auto_dispatch_switches_to_bucketed(spark, monkeypatch):
    """time_bucket='auto' (the default) must select the keys x buckets
    plan once the hottest key exceeds the per-task target — and the
    result must equal the forced single-window plan."""
    import svoe_spark.operators.asof as asof_mod

    n = 400
    left = spark.createDataFrame(
        [("A", BASE + dt.timedelta(seconds=i * 7), float(i)) for i in range(n)],
        "k string, ts timestamp, v double",
    )
    right = spark.createDataFrame(
        [("A", BASE + dt.timedelta(seconds=i * 11), 1000.0 + i) for i in range(n)],
        "k string, ts timestamp, rv double",
    )

    # the gate's size floor follows the target, so 800 rows over a
    # 100-row target run the profile (and dispatch)
    monkeypatch.setattr(asof_mod, "AUTO_TARGET_ROWS_PER_TASK", 100)
    auto = asof_join(left, right, on="ts", by="k", right_cols=["rv"])
    # the bucketed plan is visibly different: it sorts within the
    # synthetic coarse-time-bucket column
    assert "__asof_bucket" in auto._jdf.queryExecution().toString()

    forced = asof_join(
        left, right, on="ts", by="k", right_cols=["rv"], time_bucket=None
    )
    assert "__asof_bucket" not in forced._jdf.queryExecution().toString()
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, forced.collect())
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=series_strategy, lookahead=st.sampled_from([5, 60, 600]))
def test_lookahead_matches_pandas(spark, spec, lookahead):
    rows = _mk_rows(spec)
    if not rows:
        return
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double, rid long")
    got = lookahead_shift(
        df.select("k", "ts", "v"), lookahead, on="ts", by="k", value_cols=["v"]
    ).toPandas()

    frames = []
    for key, grp in pd.DataFrame(rows, columns=["k", "ts", "v", "rid"]).groupby("k"):
        grp = grp.sort_values("ts").reset_index(drop=True)
        # reference semantics (blocks.py:182-202): backward match at
        # ts+lookahead, tail truncated at max_ts - lookahead
        shifted = grp.copy()
        shifted["ts_q"] = shifted["ts"] + pd.Timedelta(seconds=lookahead)
        m = pd.merge_asof(
            shifted[["k", "ts", "ts_q"]],
            grp[["ts", "v"]].rename(columns={"v": "label_v"}),
            left_on="ts_q",
            right_on="ts",
            direction="backward",
            suffixes=("", "_r"),
        )
        cutoff = grp["ts"].max() - pd.Timedelta(seconds=lookahead)
        m = m[m["k"].notna() & (m["ts"] <= cutoff)]
        frames.append(m[["k", "ts", "label_v"]])
    want = pd.concat(frames) if frames else pd.DataFrame(columns=["k", "ts", "label_v"])

    g = got.sort_values(["k", "ts"]).reset_index(drop=True)
    w = want.sort_values(["k", "ts"]).reset_index(drop=True)
    assert len(g) == len(w)
    if len(g):
        assert (g["k"].values == w["k"].values).all()
        pd.testing.assert_series_equal(
            g["label_v"], w["label_v"], check_names=False, check_index=False
        )


def test_asof_tiebreak_keeps_exact_timestamp_inclusive(spark):
    """Regression: with a tiebreak column the default plan sorted left
    rows (null tiebreak) BEFORE same-instant right rows, silently
    turning the documented inclusive `right.ts <= left.ts` into an
    exclusive match. Exact-timestamp rows must be visible, and among
    same-instant right rows the greatest tiebreak must win."""
    import datetime as dt

    from pyspark.sql import Row

    t0 = dt.datetime(2024, 1, 1, 10, 0, 5)
    t1 = dt.datetime(2024, 1, 1, 10, 0, 10)
    left = spark.createDataFrame([Row(k="A", ts=t1)])
    right = spark.createDataFrame(
        [
            Row(k="A", ts=t0, px=3.0, seq=1),
            Row(k="A", ts=t1, px=5.0, seq=2),
            Row(k="A", ts=t1, px=7.0, seq=3),  # same instant, larger seq
        ]
    )
    out = asof_join(
        left, right, on="ts", by="k", right_cols=["px"], tiebreak="seq"
    ).collect()
    assert len(out) == 1
    assert out[0]["px"] == 7.0  # inclusive + greatest tiebreak wins


def test_tolerance_nulls_stale_matches(spark):
    import datetime as dt

    from svoe_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("k", t0 + dt.timedelta(seconds=s)) for s in (10, 70, 130)],
        "g string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("k", t0, 1.0)], "g string, ts timestamp, v double"
    )
    out = {
        r["ts"].second + r["ts"].minute * 60: r["v"]
        for r in asof_join(
            left, right, on="ts", by="g", tolerance="70s", time_bucket=None
        ).collect()
    }
    # staleness 10s and 70s (inclusive boundary) match; 130s is stale
    assert out == {10: 1.0, 70: 1.0, 130: None}


def test_tolerance_multi_feature_independent(spark):
    import datetime as dt

    from svoe_spark.operators.asof import asof_join_multi

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("k", t0 + dt.timedelta(seconds=100))], "g string, ts timestamp"
    )
    fresh = spark.createDataFrame(
        [("k", t0 + dt.timedelta(seconds=90), 2.0)],
        "g string, ts timestamp, a double",
    )
    stale = spark.createDataFrame(
        [("k", t0, 3.0)], "g string, ts timestamp, b double"
    )
    row = asof_join_multi(
        left,
        {"f_": fresh, "s_": stale},
        on="ts",
        by="g",
        tolerance="30s",
        time_bucket=None,
    ).collect()[0]
    assert row["f_a"] == 2.0 and row["s_b"] is None


def test_tolerance_bucketed_path_agrees(spark):
    import datetime as dt

    from svoe_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("k", t0 + dt.timedelta(seconds=s)) for s in range(0, 600, 7)],
        "g string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("k", t0 + dt.timedelta(seconds=s), float(s)) for s in range(0, 600, 50)],
        "g string, ts timestamp, v double",
    )
    lazy = asof_join(left, right, on="ts", by="g", tolerance="20s", time_bucket=None)
    bucketed = asof_join(left, right, on="ts", by="g", tolerance="20s", time_bucket="60s")
    l = sorted((r["ts"], r["v"]) for r in lazy.collect())
    b = sorted((r["ts"], r["v"]) for r in bucketed.collect())
    assert l == b
    assert any(v is None for _, v in l) and any(v is not None for _, v in l)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left_spec=series_strategy, right_spec=series_strategy)
def test_asof_forward_matches_pandas(spark, left_spec, right_spec):
    left_rows = _mk_rows(left_spec)
    right_rows = _mk_rows(right_spec, value_start=1000.0)
    if not left_rows or not right_rows:
        return
    left = spark.createDataFrame(
        left_rows, "k string, ts timestamp, v double, rid long"
    )
    right = spark.createDataFrame(
        right_rows, "k string, ts timestamp, rv double, rid long"
    ).select("k", "ts", "rv")

    got = asof_join(
        left, right, on="ts", by="k", right_cols=["rv"], direction="forward"
    ).toPandas()
    lp = pd.DataFrame(left_rows, columns=["k", "ts", "v", "rid"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "rv", "rid"]).sort_values("ts")
    want = pd.merge_asof(
        lp, rp[["k", "ts", "rv"]], on="ts", by="k", direction="forward"
    )
    g = got.sort_values(["k", "ts"]).reset_index(drop=True)
    w = want.sort_values(["k", "ts"]).reset_index(drop=True)
    assert len(g) == len(w)
    pd.testing.assert_series_equal(
        g["rv"], w["rv"], check_names=False, check_index=False
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left_spec=series_strategy,
    right_spec=series_strategy,
    tol=st.sampled_from([None, "60s", "15m"]),
)
def test_asof_nearest_matches_pandas(spark, left_spec, right_spec, tol):
    left_rows = _mk_rows(left_spec)
    right_rows = _mk_rows(right_spec, value_start=1000.0)
    if not left_rows or not right_rows:
        return
    from svoe_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        left_rows, "k string, ts timestamp, v double, rid long"
    )
    right = spark.createDataFrame(
        right_rows, "k string, ts timestamp, rv double, rid long"
    ).select("k", "ts", "rv")

    got = asof_join_nearest(
        left, right, on="ts", by="k", right_cols=["rv"], tolerance=tol
    ).toPandas()
    lp = pd.DataFrame(left_rows, columns=["k", "ts", "v", "rid"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "rv", "rid"]).sort_values("ts")
    want = pd.merge_asof(
        lp,
        rp[["k", "ts", "rv"]],
        on="ts",
        by="k",
        direction="nearest",
        tolerance=pd.Timedelta(tol) if tol else None,
    )
    g = got.sort_values(["k", "ts"]).reset_index(drop=True)
    w = want.sort_values(["k", "ts"]).reset_index(drop=True)
    assert len(g) == len(w)
    pd.testing.assert_series_equal(
        g["rv"], w["rv"], check_names=False, check_index=False
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left_spec=series_strategy,
    right_spec=series_strategy,
    bucket=st.sampled_from(["30s", "1h"]),
)
def test_bucketed_forward_equals_default(spark, left_spec, right_spec, bucket):
    left_rows = _mk_rows(left_spec)
    right_rows = _mk_rows(right_spec, value_start=1000.0)
    if not left_rows or not right_rows:
        return
    left = spark.createDataFrame(
        left_rows, "k string, ts timestamp, v double, rid long"
    )
    right = spark.createDataFrame(
        right_rows, "k string, ts timestamp, rv double, rid long"
    ).select("k", "ts", "rv")
    base = asof_join(
        left, right, on="ts", by="k", right_cols=["rv"], direction="forward",
        time_bucket=None,
    )
    bucketed = asof_join(
        left, right, on="ts", by="k", right_cols=["rv"], direction="forward",
        time_bucket=bucket,
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, bucketed.collect())
    )


def test_asof_nearest_null_cell_not_backfilled(spark):
    """Whole-row contract: a NULL cell in the MATCHED row stays NULL —
    a per-column fill would substitute a farther row's value (the
    round-6 review finding)."""
    from svoe_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [("A", BASE + dt.timedelta(minutes=60), 1.0)], "k string, ts timestamp, v double"
    )
    right = spark.createDataFrame(
        [
            ("A", BASE, 5.0),                            # far, non-null
            ("A", BASE + dt.timedelta(minutes=59), None),  # near, NULL cell
        ],
        "k string, ts timestamp, rv double",
    )
    out = asof_join_nearest(
        left, right, on="ts", by="k", right_cols=["rv"], tolerance="15m"
    ).first()
    assert out["rv"] is None  # matched row is the 10:59 one; its rv is NULL


def test_asof_nearest_exact_tie_prefers_backward(spark):
    from svoe_spark.operators.asof import asof_join_nearest

    t = BASE + dt.timedelta(minutes=30)
    left = spark.createDataFrame([("A", t, 0.0)], "k string, ts timestamp, v double")
    right = spark.createDataFrame(
        [
            ("A", t - dt.timedelta(microseconds=7), 1.0),
            ("A", t + dt.timedelta(microseconds=7), 2.0),
        ],
        "k string, ts timestamp, rv double",
    )
    out = asof_join_nearest(left, right, on="ts", by="k", right_cols=["rv"]).first()
    assert out["rv"] == 1.0  # exact integer-microsecond tie -> backward
