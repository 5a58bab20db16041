"""Kappa parity for the nearest as-of join (VERDICT r6 ask 4):
streaming nearest matches over a time-ranged replay must equal the
batch operator on the CLOSED row set — every left row with a right
observation at-or-after it (the gap-closing row exists); the
un-closable tail past the last right observation of all time is the
same un-emittable set as the interpolation stream's trailing NULLs."""

import time

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.asof import asof_join_nearest
from svoe_spark.streaming.asof_stream import asof_nearest_stream
from svoe_spark.streaming.sinks import run_available_to_memory

SHIFT_US = 7 * 60 * 1_000_000  # left instants = right instants + 7min


def _sides(spark, sf_small):
    """Right = unique-(key, ts) tick series; left = the same instants
    shifted +7min (key-preserving), so matches are non-trivial in both
    directions and every distance is a fresh comparison."""
    from svoe_spark.queries import ticks

    right = (
        ticks(spark, sf_small)
        .groupBy("event_type", "ts")
        .agg(F.max("value").alias("value"))
    )
    left = right.select(
        "event_type",
        F.timestamp_micros(F.unix_micros("ts") + SHIFT_US).alias("ts"),
    )
    return left, right


@pytest.fixture(scope="module")
def asof_parquet(spark, sf_small, tmp_path_factory):
    """Left and right written as three aligned time-slice files each
    (same GLOBAL bounds for both sides, so micro-batch i holds both
    sides' slice i and cross-batch event-time order holds across the
    union — the shared replay contract)."""
    base = tmp_path_factory.mktemp("asofstream")
    lp, rp = str(base / "left"), str(base / "right")
    left, right = _sides(spark, sf_small)
    left, right = left.persist(), right.persist()
    qs = right.selectExpr(
        "percentile(unix_micros(ts), array(0.34, 0.67)) AS q"
    ).first()["q"]
    bounds = [None, *[int(q) for q in qs], None]
    for i in range(3):
        for df, path in ((left, lp), (right, rp)):
            sl = df
            if bounds[i] is not None:
                sl = sl.where(F.unix_micros("ts") > bounds[i])
            if bounds[i + 1] is not None:
                sl = sl.where(F.unix_micros("ts") <= bounds[i + 1])
            sl.coalesce(1).write.mode("append").parquet(path)
        time.sleep(1.1)
    left.unpersist()
    right.unpersist()
    return lp, rp


def _replay(spark, path):
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _closed(df, right, on="ts", by="event_type", tol_us=None, wm_us=None):
    """Restrict a batch result to the stream's closable rows: left
    instants at or before the key's LAST right observation — plus,
    with a tolerance, instants whose deadline t + tolerance passed the
    stream's final watermark (global max event time): those finalize
    by state timeout even though no closing right ever arrives."""
    mx = right.groupBy(by).agg(F.max(on).alias("__mx"))
    cond = F.col(on) <= F.col("__mx")
    if tol_us is not None:
        cond = cond | (F.unix_micros(F.col(on)) + tol_us < F.lit(wm_us))
    return df.join(F.broadcast(mx), by).where(cond).drop("__mx")


def _stream_vs_batch(spark, sf_small, asof_parquet, tolerance=None):
    lp, rp = asof_parquet
    out = run_available_to_memory(
        asof_nearest_stream(
            _replay(spark, lp),
            _replay(spark, rp),
            on="ts",
            by="event_type",
            value_col="value",
            out="v",
            tolerance=tolerance,
        )
    )
    got = sorted((r["event_type"], r["ts"], r["v"]) for r in out.collect())
    left, right = _sides(spark, sf_small)
    batch = asof_join_nearest(
        left, right, on="ts", by=["event_type"], right_cols=["value"],
        tolerance=tolerance,
    )
    tol_us = wm_us = None
    if tolerance is not None:
        from svoe_spark.functions.time import duration_to_seconds

        tol_us = int(round(duration_to_seconds(tolerance) * 1_000_000))
        # final watermark = global max event instant (0s delay; left
        # instants are right + 7min, so the left side carries the max),
        # FLOORED to the millisecond grid — Spark tracks event-time
        # watermarks in ms, so a deadline in the sub-ms gap below the
        # exact max is NOT finalized by the stream
        wm_us = left.select(F.max(F.unix_micros("ts"))).first()[0]
        wm_us = (wm_us // 1000) * 1000
    want = sorted(
        (r["event_type"], r["ts"], r["value"])
        for r in _closed(batch, right, tol_us=tol_us, wm_us=wm_us).collect()
    )
    return got, want


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_asof_nearest_stream_equals_batch(spark, sf_small, asof_parquet):
    got, want = _stream_vs_batch(spark, sf_small, asof_parquet)
    assert got == want and len(got) > 100
    assert any(v is not None for *_, v in got)


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_asof_nearest_stream_tolerance_nulls_match_batch(
    spark, sf_small, asof_parquet
):
    """Out-of-tolerance rows emit with a NULL value in BOTH forms —
    the batch fill's semantics, not a dropped row."""
    got, want = _stream_vs_batch(spark, sf_small, asof_parquet, tolerance="5m")
    assert got == want
    assert any(v is None for *_, v in got)  # the tolerance bites
    assert any(v is not None for *_, v in got)


def test_asof_nearest_stream_survives_tiny_arrow_chunks(
    spark, sf_small, asof_parquet
):
    """The shared Arrow-chunk-reassembly guard (chunks.batch_arrays, one
    sort over (ts, side)): 3-row chunks must not break cross-chunk
    event-time ordering."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got, want = _stream_vs_batch(spark, sf_small, asof_parquet)
        assert got == want
    finally:
        spark.conf.set(key, old)


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_asof_nearest_stream_multi_value_whole_row(
    spark, sf_small, asof_parquet, tmp_path
):
    """Several value columns ride the ONE matched right row (the batch
    operators' whole-row semantics) — never a per-column mix of rows.
    The second column is a recomputable function of the first, so any
    row-mixing would break the invariant check."""
    import glob
    import os

    lp, rp = asof_parquet
    # rebuild the 3-slice replay order for the widened right side (one
    # slice per source file, same mod-time ordering contract)
    rp2 = str(tmp_path / "right2")
    for f in sorted(
        glob.glob(rp + "/part-*.parquet"), key=os.path.getmtime
    ):
        (
            spark.read.parquet(f)
            .withColumn("neg", -F.col("value") - 1.0)
            .coalesce(1)
            .write.mode("append")
            .parquet(rp2)
        )
        time.sleep(1.1)
    out = run_available_to_memory(
        asof_nearest_stream(
            _replay(spark, lp),
            _replay(spark, rp2),
            on="ts",
            by="event_type",
            value_col=["value", "neg"],
        )
    )
    rows = out.collect()
    assert len(rows) > 100
    for r in rows:
        assert (r["value"] is None) == (r["neg"] is None)
        if r["value"] is not None:
            assert r["neg"] == -r["value"] - 1.0
    # and the first column still equals the single-column stream
    got = sorted((r["event_type"], r["ts"], r["value"]) for r in rows)
    left, right = _sides(spark, sf_small)
    want = sorted(
        (r["event_type"], r["ts"], r["value"])
        for r in _closed(
            asof_join_nearest(
                left, right, on="ts", by=["event_type"], right_cols=["value"]
            ),
            right,
        ).collect()
    )
    assert got == want


def test_asof_nearest_hand_case_tiebreak_and_exact_match(spark, tmp_path):
    """Hand-pinned semantics: (a) equidistant left row -> backward wins
    (the pandas tie-break); (b) a left row at exactly a right instant
    emits IMMEDIATELY (distance 0, no forward wait) — it appears even
    though no later right ever arrives; (c) a left row past the last
    right never emits."""
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    # right: k at t=100s (v=1.0) and t=300s (v=2.0)
    # left:  t=200s (equidistant -> backward 1.0), t=300s (exact -> 2.0),
    #        t=999s (after last right -> never emitted)
    right_rows = [("k", 100, 1.0), ("k", 300, 2.0)]
    left_rows = [("k", 200), ("k", 300), ("k", 999)]
    spark.createDataFrame(
        right_rows,
        "event_type string, sec long, value double",
    ).select(
        "event_type", F.timestamp_seconds("sec").alias("ts"), "value"
    ).coalesce(1).write.parquet(rp)
    spark.createDataFrame(
        left_rows, "event_type string, sec long"
    ).select(
        "event_type", F.timestamp_seconds("sec").alias("ts")
    ).coalesce(1).write.parquet(lp)
    out = run_available_to_memory(
        asof_nearest_stream(
            _replay(spark, lp),
            _replay(spark, rp),
            on="ts",
            by="event_type",
            value_col="value",
            out="v",
        )
    )
    got = sorted(
        (r["event_type"], int(r["ts"].timestamp()), r["v"])
        for r in out.collect()
    )
    assert got == [("k", 200, 1.0), ("k", 300, 2.0)]


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_asof_nearest_stream_quiet_key_backward_within_tolerance(
    spark, tmp_path
):
    """Nearest + timeout finalization keeps the snapshotted BACKWARD
    candidate when it is within tolerance (a future forward is farther
    than the tolerance by construction), NULLs it otherwise."""
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    # quiet key: right at 100; lefts at 120 (bdist 20s <= 30s -> 1.0)
    # and 300 (bdist 200s > 30s -> NULL). active key advances watermark.
    right_rows = [("q", 100, 1.0)] + [("a", s, float(s)) for s in (100, 1000)]
    left_rows = [("q", 120), ("q", 300)]
    spark.createDataFrame(
        right_rows, "event_type string, sec long, value double"
    ).select(
        "event_type", F.timestamp_seconds("sec").alias("ts"), "value"
    ).coalesce(1).write.parquet(rp)
    spark.createDataFrame(
        left_rows, "event_type string, sec long"
    ).select(
        "event_type", F.timestamp_seconds("sec").alias("ts")
    ).coalesce(1).write.parquet(lp)
    out = run_available_to_memory(
        asof_nearest_stream(
            _replay(spark, lp),
            _replay(spark, rp),
            on="ts",
            by="event_type",
            value_col="value",
            out="v",
            tolerance="30s",
        )
    )
    got = sorted(
        (r["event_type"], int(r["ts"].timestamp()), r["v"])
        for r in out.collect()
    )
    assert got == [("q", 120, 1.0), ("q", 300, None)]


def test_asof_nearest_stream_string_value_column(spark, tmp_path):
    """Native-typed value columns (VERDICT r7 ask 5): a STRING-valued
    as-of join streams with the column's own type — the pre-round-8
    array<double> carrier could not express this at all. Mixed with a
    long column to pin the whole-row unit across types."""
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    right_rows = [
        ("k", 100, "alpha", 10),
        ("k", 300, "beta", 30),
    ]
    left_rows = [("k", 200), ("k", 300)]
    spark.createDataFrame(
        right_rows, "event_type string, sec long, tag string, n long"
    ).select(
        "event_type", F.timestamp_seconds("sec").alias("ts"), "tag", "n"
    ).coalesce(1).write.parquet(rp)
    spark.createDataFrame(
        left_rows, "event_type string, sec long"
    ).select(
        "event_type", F.timestamp_seconds("sec").alias("ts")
    ).coalesce(1).write.parquet(lp)
    out = run_available_to_memory(
        asof_nearest_stream(
            _replay(spark, lp),
            _replay(spark, rp),
            on="ts",
            by="event_type",
            value_col=["tag", "n"],
        )
    )
    assert dict(out.dtypes)["tag"] == "string" and dict(out.dtypes)["n"] == "bigint"
    got = sorted(
        (r["event_type"], int(r["ts"].timestamp()), r["tag"], r["n"])
        for r in out.collect()
    )
    # 200s: equidistant -> backward ('alpha', 10); 300s: exact ('beta', 30)
    assert got == [("k", 200, "alpha", 10), ("k", 300, "beta", 30)]


def test_asof_nearest_stream_long_values_exact_past_2_53(spark, tmp_path):
    """Native-typed exactness past float64's integer range (review
    round 8): a bigint value column must survive the stream bit-exactly
    even though left rows carry NULL candidates — the struct carrier in
    _tagged_union exists precisely because a flat nullable int64 column
    would render as float64 in pandas and silently round 2^53+1."""
    big = (1 << 53) + 1
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [("k", 100, big), ("k", 300, big + 2)],
        "event_type string, sec long, n long",
    ).select(
        "event_type", F.timestamp_seconds("sec").alias("ts"), "n"
    ).coalesce(1).write.parquet(rp)
    spark.createDataFrame(
        [("k", 150), ("k", 300)], "event_type string, sec long"
    ).select(
        "event_type", F.timestamp_seconds("sec").alias("ts")
    ).coalesce(1).write.parquet(lp)
    out = run_available_to_memory(
        asof_nearest_stream(
            _replay(spark, lp),
            _replay(spark, rp),
            on="ts",
            by="event_type",
            value_col="n",
            out="n",
        )
    )
    got = sorted(
        (int(r["ts"].timestamp()), r["n"]) for r in out.collect()
    )
    # 150s: backward (dist 50 < 150) -> big, STORED through pending
    # state; 300s: exact match -> big + 2, emitted immediately
    assert got == [(150, big), (300, big + 2)]
    assert got[0][1] % 2 == 1 and got[1][1] % 2 == 1  # odd = not rounded
