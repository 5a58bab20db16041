"""Count-min sketch: the never-underestimate guarantee,
forced-collision overestimation, NULL handling, and the bounded sketch
size."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.sketches import CMSParams, cms_build, cms_lookup
from svoe_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def events(spark, sf_mid):
    # yield + unpersist: a cached load_table relation substitutes into
    # other modules' plans (shared session) and breaks plan-shape gates
    df = load_table(spark, "events", sf_mid).persist()
    yield df
    df.unpersist()


def _est_vs_true(events, params):
    sketch = cms_build(events, "user_id", params)
    est = cms_lookup(sketch, events.select("user_id").distinct(), "user_id", params)
    tru = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("t"))
    return {
        r["user_id"]: (r["est_count"], r["t"])
        for r in est.join(tru, "user_id").collect()
    }


def test_cms_never_underestimates(events):
    got = _est_vs_true(events, CMSParams(width=256, depth=4))
    assert len(got) > 0
    for uid, (est, t) in got.items():
        assert est >= t, uid


def test_cms_tiny_width_forces_overestimates_but_never_under(events):
    got = _est_vs_true(events, CMSParams(width=4, depth=2))
    assert any(est > t for est, t in got.values())  # collisions happen
    assert all(est >= t for est, t in got.values())  # guarantee holds


def test_cms_sketch_size_is_bounded(events):
    params = CMSParams(width=64, depth=3)
    sketch = cms_build(events, "user_id", params).collect()
    assert len(sketch) <= params.width * params.depth
    assert {r["row"] for r in sketch} <= set(range(params.depth))


def test_cms_null_keys_counted_under_sentinel(spark):
    params = CMSParams(width=32, depth=3)
    df = spark.createDataFrame([("a",), (None,), (None,)], "k string")
    sketch = cms_build(df, "k", params)
    est = cms_lookup(
        sketch, spark.createDataFrame([(None,), ("a",)], "k string"), "k", params
    )
    got = {r["k"]: r["est_count"] for r in est.collect()}
    assert got[None] >= 2 and got["a"] >= 1


def test_cms_absent_key_estimates_small(spark, events):
    params = CMSParams(width=1024, depth=4)
    sketch = cms_build(events, "user_id", params)
    ghost = spark.createDataFrame([(99999999,)], "user_id bigint")
    est = cms_lookup(sketch, ghost, "user_id", params).collect()[0]
    # an absent key can only pick up collision mass; with width 1024
    # over ~1e4 events the min across 4 rows is almost surely small
    assert est["est_count"] < 200


def test_bloom_no_false_negatives_and_some_pruning(spark, sf_mid):
    from svoe_spark.operators.sketches import bloom_build, bloom_filter_keys

    params = CMSParams(width=8192, depth=4)
    # every customer in this fixture has orders, so build over the
    # high-value subset to create a genuine absent class to prune
    big = load_table(spark, "orders", sf_mid).where(
        F.col("o_totalprice") > 450000
    )
    cust = load_table(spark, "customer", sf_mid)
    bloom = bloom_build(big, "o_custkey", params)
    verdict = {
        r["c_custkey"]: r["might_contain"]
        for r in bloom_filter_keys(
            bloom, cust.select("c_custkey"), "c_custkey", params
        ).collect()
    }
    present = {
        r["o_custkey"] for r in big.select("o_custkey").distinct().collect()
    }
    assert 0 < len(present) < len(verdict)  # both classes exist
    # Bloom law: every present key tests positive
    for ck in present:
        assert verdict[ck] is True, ck
    # and the filter actually prunes: some absent customer tests negative
    negatives = [ck for ck, v in verdict.items() if not v]
    assert len(negatives) > 0
    assert all(ck not in present for ck in negatives)


def test_bloom_tiny_width_saturates_but_never_false_negative(spark, sf_mid):
    from svoe_spark.operators.sketches import bloom_build, bloom_filter_keys

    params = CMSParams(width=8, depth=2)
    orders = load_table(spark, "orders", sf_mid)
    cust = load_table(spark, "customer", sf_mid)
    bloom = bloom_build(orders, "o_custkey", params)
    rows = bloom.collect()
    assert len(rows) <= params.width * params.depth
    verdict = bloom_filter_keys(
        bloom, cust.select("c_custkey"), "c_custkey", params
    )
    with_orders = orders.select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    missed = verdict.join(with_orders, "c_custkey", "left_semi").where(
        ~F.col("might_contain")
    )
    assert missed.count() == 0  # no false negatives even saturated


def test_kmv_exact_below_k(spark, events):
    from svoe_spark.operators.sketches import kmv_build, kmv_estimate

    from pyspark.sql import functions as F

    e = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_id"
    )
    sk = kmv_build(e, "event_id", k=100000, group_cols=["day"])
    est = {
        r["day"]: r["est_distinct"]
        for r in kmv_estimate(sk, k=100000, group_cols=["day"]).collect()
    }
    tru = {
        r["day"]: r["t"]
        for r in e.groupBy("day")
        .agg(F.count_distinct("event_id").alias("t"))
        .collect()
    }
    # below k the sketch holds every distinct hash: estimate is EXACT
    assert est == {d: float(t) for d, t in tru.items()}


def test_kmv_merge_is_lossless(spark, events):
    from svoe_spark.operators.sketches import kmv_build, kmv_merge

    k = 64
    a = kmv_build(events.where(F.col("event_id") % 2 == 0), "event_id", k=k)
    b = kmv_build(events.where(F.col("event_id") % 2 == 1), "event_id", k=k)
    merged = sorted(r["h"] for r in kmv_merge([a, b], k=k).collect())
    whole = sorted(r["h"] for r in kmv_build(events, "event_id", k=k).collect())
    assert merged == whole  # KMV mergeability is exact, not approximate


def test_kmv_global_accuracy(spark, events):
    from svoe_spark.operators.sketches import kmv_build, kmv_estimate

    k = 256
    sk = kmv_build(events, "event_id", k=k)
    est = kmv_estimate(sk, k=k).collect()[0]["est_distinct"]
    true = events.select("event_id").distinct().count()
    assert abs(est - true) / true < 3.0 / (k - 2) ** 0.5  # ~19% at k=256


def test_kmv_set_ops_driver_tier_matches_relational(spark, events):
    """The round-11 sketch-resident tier must equal the relational
    merge/flag/estimate cascade bit for bit — grouped and ungrouped,
    including the n < k exact branch and a group present on one side
    only."""
    from svoe_spark.operators.sketches import kmv_build, kmv_set_ops

    k = 64
    a = kmv_build(
        events.where(F.col("event_id") % 3 != 0), "event_id", k=k,
        group_cols=["event_type"],
    )
    b = kmv_build(
        events.where(F.col("event_id") % 2 == 0), "event_id", k=k,
        group_cols=["event_type"],
    )
    drv = sorted(
        tuple(r) for r in kmv_set_ops(a, b, k=k, group_cols=["event_type"]).collect()
    )
    rel = sorted(
        tuple(r)
        for r in kmv_set_ops(
            a, b, k=k, group_cols=["event_type"], driver_rows=0
        ).collect()
    )
    assert drv == rel and drv
    # ungrouped + n < k exact branch; ORDERED limit — a bare limit over
    # an unordered relation may pick different rows per evaluation, and
    # the two tiers evaluate the sketch lineage independently
    small_a = kmv_build(
        events.orderBy("event_id").limit(20), "event_id", k=k
    )
    small_b = kmv_build(
        events.orderBy("event_id").limit(10), "event_id", k=k
    )
    d2 = [tuple(r) for r in kmv_set_ops(small_a, small_b, k=k).collect()]
    r2 = [
        tuple(r)
        for r in kmv_set_ops(small_a, small_b, k=k, driver_rows=0).collect()
    ]
    assert d2 == r2 and len(d2) == 1


def test_hll_merge_is_registerwise_max(spark, events):
    from svoe_spark.operators.sketches import HLLParams, hll_build

    p = HLLParams(p=6)
    a = hll_build(events.where(F.col("event_id") % 2 == 0), "event_id", p)
    b = hll_build(events.where(F.col("event_id") % 2 == 1), "event_id", p)
    regs: dict[int, int] = {}
    for r in a.collect() + b.collect():
        regs[r["bucket"]] = max(regs.get(r["bucket"], 0), r["rho"])
    merged = sorted(regs.items())
    whole = sorted(
        (r["bucket"], r["rho"]) for r in hll_build(events, "event_id", p).collect()
    )
    assert merged == whole


def test_hll_global_accuracy_and_register_bound(spark, events):
    from svoe_spark.operators.sketches import HLLParams, hll_build, hll_estimate

    p = HLLParams(p=6)
    reg = hll_build(events, "event_id", p)
    assert reg.count() <= p.m  # constant-size state, any cardinality
    est = hll_estimate(reg, p).collect()[0]["est_distinct"]
    true = events.select("event_id").distinct().count()
    # deterministic estimator, ~1.04/sqrt(64) std error; 10k distinct
    # ids is far outside the linear-counting regime at m=64
    assert abs(est - true) / true < 0.35


def test_kmv_plan_prunes_before_group_exchange(spark, events):
    """The rank<=k must compile to WindowGroupLimit applied map-side
    BEFORE the per-group exchange — the property that keeps any single
    task from sorting a whole group's distinct hashes at scale."""
    from svoe_spark.operators.sketches import kmv_build

    e = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_id"
    )
    plan = (
        kmv_build(e, "event_id", k=32, group_cols=["day"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one map-side + one reduce-side WindowGroupLimit; only the
    # distinct and the group exchange — no third shuffle
    assert plan.count("WindowGroupLimit") == 2, plan
    assert plan.count("Exchange") == 2, plan


@pytest.mark.heavy  # round-9 quick-tier margin: ptest.py/round-close run it
def test_quantile_sketch_error_bound_and_zero(spark, events):
    """Log-bucket sketch estimates are within the quantization bound of
    exact percentiles (top-8-bits quantization: relative error < 2^-7,
    plus the cents grid) and — on this non-negative fixture — never
    ABOVE the exact value (quantization moves values toward zero and
    the rank rule takes the smallest qualifying bucket). Zero values
    land in their own exact bucket."""
    from svoe_spark.operators.sketches import (
        quantile_sketch,
        quantile_sketch_estimate,
    )

    e = events.select("value")
    sk = quantile_sketch(e, "value")
    est = {
        r["p"]: r["est_value"]
        for r in quantile_sketch_estimate(sk, [10, 50, 90, 99]).collect()
    }
    vals = sorted(r["value"] for r in e.collect())
    n = len(vals)
    for p, got in est.items():
        exact = round(vals[(n * p + 99) // 100 - 1] * 100) / 100
        assert got <= exact + 1e-9, (p, got, exact)
        assert abs(got - exact) <= max(abs(exact) * (2 ** -7), 0.02), (
            p, got, exact,
        )
    zero = quantile_sketch(
        spark.createDataFrame([(0.0,), (0.0,), (5.0,)], "value double"),
        "value",
    ).collect()
    assert {r["qv"]: r["cnt"] for r in zero} == {0: 2, 500: 1}


def test_quantile_sketch_negative_values_sign_symmetric(spark):
    """Negative values quantize on |c| and re-negate: the sketch of a
    sign-flipped corpus is the sign-flipped sketch. Quantization moves
    values TOWARD ZERO, so estimates are <= exact for positives and
    >= exact for negatives — the relative bound is two-sided."""
    from svoe_spark.operators.sketches import (
        quantile_sketch,
        quantile_sketch_estimate,
    )

    vals = [(-513.27,), (-10.0,), (-0.01,), (0.0,), (0.01,), (10.0,), (513.27,)]
    df = spark.createDataFrame(vals, "value double")
    sk = {r["qv"]: r["cnt"] for r in quantile_sketch(df, "value").collect()}
    for qv in sk:
        assert qv == 0 or -qv in sk  # symmetric corpus -> symmetric sketch
    est = {
        r["p"]: r["est_value"]
        for r in quantile_sketch_estimate(
            quantile_sketch(df, "value"), [1, 50, 100]
        ).collect()
    }
    assert -513.27 - 1e-9 <= est[1] <= -513.27 * (1 - 2 ** -7)
    assert est[50] == 0.0
    assert 513.27 * (1 - 2 ** -7) <= est[100] <= 513.27 + 1e-9


def test_quantile_sketch_weighted_equals_repeat_expansion(spark):
    """weight_col semantics: a sketch over weighted rows equals the
    sketch over the row-repeated expansion (weight w == w identical
    rows), so weighted percentiles are 'the value below which X% of
    WEIGHT lies' — the token-weighted curation form."""
    from svoe_spark.operators.sketches import (
        quantile_sketch,
        quantile_sketch_estimate,
    )

    rows = [(1.0, 1), (10.0, 5), (100.0, 3), (1000.0, 1)]
    wdf = spark.createDataFrame(rows, "value double, w long")
    expanded = spark.createDataFrame(
        [(v,) for v, w in rows for _ in range(w)], "value double"
    )
    ws = sorted(
        (r["qv"], r["cnt"])
        for r in quantile_sketch(wdf, "value", weight_col="w").collect()
    )
    es = sorted(
        (r["qv"], r["cnt"])
        for r in quantile_sketch(expanded, "value").collect()
    )
    assert ws == es
    est = {
        r["p"]: r["est_value"]
        for r in quantile_sketch_estimate(
            quantile_sketch(wdf, "value", weight_col="w"), [10, 60, 100]
        ).collect()
    }
    # total weight 10: rank(10)=1 -> 1.0, rank(60)=6 -> 10.0 (cents
    # 100 and 1000 fit 8 significant bits exactly); rank(100)=10 ->
    # 1000.0, whose 100000 cents (17 bits) quantize to the top-8-bits
    # bucket 99840 = 998.4 — the deterministic toward-zero estimate
    assert est == {10: 1.0, 60: 10.0, 100: 998.4}


@pytest.mark.heavy  # streaming round-trip: sharded tier
def test_quantile_sketch_stream_equals_batch(spark, sf_small, tmp_path):
    """Kappa property: the sketch is a plain keyed aggregation, so a
    complete-mode streaming build over an availableNow replay equals
    the batch sketch EXACTLY — the maintenance path for a continuously
    ingested corpus (no custom state code; Spark's agg state IS the
    sketch)."""
    from pyspark.sql import functions as F

    from svoe_spark.operators.sketches import quantile_sketch
    from svoe_spark.sources.tables import load_table

    e = load_table(spark, "events", sf_small).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
    )
    src = str(tmp_path / "qs_src")
    e.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(e.schema).parquet(src)
    q = (
        quantile_sketch(stream, "value", group_cols=["day"])
        .writeStream.format("memory")
        .queryName("qs_stream_sketch")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "qs_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["day"], r["qv"], r["cnt"])
        for r in spark.sql("SELECT * FROM qs_stream_sketch").collect()
    )
    want = sorted(
        (r["day"], r["qv"], r["cnt"])
        for r in quantile_sketch(e, "value", group_cols=["day"]).collect()
    )
    assert got == want and len(want) > 0


def test_hll_driver_tail_matches_relational(spark, sf_small, monkeypatch):
    """Round-11 sketch-resident estimate tail of approx_distinct_daily:
    the Arrow-pulled in-process per-day + running-union estimates must
    equal the relational cascade bit for bit (same exact integer mass,
    same float(S) rounding, same numerator/LC literals, same IEEE
    division)."""
    import svoe_spark.queries as q

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    driver = rows(q.QUERIES["approx_distinct_daily"].fn(spark, sf_small))
    monkeypatch.setattr(q, "_HLL_DRIVER_ROWS", 0)
    relational = rows(q.QUERIES["approx_distinct_daily"].fn(spark, sf_small))
    assert driver == relational
    assert len(driver) > 0
