"""Degenerate-input sweep: every operator must return an empty result
(same schema, no exception) on an empty input — the failure mode the
orderbook property test exposed (zero-row pandas frames with wrong
Arrow dtypes) generalized across the operator surface."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


DOC = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)

TICK = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ts", TimestampType()),
        StructField("price", DoubleType()),
        StructField("amount", DoubleType()),
    ]
)

EMB = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

UPD = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ts", TimestampType()),
        StructField("update_type", StringType()),
        StructField(
            "orders",
            ArrayType(
                StructType(
                    [
                        StructField("side", StringType()),
                        StructField("price", DoubleType()),
                        StructField("size", DoubleType()),
                    ]
                )
            ),
        ),
    ]
)

PAIR = StructType(
    [StructField("id_a", LongType()), StructField("id_b", LongType())]
)


def test_cleaning_ops_on_empty(spark):
    from svoe_spark.operators.cleaning import (
        chunk_dedup,
        corpus_filter,
        pii_redact,
        repetition_signals,
        source_mixture_weights,
    )

    d = _empty(spark, DOC)
    assert pii_redact(d).collect() == []
    assert repetition_signals(d).collect() == []
    assert chunk_dedup(d).collect() == []
    assert corpus_filter(d).collect() == []
    assert source_mixture_weights(d).collect() == []


def test_dedup_ops_on_empty(spark):
    from svoe_spark.operators.dedup import (
        drop_exact_duplicates,
        minhash_dedup_pairs,
        minhash_signature,
        simhash,
    )

    d = _empty(spark, DOC)
    assert drop_exact_duplicates(d).collect() == []
    assert minhash_signature(d).collect() == []
    assert minhash_dedup_pairs(d).collect() == []
    assert simhash(d).collect() == []


def test_graph_ops_on_empty(spark):
    from svoe_spark.operators.graph import connected_components, dedup_clusters

    p = _empty(spark, PAIR)
    assert connected_components(p).collect() == []
    docs = _empty(spark, DOC)
    assert dedup_clusters(docs, p).collect() == []


def test_similarity_ops_on_empty(spark):
    from svoe_spark.operators.similarity import quantize_embeddings

    assert quantize_embeddings(_empty(spark, EMB)).collect() == []


def test_window_ops_on_empty(spark):
    from svoe_spark.operators.windows import ohlcv, sliding_stddev

    t = _empty(spark, TICK)
    assert ohlcv(t, on="ts", by="symbol").collect() == []
    assert (
        sliding_stddev(t, on="ts", value="price", by="symbol", window="1m").collect()
        == []
    )


def test_asof_on_empty_sides(spark):
    from svoe_spark.operators.asof import asof_join

    t = _empty(spark, TICK)
    full = spark.createDataFrame(
        [("A", __import__("datetime").datetime(2024, 1, 1), 1.0, 1.0)], TICK
    )
    # empty left -> empty; empty right -> left rows with null fill
    assert asof_join(t, full, on="ts", by="symbol", right_cols=["price"]).collect() == []
    out = asof_join(
        full,
        t.withColumnRenamed("price", "ref"),
        on="ts",
        by="symbol",
        right_cols=["ref"],
    ).collect()
    assert len(out) == 1 and out[0]["ref"] is None


def test_orderbook_on_empty_and_presnapshot_only(spark):
    import datetime as dt

    from svoe_spark.operators.orderbook import (
        reconstruct_book,
        reconstruct_book_bucketed,
    )

    u = _empty(spark, UPD)
    assert reconstruct_book(u, depth=5).collect() == []
    # a stream with ONLY pre-snapshot events: zero emissions, no crash
    rows = [("K", dt.datetime(2024, 1, 1), "ADD",
             [{"side": "bid", "price": 1.0, "size": 1.0}])]
    pre = spark.createDataFrame(rows, UPD)
    assert reconstruct_book(pre, depth=5).collect() == []
    assert reconstruct_book_bucketed(pre, depth=5, bucket="1m").collect() == []


def test_zero_norm_embeddings_do_not_poison_similarity(spark):
    """Zero vectors (a realistic encoder output for empty input) must
    score cosine 0.0 — not divide by zero (ANSI abort) and not NaN
    (which sorts above every number and would top every top-k)."""
    from pyspark.sql import Row

    from svoe_spark.operators.similarity import (
        brute_force_topk,
        embedding_neardup_pairs,
    )

    vecs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
            Row(vec_id=2, embedding=[0.0, 0.0]),
            Row(vec_id=3, embedding=[0.0, 0.0]),
        ]
    )
    q = vecs.filter("vec_id = 0")
    top = brute_force_topk(vecs, q, k=4).collect()
    by_id = {r.vec_id: r.cosine for r in top}
    assert by_id[2] == 0.0 and by_id[3] == 0.0
    assert top[0].vec_id == 0  # the zero vectors must NOT rank first
    pairs = embedding_neardup_pairs(vecs, threshold=0.5, dim=2).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (2, 3) not in ids  # zero-zero pair scores 0, below threshold


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_round4_tail_ops_on_empty(spark):
    from svoe_spark.operators.cleaning import chunk_freq_dedup
    from svoe_spark.operators.dedup_index import index_tables, probe_index
    from svoe_spark.operators.profiling import (
        key_skew_report,
        numeric_histogram,
        profile_columns,
    )
    from svoe_spark.operators.similarity import hard_negatives_lsh
    from svoe_spark.operators.tokenizer import bpe_encode, word_frequencies

    doc = _empty(spark, DOC)
    prof = profile_columns(doc, distinct="exact").collect()
    assert len(prof) == 4 and all(r["n_rows"] == 0 for r in prof)
    skew = key_skew_report(doc, "source").collect()[0]
    # empty input: one row of NULL aggregates (sum over zero rows), not
    # a crash — callers branch on n_keys/n_rows being NULL
    assert skew["n_rows"] is None and skew["n_keys"] == 0
    assert numeric_histogram(doc, "doc_id").collect() == []
    assert chunk_freq_dedup(doc).collect() == []
    assert word_frequencies(doc).collect() == []
    assert bpe_encode(doc, [("a", "b")]).collect() == []
    bands, sets = index_tables(doc)
    assert bands.collect() == [] and sets.collect() == []
    assert probe_index(doc, bands, sets).collect() == []
    emb_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("label", StringType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    emb = _empty(spark, emb_schema)
    assert hard_negatives_lsh(emb, dim=4, k=1).collect() == []


def test_refine_topk_empty_candidates(spark):
    from svoe_spark.operators.similarity import refine_topk

    vec = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    vectors = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], vec
    )
    q = vectors.where("vec_id = 0")
    out = refine_topk(_empty(spark, vec).select("vec_id"), vectors, q, k=3)
    assert out.count() == 0
    assert out.columns == ["vec_id", "exact_dist"]


def test_unigram_encode_empty_and_null_text(spark):
    from svoe_spark.operators.tokenizer import unigram_encode
    from svoe_spark.queries_llm import UNIGRAM_FIXED_PIECES

    out = unigram_encode(
        _empty(spark, DOC), UNIGRAM_FIXED_PIECES, out_cost="c"
    )
    assert out.count() == 0
    rows = unigram_encode(
        spark.createDataFrame([(1, None, "en", "s")], DOC),
        UNIGRAM_FIXED_PIECES,
        out_cost="c",
    ).collect()
    assert rows[0]["tokens"] == [] and rows[0]["c"] == 0


def test_funnel_empty_events(spark):
    from svoe_spark.operators.events_analytics import funnel

    ev = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    out = funnel(_empty(spark, ev), ["view", "click"]).collect()
    assert [(r["step_index"], r["n_users"]) for r in out] == [(0, 0), (1, 0)]


def test_backtest_grid_empty_features(spark):
    from svoe_spark.consumers.backtest import (
        SimConfig,
        alternate_signals,
        run_backtest_grid,
    )

    ft = StructType(
        [
            StructField("symbol", StringType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("px", DoubleType()),
        ]
    )
    out = run_backtest_grid(
        _empty(spark, ft), "px", [SimConfig()],
        signal_fn=alternate_signals, order_cols=("ts", "event_id"),
    )
    assert out.count() == 0


def test_train_quality_classifier_rejects_empty(spark):
    from svoe_spark.operators.text_analysis import train_quality_classifier

    labeled = _empty(spark, DOC).withColumn("label", F.lit(1))
    with pytest.raises(Exception):  # SparkML: empty training set
        train_quality_classifier(labeled, "label")


@pytest.mark.heavy  # round-9 quick-tier trim: ptest.py/round-close still run it
def test_round6c_operators_on_empty_inputs(spark):
    """Every round-6c operator must return an empty (or vacuous)
    result on empty input — never throw ANSI DIVIDE_BY_ZERO or crash
    (run_checks's pass_rate did, before the guard)."""
    from svoe_spark.operators import quality_checks as qc
    from svoe_spark.operators.basket import association_rules
    from svoe_spark.operators.changepoint import cusum_scores
    from svoe_spark.operators.events_analytics import transition_matrix
    from svoe_spark.operators.graph import knn_sparsify, triangle_counts
    from svoe_spark.operators.profiling import distribution_drift
    from svoe_spark.operators.quant import ols_fit

    ev = spark.createDataFrame(
        [], "user_id long, event_type string, ts timestamp, event_id long"
    )
    assert transition_matrix(ev, tiebreak="event_id").count() == 0
    s = spark.createDataFrame([], "key string, t long, v long")
    assert cusum_scores(s, "v", on="t", by=["key"]).count() == 0
    e = spark.createDataFrame([], "src long, dst long, w long")
    assert knn_sparsify(e, k=3).count() == 0
    assert triangle_counts(spark.createDataFrame([], "a long, b long")).count() == 0
    assert association_rules(
        spark.createDataFrame([], "b long, i string"), "b", "i"
    ).count() == 0
    assert ols_fit(spark.createDataFrame([], "x long, y long"), "x", "y").count() == 1
    # DQ on an empty table: vacuous pass, NULL pass_rate, no throw
    t = spark.createDataFrame([], "id long, v double")
    rep = qc.run_checks(t, [qc.completeness("v")], unique=["id"]).collect()
    assert len(rep) == 2
    for r in rep:
        assert (r["violations"], r["total"], r["passed"]) == (0, 0, True)
        assert r["pass_rate"] is None
    ri = qc.ref_integrity(t, "id", t, "id").collect()[0]
    assert (ri["violations"], ri["total"], ri["passed"]) == (0, 0, True)
    assert ri["pass_rate"] is None
    from svoe_spark.operators.profiling import gini, hhi
    from svoe_spark.operators.quant import spearman_corr

    gv = spark.createDataFrame([], "g string, v long")
    assert gini(gv, "v", ["g"]).count() == 0
    assert hhi(gv, "v", ["g"]).count() == 0
    xy = spark.createDataFrame([], "x long, y long")
    # global spearman over empty input: one degenerate NULL row
    r = spearman_corr(xy, "x", "y").collect()
    assert len(r) == 1 and r[0]["spearman"] is None
    # drift with an empty current side: ref buckets, NULL q/term
    ref = spark.range(100).selectExpr("CAST(id % 10 AS LONG) AS v")
    cur = spark.createDataFrame([], "v long")
    rows = distribution_drift(ref, cur, "v", n_buckets=4).collect()
    assert len(rows) > 0
    assert all(r["n_cur"] == 0 and r["q"] is None for r in rows)
