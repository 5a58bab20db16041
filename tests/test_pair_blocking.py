"""No pair operator may have an unblocked all-pairs (cross-join) form:
embedding_neardup_pairs defaults to LSH-bucket blocking, and the
n-gram/contamination joins cap hot inverted-index keys. These tests pin
(a) recall — bucket-equality for embeddings — and (b) plan shape — no
CartesianProduct / BroadcastNestedLoopJoin."""

from pyspark.sql import functions as F

from svoe_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ngram_doc_freq_cap_kills_stop_shingle(spark):
    """One stop-phrase shared by ALL docs must not hot-key the inverted
    index: with the cap active its shingles leave the universe, so docs
    sharing nothing else produce zero pairs (uncapped: ~n^2/2)."""
    from svoe_spark.operators.dedup import ngram_jaccard_pairs

    n = 60
    stop = "the quick brown fox jumps over the lazy dog"
    rows = [(i, f"{stop} unique{i}a unique{i}b unique{i}c unique{i}d") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    uncapped = ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=None).count()
    assert uncapped == n * (n - 1) / 2  # every pair shares the stop shingles

    capped = ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=5).count()
    assert capped == 0


def test_ngram_cap_bounds_inverted_index_key(spark):
    """The capped universe must contain no shingle with doc frequency
    above the cap — the inverted-index join's per-key row bound."""
    from pyspark.sql import Window

    from svoe_spark.operators.dedup import _shingle_arrays

    n, cap = 60, 5
    stop = "alpha beta gamma delta epsilon zeta"
    rows = [(i, f"{stop} only{i}x only{i}y only{i}z") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    ex = _shingle_arrays(docs).select(
        "doc_id", F.explode(F.array_distinct("__sh")).alias("__sh")
    )
    wdf = Window.partitionBy("__sh")
    kept = ex.withColumn("__df", F.count(F.lit(1)).over(wdf)).filter(
        F.col("__df") <= cap
    )
    max_df = kept.groupBy("__sh").count().agg(F.max("count")).first()[0]
    assert max_df is not None and max_df <= cap


def test_contamination_cap(spark):
    """Corpus-side stop-shingles must not meet the benchmark: overlap
    through a phrase present in most corpus docs is discounted."""
    from svoe_spark.operators.dedup import contamination_pairs

    stop = "lorem ipsum dolor sit amet consectetur"
    corpus = spark.createDataFrame(
        [(i, f"{stop} cw{i}a cw{i}b cw{i}c cw{i}d") for i in range(40)],
        "doc_id long, text string",
    )
    # 1000 overlaps only through the stop phrase; 1001 shares two
    # genuine word-trigrams with corpus doc 7 and none with the phrase
    bench = spark.createDataFrame(
        [(1000, f"{stop} benchonly1 benchonly2"), (1001, "cw7a cw7b cw7c cw7d")],
        "doc_id long, text string",
    )
    uncapped = contamination_pairs(corpus, bench, max_doc_freq=None)
    assert uncapped.filter(F.col("bench_id") == 1000).count() == 40
    capped = contamination_pairs(corpus, bench, max_doc_freq=5)
    # stop-phrase matches vanish; the genuine doc-7 overlap survives
    assert capped.filter(F.col("bench_id") == 1000).count() == 0
    genuine = capped.filter(F.col("bench_id") == 1001).collect()
    assert [r["corpus_id"] for r in genuine] == [7]


def test_embedding_neardup_default_is_lsh_blocked(spark, sf_small):
    """Default (no group_cols) must equal the explicit LSH-bucket path
    and never plan a cross join."""
    from svoe_spark.operators.similarity import (
        embedding_neardup_pairs,
        lsh_bucket,
    )

    emb = load_table(spark, "embeddings", sf_small)
    auto = embedding_neardup_pairs(emb, threshold=0.3)
    plan = _plan(auto)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    explicit = embedding_neardup_pairs(
        emb.withColumn("bucket", lsh_bucket("embedding", 64)),
        group_cols=["bucket"],
        threshold=0.3,
    )
    a = sorted((r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in auto.collect())
    b = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in explicit.collect()
    )
    assert a == b
    assert len(a) > 0
    assert auto.columns == ["id_a", "id_b", "cosine"]


def test_numpy_pairs_match_expr_pairs(spark, sf_small):
    """The Arrow/matmul pair scan must produce the same pair SET and
    near-identical cosines as the oracle-bit-exact expression path
    (BLAS reassociates the dot sums, so values may differ in the last
    ulps — the fixture thresholds sit far from any pair's cosine)."""
    from svoe_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_numpy,
    )
    from svoe_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_small)
    a = embedding_neardup_pairs(emb, group_cols=["label"], threshold=0.3)
    b = embedding_neardup_pairs_numpy(emb, group_cols=["label"], threshold=0.3)
    ra = {(r["label"], r["id_a"], r["id_b"]): r["cosine"] for r in a.collect()}
    rb = {(r["label"], r["id_a"], r["id_b"]): r["cosine"] for r in b.collect()}
    assert set(ra) == set(rb) and len(ra) > 0
    for k, v in ra.items():
        assert abs(v - rb[k]) < 1e-9, k


def test_numpy_pairs_zero_norm_never_pairs(spark):
    from svoe_spark.operators.similarity import embedding_neardup_pairs_numpy

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.0, 0.0]),   # zero vector: cosine treated as 0
        (3, 0, [0.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, g int, embedding array<double>"
    )
    out = embedding_neardup_pairs_numpy(
        emb, group_cols=["g"], threshold=0.5
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 1)}
