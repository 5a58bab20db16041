"""DSIR importance weighting: semantics on a planted fixture and a
shuffle-free scoring plan."""

import contextlib
import io

from pyspark.sql import functions as F

from svoe_spark.operators.selection import dsir_importance, hashed_bucket_counts


def _docs(spark, rows):
    return spark.createDataFrame(
        list(enumerate(rows)), "doc_id long, text string"
    )


def test_target_like_docs_score_higher(spark):
    target = _docs(spark, ["alpha beta gamma"] * 3)
    raw = _docs(
        spark,
        [
            "alpha beta gamma",  # pure target language
            "alpha beta noise",  # mixed
            "noise junk filler",  # pure raw-only language
        ],
    )
    out = {
        r["doc_id"]: r["importance"]
        for r in dsir_importance(raw, target, buckets=64).collect()
    }
    assert out[0] > out[1] > out[2]


def test_empty_doc_scores_zero(spark):
    target = _docs(spark, ["alpha"])
    raw = _docs(spark, ["", "alpha"])
    out = {r["doc_id"]: r for r in dsir_importance(raw, target, buckets=16).collect()}
    assert out[0]["n_tokens"] == 0 and out[0]["importance"] == 0.0
    assert out[1]["importance"] > 0.0


def test_bucket_counts_total_tokens(spark):
    docs = _docs(spark, ["a b c", "a a"])
    total = (
        hashed_bucket_counts(docs, buckets=8)
        .agg(F.sum("cnt").alias("s"))
        .first()["s"]
    )
    assert total == 5


def test_dsir_scoring_pass_is_shuffle_free(spark, sf_mid):
    from svoe_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_mid)
    scored = dsir_importance(docs, docs.filter(F.col("lang") == "en"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scored.explain("formatted")
    p = buf.getvalue()
    # the ratio table is a plan literal: no join, no key shuffle —
    # only the optional round-robin spread may appear
    assert "hashpartitioning" not in p, p
    assert "Join" not in p, p


def test_dsir_predicate_equals_filtered_target(spark):
    """Round-11 one-pass form: target given as a boolean Column over
    the raw corpus must reproduce the two-pass filtered-DataFrame form
    bit for bit — including NULL predicate rows (excluded from the
    target counts, exactly like filter())."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma", "en"),
            (1, "alpha beta noise", "en"),
            (2, "noise junk filler", "fr"),
            (3, "alpha junk", None),
            (4, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    two_pass = sorted(
        tuple(r)
        for r in dsir_importance(
            docs, docs.filter(F.col("lang") == "en"), buckets=32
        ).collect()
    )
    one_pass = sorted(
        tuple(r)
        for r in dsir_importance(docs, F.col("lang") == "en", buckets=32).collect()
    )
    assert one_pass == two_pass
