"""Hard-negative mining (LSH-blocked): known-answer correctness on
crafted vectors, the label-exclusion invariant, and equality with an
exact brute-force reference wherever the true hard negative shares the
anchor's bucket."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.similarity import hard_negatives_lsh, lsh_bucket
from svoe_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def crafted(spark):
    # every vector a small perturbation of u = (8, 4, 2, 1), whose
    # hyperplane projections are all >= 1 in magnitude, so all four
    # share one bucket. vec 1 (label A) equals anchor 0 (label A) — same
    # label, must be skipped; vec 2 (label B) is the nearest other-label
    # vector — the true hard negative; vec 3 (label B) is further off
    rows = [
        (0, "A", [8.0, 4.0, 2.0, 1.0]),
        (1, "A", [8.0, 4.0, 2.0, 1.0]),
        (2, "B", [8.0, 4.0, 2.0, 1.1]),
        (3, "B", [8.0, 4.0, 2.3, 0.7]),
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, label string, embedding array<double>"
    )


def _cosine(a, b):
    """The engine's cosine, operation for operation: fold-left dots from
    0.0, then dot / (sqrt(|a|^2) * sqrt(|b|^2))."""

    def dot(x, y):
        acc = 0.0
        for p, q in zip(x, y):
            acc += p * q
        return acc

    den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    return dot(a, b) / den if den != 0.0 else 0.0


def test_hard_negatives_picks_most_similar_other_label(crafted):
    assert crafted.select(lsh_bucket("embedding", 4)).distinct().count() == 1
    out = hard_negatives_lsh(crafted, dim=4, k=2)
    got = out.where(F.col("anchor_id") == 0).orderBy(F.col("cosine").desc()).collect()
    out._svoe_persisted.unpersist()
    assert [r["neg_id"] for r in got] == [2, 3]
    assert got[0]["cosine"] > got[1]["cosine"]


def test_hard_negatives_never_returns_same_label(spark, sf_mid):
    emb = load_table(spark, "embeddings", sf_mid)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    df = hard_negatives_lsh(emb, dim=64, k=3)
    out = df.collect()
    df._svoe_persisted.unpersist()
    assert len(out) > 0
    per_anchor: dict[int, int] = {}
    for r in out:
        assert labels[r["anchor_id"]] != labels[r["neg_id"]]
        per_anchor[r["anchor_id"]] = per_anchor.get(r["anchor_id"], 0) + 1
    assert max(per_anchor.values()) <= 3


def test_hard_negatives_lsh_matches_exact_when_truth_shares_bucket(spark, sf_mid):
    emb = load_table(spark, "embeddings", sf_mid)
    rows = {
        r["vec_id"]: r
        for r in emb.select(
            "vec_id", "label", "embedding", lsh_bucket("embedding", 64).alias("b")
        ).collect()
    }
    df = hard_negatives_lsh(emb, dim=64, k=1)
    out = {r["anchor_id"]: r for r in df.collect()}
    df._svoe_persisted.unpersist()
    assert len(out) > 0
    for r in out.values():
        assert rows[r["anchor_id"]]["label"] != rows[r["neg_id"]]["label"]
    # the REAL check: for anchors whose exact (unblocked) hard negative
    # happens to share their bucket, the LSH pick must equal the
    # brute-force pick (same cosine arithmetic, same (cosine desc,
    # neg_id) tie-break)
    compared = 0
    for aid in (v for v in rows if v < 40):
        a = rows[aid]
        cos, nid = max(
            (_cosine(a["embedding"], n["embedding"]), -n["vec_id"])
            for n in rows.values()
            if n["label"] != a["label"]
        )
        nid = -nid
        if rows[nid]["b"] == a["b"]:
            compared += 1
            assert out[aid]["neg_id"] == nid, aid
            assert out[aid]["cosine"] == cos, aid
    assert compared >= 3  # the fixture provides in-bucket truths
