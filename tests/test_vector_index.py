"""Incremental IVF-PQ vector lake: append-only batches, exactly-once
replay, search parity with one-shot encoding and partition pruning
inside batch subtrees."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.similarity import ivfpq_encode_numpy, ivfpq_train
from svoe_spark.operators.vector_index import (
    append_ivfpq_batch,
    read_ivfpq_index,
    search_ivfpq_index,
)
from svoe_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_mid):
    return load_table(spark, "embeddings", sf_mid).persist()


@pytest.fixture(scope="module")
def cents(emb):
    return [
        list(r["embedding"])
        for r in emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]


@pytest.fixture(scope="module")
def cbs(emb, cents):
    return ivfpq_train(emb, cents, method="seed")


@pytest.mark.heavy  # round-10 quick-tier trim (slowest cases -> sharded tier)
def test_append_then_read_matches_oneshot_encode(spark, emb, cents, cbs, tmp_path):
    path = str(tmp_path / "vidx")
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    b1 = emb.where(F.col("vec_id") % 2 == 1)
    assert append_ivfpq_batch(path, b0, 0, cents, cbs) is True
    assert append_ivfpq_batch(path, b1, 1, cents, cbs) is True
    got = {
        r["vec_id"]: (r["cluster_id"], tuple(r["codes"]))
        for r in read_ivfpq_index(spark, path).collect()
    }
    want = {
        r["vec_id"]: (r["cluster_id"], tuple(r["codes"]))
        for r in ivfpq_encode_numpy(emb, cents, cbs)
        .select("vec_id", "cluster_id", "codes")
        .collect()
    }
    assert got == want  # bit-identical codes, no row lost or doubled


def test_replay_committed_batch_is_noop(spark, emb, cents, cbs, tmp_path):
    path = str(tmp_path / "vidx")
    b0 = emb.limit(50)
    assert append_ivfpq_batch(path, b0, 0, cents, cbs) is True
    n = read_ivfpq_index(spark, path).count()
    assert append_ivfpq_batch(path, b0, 0, cents, cbs) is False
    assert read_ivfpq_index(spark, path).count() == n


def test_crash_replay_overwrites_in_place(spark, emb, cents, cbs, tmp_path):
    path = str(tmp_path / "vidx")
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    b1 = emb.where(F.col("vec_id") % 2 == 1)
    append_ivfpq_batch(path, b0, 0, cents, cbs)
    append_ivfpq_batch(path, b1, 1, cents, cbs)
    want = read_ivfpq_index(spark, path).count()
    # crash: batch 1's data is on disk but its commit never landed
    with open(path + "._commits") as f:
        lines = [x for x in f.read().split() if x != "1"]
    with open(path + "._commits", "w") as f:
        f.write("\n".join(lines) + "\n")
    assert append_ivfpq_batch(path, b1, 1, cents, cbs) is True
    assert read_ivfpq_index(spark, path).count() == want


def test_search_matches_inmemory_and_prunes_partitions(
    spark, emb, cents, cbs, tmp_path
):
    path = str(tmp_path / "vidx")
    append_ivfpq_batch(path, emb.where(F.col("vec_id") % 2 == 0), 0, cents, cbs)
    append_ivfpq_batch(path, emb.where(F.col("vec_id") % 2 == 1), 1, cents, cbs)
    q = emb.where(F.col("vec_id") == 0)
    df = search_ivfpq_index(spark, path, q, cents, cbs, k=10, nprobe=2)
    from svoe_spark.operators.similarity import ann_ivfpq_topk

    mem = ann_ivfpq_topk(
        ivfpq_encode_numpy(emb, cents, cbs), q, cents, cbs, k=10, nprobe=2
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in mem.collect()]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert (
        "PartitionFilters: [" in p
        and "cluster_id" in p.split("PartitionFilters:")[1].split("]")[0]
    ), p


def test_search_refine_default_shortlist_is_operating_point(
    spark, emb, cents, cbs, tmp_path
):
    """With no explicit shortlist, search_ivfpq_index rescores the
    ANN_REFINE_SHORTLIST=200 operating point (never below 4*k)."""
    from svoe_spark.operators.similarity import (
        ANN_REFINE_SHORTLIST,
        ann_ivfpq_topk,
        refine_topk,
    )

    assert ANN_REFINE_SHORTLIST == 200
    path = str(tmp_path / "vidx_dflt")
    assert append_ivfpq_batch(path, emb, 0, cents, cbs)
    q = emb.where(F.col("vec_id") == 42)
    got = [
        (r["vec_id"], r["exact_dist"])
        for r in search_ivfpq_index(
            spark, path, q, cents, cbs, k=5, nprobe=2, refine_from=emb
        ).collect()
    ]
    coded = read_ivfpq_index(spark, path)
    short = ann_ivfpq_topk(coded, q, cents, cbs, k=200, nprobe=2)
    want = [
        (r["vec_id"], r["exact_dist"])
        for r in refine_topk(short, emb, q, k=5).collect()
    ]
    assert got == want and len(got) == 5


def test_search_with_refine_matches_inmemory_pipeline(
    spark, emb, cents, cbs, tmp_path
):
    from svoe_spark.operators.similarity import ann_ivfpq_topk, refine_topk

    path = str(tmp_path / "vidx_refine")
    half = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    assert append_ivfpq_batch(path, half, 0, cents, cbs)
    assert append_ivfpq_batch(path, rest, 1, cents, cbs)
    q = emb.where(F.col("vec_id") == 42)
    got = [
        (r["vec_id"], r["exact_dist"])
        for r in search_ivfpq_index(
            spark, path, q, cents, cbs, k=5, nprobe=2,
            refine_from=emb, shortlist=40,
        ).collect()
    ]
    coded = read_ivfpq_index(spark, path)
    short = ann_ivfpq_topk(coded, q, cents, cbs, k=40, nprobe=2)
    want = [
        (r["vec_id"], r["exact_dist"])
        for r in refine_topk(short, emb, q, k=5).collect()
    ]
    assert got == want and len(got) == 5
