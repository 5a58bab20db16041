"""Product quantization: encode fixed points, ADC self-retrieval,
trained-codebook path, recall vs brute force, zero-shuffle plan."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.similarity import (
    pq_encode,
    pq_topk,
    pq_train,
)
from svoe_spark.sources.tables import load_table

pytestmark = pytest.mark.heavy  # multi-minute suite: deselected by the
# default `pytest tests/ -q` tier (pytest.ini); scripts/ptest.py shards and
# the round-close sweep run it



@pytest.fixture(scope="module")
def emb(spark, sf_mid):
    return load_table(spark, "embeddings", sf_mid)


@pytest.fixture(scope="module")
def cbs(emb):
    return pq_train(emb, method="seed")


def test_seed_vectors_encode_to_themselves(emb, cbs):
    rows = pq_encode(emb.where(F.col("vec_id") < 16), cbs).collect()
    for r in rows:
        assert list(r["codes"]) == [r["vec_id"]] * 8, r["vec_id"]


def test_adc_self_retrieval_is_exact_for_codebook_points(emb, cbs):
    coded = pq_encode(emb, cbs)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    top = pq_topk(coded, qv, cbs, k=3).collect()
    assert top[0]["vec_id"] == 5 and top[0]["adc_dist"] == 0.0


def test_codebook_shape_and_compression(cbs):
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8


def test_kmeans_codebook_trains_and_encodes(emb):
    t = pq_train(emb.limit(200), m=4, ksub=4, method="kmeans", max_iter=2)
    assert len(t) == 4 and len(t[0]) == 4 and len(t[0][0]) == 16
    codes = pq_encode(emb.limit(50), t).select("codes").first()["codes"]
    assert len(codes) == 4 and all(0 <= c < 4 for c in codes)


def _l2_topk(emb, qv, k):
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            qlit,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return emb.select("vec_id", d2.alias("d2")).orderBy("d2", "vec_id").limit(k)


def test_pq_recall_against_brute_force(emb, cbs):
    """ADC with a 16-entry seeded codebook over near-uniform synthetic
    embeddings (the hardest regime for any quantizer — see
    ivf_train's docstring): measured top1-in-50 = 13/20 seeded and
    16/20 kmeans-trained on this fixture. The floor of 10/20 is well
    under the measured value and still catches sign/order/LUT bugs,
    which drive recall to ~chance (50/500 = 2/20)."""
    coded = pq_encode(emb, cbs).persist()
    hits = 0
    for qid in range(20, 40):
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == qid).first()["embedding"]
        ]
        truth = [r["vec_id"] for r in _l2_topk(emb, qv, 2).collect()]
        truth = [t for t in truth if t != qid][:1]
        got = {r["vec_id"] for r in pq_topk(coded, qv, cbs, k=50).collect()}
        hits += bool(set(truth) <= got)
    coded.unpersist()
    assert hits >= 10, hits


def test_pq_scan_is_shuffle_free(emb, cbs):
    df = pq_topk(pq_encode(emb, cbs), [0.0] * 64, cbs, k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "hashpartitioning" not in p, p
    assert "TakeOrderedAndProject" in p, p


@pytest.fixture(scope="module")
def cents(emb):
    return [
        list(r["embedding"])
        for r in emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]


@pytest.fixture(scope="module")
def ivfpq(emb, cents):
    from svoe_spark.operators.similarity import ivfpq_encode, ivfpq_train

    cbs = ivfpq_train(emb, cents, method="seed")
    return cbs, ivfpq_encode(emb, cents, cbs).persist()


def test_ivfpq_seed_residuals_encode_to_themselves(ivfpq):
    # the residual codebook is seeded from ids 16..31 (the first 16
    # are the coarse centroids — residual identically zero)
    cbs, coded = ivfpq
    rows = coded.where(
        (F.col("vec_id") >= 16) & (F.col("vec_id") < 32)
    ).collect()
    assert len(rows) == 16
    for r in rows:
        assert list(r["codes"]) == [r["vec_id"] - 16] * 8, r["vec_id"]


def test_ivfpq_train_driver_path_matches_spark_composition(emb, cents):
    """The round-11 Arrow-pull seed train must equal the former
    ivf_residuals + pq_train(collect) composition bit for bit —
    the shared _np_cosine_scores/_np_vnorm folds ARE the expression
    path, so every codebook double must match exactly."""
    from svoe_spark.operators.similarity import (
        ivf_residuals,
        ivfpq_train,
        pq_train,
    )

    fast = ivfpq_train(emb, cents, method="seed")
    res = ivf_residuals(emb, cents)
    slow = pq_train(
        res, vec_col="residual", method="seed", seed_start=len(cents)
    )
    assert fast == slow


def test_ivfpq_self_retrieval_is_exact_for_seed_points(emb, cents, ivfpq):
    # vec 20 is a residual-codebook seed (entry 4): querying with it,
    # nprobe=1 lands in its own cell, the query residual equals the
    # codebook entry its codes point at, so ADC distance is exactly 0
    from svoe_spark.operators.similarity import ann_ivfpq_topk

    cbs, coded = ivfpq
    top = ann_ivfpq_topk(
        coded, emb.where(F.col("vec_id") == 20), cents, cbs, k=3, nprobe=1
    ).collect()
    assert top[0]["vec_id"] == 20 and top[0]["adc_dist"] == 0.0


def test_ivfpq_trained_recall_floor(emb, cents):
    """Recall of the production path (kmeans-trained residual
    codebooks) at nprobe=4 of 16 cells: everything is deterministic
    (seeded KMeans, fixed corpus), measured top1-in-50 = 10/20 on this
    near-uniform fixture — capped by COARSE probe coverage (the truth
    cell is probed only 12/20 times; conditional on probed, the
    quantizer finds 10/12). A broken LUT / residual sign would land
    near chance (~5/20: 50-of-~125 candidates x 12/20 coverage), so
    the floor of 8 separates working from broken. The seeded codebook
    variant (what the oracle hash-checks) measures 7/20 — bit-correct
    but coarser; this test pins the trained path instead."""
    from svoe_spark.operators.similarity import (
        ann_ivfpq_topk,
        ivfpq_encode,
        ivfpq_train,
    )

    tcbs = ivfpq_train(emb, cents, method="kmeans", max_iter=10)
    coded = ivfpq_encode(emb, cents, tcbs).persist()
    hits = 0
    for qid in range(20, 40):
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == qid).first()["embedding"]
        ]
        truth = [r["vec_id"] for r in _l2_topk(emb, qv, 2).collect()]
        truth = [t for t in truth if t != qid][:1]
        got = {
            r["vec_id"]
            for r in ann_ivfpq_topk(
                coded, emb.where(F.col("vec_id") == qid), cents, tcbs,
                k=50, nprobe=4,
            ).collect()
        }
        hits += bool(set(truth) <= got)
    coded.unpersist()
    assert hits >= 8, hits


def test_ivfpq_probe_scan_is_shuffle_free_with_cell_filter(emb, cents, ivfpq):
    from svoe_spark.operators.similarity import ann_ivfpq_topk

    cbs, coded = ivfpq
    df = ann_ivfpq_topk(
        coded, emb.where(F.col("vec_id") == 0), cents, cbs, k=10, nprobe=2
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "hashpartitioning" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # candidate selection is an IN-list on the cluster key (the
    # partition-prunable predicate at scale)
    assert "cluster_id" in p and (" IN " in p or "isin" in p.lower()), p


def test_ivfpq_encode_numpy_bit_identical(emb, cents, ivfpq):
    from svoe_spark.operators.similarity import ivfpq_encode_numpy

    cbs, coded = ivfpq
    a = {
        r["vec_id"]: (r["cluster_id"], list(r["codes"]))
        for r in coded.collect()
    }
    b = {
        r["vec_id"]: (r["cluster_id"], list(r["codes"]))
        for r in ivfpq_encode_numpy(emb, cents, cbs).collect()
    }
    assert a == b


def test_ivfpq_encode_numpy_zero_vector_lands_in_cell_zero(spark, cents, ivfpq):
    from svoe_spark.operators.similarity import ivfpq_encode_numpy

    cbs, _ = ivfpq
    z = spark.createDataFrame(
        [(999999, [0.0] * 64)], "vec_id bigint, embedding array<double>"
    )
    r = ivfpq_encode_numpy(z, cents, cbs).collect()[0]
    assert r["cluster_id"] == 0 and len(r["codes"]) == 8


def test_ivfpq_parquet_probe_partition_prunes(spark, emb, cents, ivfpq, tmp_path):
    from svoe_spark.operators.similarity import ann_ivfpq_topk

    cbs, coded = ivfpq
    path = str(tmp_path / "ivfpq")
    # the lake layout: parquet partitioned by coarse cell
    coded.write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    stored = spark.read.parquet(path)
    df = ann_ivfpq_topk(
        stored, emb.where(F.col("vec_id") == 0), cents, cbs, k=10, nprobe=2
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # the IN-list must reach PartitionFilters (directory pruning), and
    # results must match the in-memory relation exactly
    assert "PartitionFilters: [" in p and "cluster_id" in p.split("PartitionFilters:")[1].split("]")[0], p
    mem = ann_ivfpq_topk(
        coded, emb.where(F.col("vec_id") == 0), cents, cbs, k=10, nprobe=2
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in mem.collect()]


def test_refine_topk_is_true_topk_of_shortlist(emb, cbs):
    """refine = exact L2 top-k restricted to the shortlist ids, with
    bit-identical distances to the reference fold."""
    from svoe_spark.operators.similarity import refine_topk

    qdf = emb.where(F.col("vec_id") == 25)
    qv = [float(x) for x in qdf.first()["embedding"]]
    short = pq_topk(pq_encode(emb, cbs), qv, cbs, k=50)
    got = [
        (r["vec_id"], r["exact_dist"])
        for r in refine_topk(short, emb, qdf, k=10).collect()
    ]
    ids = [r["vec_id"] for r in short.collect()]
    want = [
        (r["vec_id"], r["d2"])
        for r in _l2_topk(emb.where(F.col("vec_id").isin(ids)), qv, 10).collect()
    ]
    assert got == want


def test_refine_never_hurts_and_lifts_recall_here(emb, cbs):
    """Per query: hits(refined top-10) >= hits(ADC top-10) against the
    exact top-10 — refinement can only reorder the shortlist toward
    the truth. On this fixture the aggregate lift is strict."""
    from svoe_spark.operators.similarity import refine_topk

    coded = pq_encode(emb, cbs).persist()
    adc_hits = ref_hits = 0
    for qid in range(20, 32):
        qdf = emb.where(F.col("vec_id") == qid)
        qv = [float(x) for x in qdf.first()["embedding"]]
        truth = {r["vec_id"] for r in _l2_topk(emb, qv, 10).collect()}
        adc10 = {r["vec_id"] for r in pq_topk(coded, qv, cbs, k=10).collect()}
        short = pq_topk(coded, qv, cbs, k=50)
        ref10 = {
            r["vec_id"] for r in refine_topk(short, emb, qdf, k=10).collect()
        }
        a, r_ = len(adc10 & truth), len(ref10 & truth)
        assert r_ >= a, (qid, a, r_)
        adc_hits += a
        ref_hits += r_
    coded.unpersist()
    assert ref_hits > adc_hits, (adc_hits, ref_hits)


def test_refine_topk_cosine_matches_brute_force(emb):
    """metric='cosine' over an all-ids candidate set reproduces the
    brute-force cosine top-k exactly (same expression, same ties)."""
    from svoe_spark.operators.similarity import brute_force_topk, refine_topk

    qdf = emb.where(F.col("vec_id") == 7)
    cand = emb.select("vec_id")
    got = [
        (r["vec_id"], r["exact_dist"])
        for r in refine_topk(
            cand, emb, qdf, k=10, metric="cosine"
        ).collect()
    ]
    want = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(emb, qdf, k=10).collect()
    ]
    assert got == want


def test_ann_ivfpq_topk_numpy_bit_identical(emb, cbs):
    """The mapInPandas ADC scorer (closure LUT, column-by-column
    float64 accumulation in subspace order) returns EXACTLY the
    expression path's rows — ids, order, and adc_dist doubles."""
    from svoe_spark.operators.similarity import (
        ann_ivfpq_topk,
        ann_ivfpq_topk_numpy,
        ivfpq_encode,
        ivfpq_train,
    )

    cents = [
        list(r["embedding"])
        for r in emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    icbs = ivfpq_train(emb, cents, m=8, ksub=16, method="seed")
    coded = ivfpq_encode(emb, cents, icbs).persist()
    try:
        for qid, nprobe in ((7, 1), (25, 3), (42, 16)):
            qdf = emb.where(F.col("vec_id") == qid)
            a = [
                (r["vec_id"], r["adc_dist"])
                for r in ann_ivfpq_topk(
                    coded, qdf, cents, icbs, k=40, nprobe=nprobe
                ).collect()
            ]
            b = [
                (r["vec_id"], r["adc_dist"])
                for r in ann_ivfpq_topk_numpy(
                    coded, qdf, cents, icbs, k=40, nprobe=nprobe
                ).collect()
            ]
            assert a == b, (qid, nprobe)
    finally:
        coded.unpersist()


def test_ann_ivfpq_topk_batch_equals_per_query(emb, cbs):
    """The one-pass batch search returns EXACTLY each query's
    single-query rows (ids, order within query, adc_dist doubles) —
    probe selection, LUT arithmetic, fold order and tie rule all
    shared with the per-query paths."""
    import pytest

    from svoe_spark.operators.similarity import (
        ann_ivfpq_topk,
        ann_ivfpq_topk_batch,
        ivfpq_encode,
        ivfpq_train,
    )

    cents = [
        list(r["embedding"])
        for r in emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    icbs = ivfpq_train(emb, cents, m=8, ksub=16, method="seed")
    coded = ivfpq_encode(emb, cents, icbs).persist()
    try:
        qids = [7, 25, 42]
        queries = emb.where(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = {}
        for r in ann_ivfpq_topk_batch(
            coded, queries, cents, icbs, k=8, nprobe=3
        ).collect():
            got.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["adc_dist"])
            )
        for qid in qids:
            want = [
                (r["vec_id"], r["adc_dist"])
                for r in ann_ivfpq_topk(
                    coded,
                    emb.where(F.col("vec_id") == qid),
                    cents,
                    icbs,
                    k=8,
                    nprobe=3,
                ).collect()
            ]
            assert got[qid] == want, qid
        with pytest.raises(ValueError, match="empty"):
            ann_ivfpq_topk_batch(
                coded, queries.where("query_id < 0"), cents, icbs
            )
        # review r6: duplicate ids would mix/duplicate candidates in
        # the per-query window — loud error, like refine_topk's
        # single-row contract
        with pytest.raises(ValueError, match="duplicate"):
            ann_ivfpq_topk_batch(
                coded, queries.unionAll(queries.limit(1)), cents, icbs
            )
    finally:
        coded.unpersist()


def test_refine_topk_batch_query_contract(emb, cbs):
    """Batch refine validates its query batch: duplicates and NULL
    vectors raise instead of silently ranking NULL distances first or
    mixing windows."""
    import pytest

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from svoe_spark.operators.similarity import refine_topk_batch

    cand = emb.sparkSession.createDataFrame(
        [(1, i) for i in range(5)], "query_id long, vec_id long"
    )
    q_ok = emb.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="duplicate"):
        refine_topk_batch(cand, emb, q_ok.unionAll(q_ok), k=3)
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    q_null = emb.sparkSession.createDataFrame([(1, None)], schema)
    with pytest.raises(ValueError, match="NULL vector"):
        refine_topk_batch(cand, emb, q_null, k=3)


def test_refine_topk_batch_equals_per_query(emb, cbs):
    """Relational batch refine == per-query refine_topk, including the
    exact_dist doubles, for both metrics."""
    from svoe_spark.operators.similarity import refine_topk, refine_topk_batch

    qids = [25, 42]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # per-query 30-id shortlists (deterministic, distinct per query)
    cand = emb.sparkSession.createDataFrame(
        [(q, (q * 13 + 7 * i) % 200) for q in qids for i in range(30)],
        "query_id long, vec_id long",
    ).distinct()
    for metric in ("l2", "cosine"):
        got = {}
        for r in refine_topk_batch(
            cand, emb, queries, k=5, metric=metric
        ).collect():
            got.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["exact_dist"])
            )
        for qid in qids:
            want = [
                (r["vec_id"], r["exact_dist"])
                for r in refine_topk(
                    cand.where(F.col("query_id") == qid).select("vec_id"),
                    emb,
                    emb.where(F.col("vec_id") == qid),
                    k=5,
                    metric=metric,
                ).collect()
            ]
            assert got[qid] == want, (metric, qid)


def test_refine_topk_query_contract(emb, cbs):
    """ADVICE r5: a multi-row query would crossJoin every candidate
    against every query row and return a MIXED top-k — refine_topk now
    raises on it, and on an empty query (matching ann_ivfpq_topk)."""
    import pytest

    from svoe_spark.operators.similarity import refine_topk

    short = emb.select("vec_id").limit(5)
    with pytest.raises(ValueError, match="single row"):
        refine_topk(short, emb, emb.where(F.col("vec_id") < 2), k=3)
    with pytest.raises(ValueError, match="empty"):
        refine_topk(short, emb, emb.where(F.col("vec_id") < 0), k=3)


def test_refine_topk_plan_is_broadcast_no_shuffle(emb, cbs):
    from svoe_spark.operators.similarity import refine_topk

    qdf = emb.where(F.col("vec_id") == 25)
    qv = [float(x) for x in qdf.first()["embedding"]]
    short = pq_topk(pq_encode(emb, cbs), qv, cbs, k=50)
    df = refine_topk(short, emb, qdf, k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p, p
    assert "hashpartitioning" not in p, p
    assert "TakeOrderedAndProject" in p, p
