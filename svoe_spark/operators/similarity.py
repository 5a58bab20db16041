"""Similarity search over embedding columns: brute-force cosine top-k
(the exact baseline) and hyperplane-LSH bucketed search (the scale
path: candidates shrink by ~2^planes, turning a full scan into a
bucket-local scan).

All vector math is JVM higher-order functions (functions.vectors) —
no Python in the hot path; the per-row cost is a 64-wide fused loop
inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from svoe_spark.operators.util import spread as _spread
from svoe_spark.functions.vectors import (
    cosine,
    dot,
    hyperplane_signs,
    norm_sq,
)

DEFAULT_PLANES = 8


def _lit_nested(arr) -> Column:
    """Nested double-array literal built as ONE parsed SQL expression.
    F.lit on a nested Python list recurses element-wise through py4j —
    measured 3.6 s of pure plan construction for an 8x8x64 codebook —
    while parsing a single array(array(...)) string is one JVM call.
    repr() round-trips doubles exactly and Spark's decimal literal
    parse is correctly rounded, so the values are bit-identical to the
    F.lit form."""

    from svoe_spark.operators.util import fmt_double_literal

    def fmt(x) -> str:
        if isinstance(x, (list, tuple)):
            return "array(" + ",".join(fmt(y) for y in x) + ")"
        return fmt_double_literal(x)

    return F.expr(fmt(arr))


def _py_norm(c: list[float]) -> float:
    """Exact-rounding L2 norm of a Python vector (same fold order as
    the SQL/Spark norm expressions; math.sqrt is correctly rounded ==
    SQL sqrt) — the bit-parity-critical constant both codebook
    assignment paths share."""
    import math

    acc = 0.0
    for x in c:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def brute_force_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k of ``vectors`` against a single-row ``query``
    DataFrame. The query side is broadcast; the scan side never
    shuffles — this is one pass over the corpus + a tiny driver-side
    top-k, the right baseline at any scale."""
    qv = query_vec_col or vec_col
    q = query.select(F.col(qv).alias("__qv"))
    scored = vectors.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        cosine(vec_col, "__qv").alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def brute_force_topk_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for a BATCH of queries: broadcast the query
    set against ONE corpus scan, then rank per query with a window —
    the shape of offline retrieval-eval / hard-negative mining jobs.
    One pass over the corpus regardless of |queries|; the window
    shuffle carries |corpus| x |queries| scored (id, cosine) rows, not
    embeddings. For query batches too big to broadcast, LSH/IVF
    blocking (below) bounds the crossing instead."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qv")
    )
    scored = vectors.crossJoin(F.broadcast(q)).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        cosine(vec_col, "__qv").alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def lsh_bucket(
    vec: Column | str, dim: int, planes: int = DEFAULT_PLANES
) -> Column:
    """Hyperplane-LSH bucket id: one sign bit per deterministic ±1
    hyperplane (functions.vectors.hyperplane_signs).

    The plane matrix is ONE nested-array literal + a transform, not
    `planes` inlined `dim`-literal patterns — plan construction is
    O(dim·planes) py4j calls otherwise, which dominates wall time for
    wide embeddings. The per-plane projection fold is the identical
    zip_with/aggregate expression as signed_projection, so bucket ids
    are bit-for-bit unchanged."""
    v = F.col(vec) if isinstance(vec, str) else vec
    # one parsed literal, not planes*dim py4j calls; ±1 signs are exact
    # as doubles and the projection fold already multiplies doubles, so
    # bucket ids are bit-identical (oracle-gated)
    pats = _lit_nested([hyperplane_signs(p, dim) for p in range(planes)])
    powers = F.expr(
        "array(" + ",".join(str(1 << p) for p in range(planes)) + ")"
    )
    bits = F.transform(
        F.sequence(F.lit(1), F.lit(planes)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    v, F.element_at(pats, p), lambda x, s: x.cast("double") * s
                ),
                F.lit(0.0),
                lambda acc, pr: acc + pr,
            )
            >= 0,
            F.element_at(powers, p).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


def ann_lsh_topk(
    vectors: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = DEFAULT_PLANES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: only vectors in the query's LSH bucket(s) are
    scored. At 100 TB the bucket id is a partition/cluster key, so the
    candidate read is a partition-pruned scan, not a full pass.

    ``probe_bits=1`` enables multi-probe: the query also probes every
    bucket at Hamming distance 1 (one flipped hyperplane sign) —
    planes+1 buckets instead of 1, the standard recall lever when a
    neighbor sits just across one hyperplane. The probe set is a small
    IN-list of bucket keys, so it partition-prunes exactly like the
    single bucket."""
    q = query.select(
        F.col(vec_col).alias("__qv"),
        lsh_bucket(vec_col, dim, planes).alias("__qb"),
    )
    if probe_bits >= 1:
        probes = F.array(
            F.col("__qb"),
            *[F.col("__qb").bitwiseXOR(F.lit(1 << p)) for p in range(planes)],
        )
        q = q.select("__qv", F.explode(probes).alias("__qbucket"))
    else:
        q = q.select("__qv", F.col("__qb").alias("__qbucket"))
    bucketed = vectors.withColumn("__bucket", lsh_bucket(vec_col, dim, planes))
    cands = bucketed.join(
        F.broadcast(q), F.col("__bucket") == F.col("__qbucket")
    )
    return (
        cands.select(
            F.col(id_col), cosine(vec_col, "__qv").alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_train(
    vectors: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    distance_measure: str = "cosine",
) -> list[list[float]]:
    """Train the IVF coarse codebook with stock MLlib KMeans (the
    training half the seeded default in ann_ivf_topk stands in for).
    Returns plain Python centroids for ivf_assign's constant-literal
    plan — training is distributed; the codebook is driver-sized.

    distance_measure defaults to 'cosine' so training and `ivf_assign`
    routing agree on the metric. Measured on the sf0.1 fixture
    (k=16, seed=42, maxIter=10, unbiased queries vec_id 100-119,
    scripts/measure_ivf_recall.py): recall@10 euclidean vs cosine =
    0.28 vs 0.28 at nprobe=1 and 0.41 vs 0.44 at nprobe=2 — near-tied
    because the synthetic embeddings are near-uniform (the hardest
    regime for any coarse codebook); cosine stays the default on
    metric-consistency grounds, not a large measured win. (An earlier
    docstring cited 0.84: that came from evaluating on the codebook's
    own seed vectors, a biased query set — see
    tests/test_similarity_train.py for the bias note.) Zero vectors
    are excluded from training (cosine distance is undefined on them;
    MLlib throws)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = vectors
    if distance_measure == "cosine":
        v = v.where(norm_sq(vec_col) > 0)
    v = v.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, distanceMeasure=distance_measure
    ).fit(v)
    return [[float(x) for x in c] for c in model.clusterCenters()]


IVF_Q_SCALE = 1 << 20  # quantization: round(x * 2^20) + 2^20 (all-positive)

#: Driver-resident Lloyd's gate (round 10): at or under this many
#: vectors the whole training loop runs in-process from one Arrow pull
#: (65536 x 64 int64 cells ~ 32 MB) — zero jobs per round instead of a
#: full interpreted-HOF corpus scan each; the distributed shuffle-free
#: scan path is untouched above the gate. Arithmetic is the identical
#: exact-integer recurrence, so the codebook is bit-for-bit the same.
DRIVER_TRAIN_VECTORS = 65_536


def _ivf_quant(vec_col: str) -> Column:
    """Exact-integer embedding quantization for relational Lloyd's:
    round(x * 2^20) + 2^20 per coordinate (the +2^20 shift keeps every
    value positive so truncating integer division == floor division on
    BOTH engines; squared-distance comparisons are translation-
    invariant, so assignments are unchanged by the shift). round() ties
    away from zero on both engines (the `_cents` precedent)."""
    s = IVF_Q_SCALE
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(s)), 0).cast("long")
        + F.lit(s),
    )


def _lit_long_nested(arr: list[list[int]]) -> Column:
    """Nested bigint-array literal as ONE parsed expression (the
    integer sibling of _lit_nested; same py4j-cost rationale)."""
    body = ",".join(
        "array(" + ",".join(f"{int(v)}L" for v in row) + ")" for row in arr
    )
    return F.expr(f"array({body})")


def _lloyd_round_sums(q: DataFrame, cents: list, dim: int) -> DataFrame:
    """One Lloyd's round's pre-pull relation over the quantized corpus
    ``q`` (__id, qv): assign each vector to its nearest centroid (the
    K-literal squared-euclidean argmin, ties to the lowest id — a pure
    projection, NO shuffle below it; plan-gated by
    tests/test_plan_quality.py::test_lloyd_assign_stage_is_shuffle_free)
    and partial-aggregate (count, per-dim coordinate sums) into k rows.
    The single Exchange in the plan is the final k-row agg merge."""
    cb = _lit_long_nested(cents)
    scored = F.transform(
        F.sequence(F.lit(1), F.lit(len(cents))),
        lambda j: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    F.element_at(cb, j),
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ).alias("dist"),
            j.alias("cid"),
        ),
    )
    return (
        q.select((F.array_min(scored)["cid"] - 1).alias("cid"), "qv")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("qv", i + 1)).alias(f"s{i}")
                for i in range(dim)
            ],
        )
    )


def ivf_train_relational(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """DETERMINISTIC Lloyd's k-means for the IVF coarse codebook — the
    oracle-checkable replacement for the stock-MLlib `ivf_train` (whose
    KMeans|| init + float centroid averaging no SQL engine can
    reproduce). Same training discipline as the integer PageRank family
    (operators/graph.py): hash-seeded init, exact integer arithmetic
    every round, a FIXED iteration count — so an unrolled-CTE DuckDB
    oracle re-derives the identical codebook bit-for-bit.

    Semantics per round (squared-euclidean on 2^20-scaled integer
    coordinates, ties to the lowest centroid id):
      assign_i = argmin_j  sum_c (q_i[c] - cent_j[c])^2
      cent_j'[c] = round_half_up(sum_i q_i[c] / n_j)   [integer form:
                   (2*s + n) div (2*n), all-positive so div == floor]
    Empty clusters keep their previous centroid. Init = the k vectors
    with the smallest (md5(vec_id), vec_id) key.

    Scale shape: each round is ONE corpus scan — a shuffle-free
    K-literal argmin projection (the ivf_assign pattern) into a
    partial-aggregated groupBy of k rows x dim sums — plus a k x dim
    driver pull (the bounded codebook, never data). Returns float
    centroids (exact dyadic (c - 2^20)/2^20 values) for `ivf_assign` /
    `ann_ivf_topk`, whose constant-literal cosine plan the oracled IVF
    siblings already share. Training metric is euclidean, routing is
    the family's shared cosine argmax — measured near-tied on this
    fixture (see ivf_train docstring)."""
    from svoe_spark.functions.text import md5_hash

    q = vectors.select(
        F.col(id_col).alias("__id"),
        _ivf_quant(vec_col).alias("qv"),
        md5_hash(F.col(id_col).cast("string")).alias("__h"),
    )

    # Driver-resident tier (round 10, the micro-graph discipline): at
    # or under DRIVER_TRAIN_VECTORS the quantized corpus is pulled
    # ONCE via Arrow (the md5 seed keys still computed by Spark in
    # that same scan) and every Lloyd's round runs in-process — exact
    # int64 numpy: (x-c)^2 <= (2^21)^2, a dim-sum <= 2^48, and the
    # per-cluster coordinate sums are bounded by m * 2^21 — no
    # overflow at any gated size. Seed order (md5-hex, id) and the
    # (2s+n) div (2n) update are token-identical, so the returned
    # codebook is bit-for-bit the distributed path's (pinned by
    # test_ivf_train_relational_driver_tier_matches).
    if 0 < vectors.count() <= DRIVER_TRAIN_VECTORS:
        import numpy as np

        pdf = q.toPandas()
        X = np.array(pdf["qv"].tolist(), dtype="int64")
        ids = pdf["__id"].to_numpy()
        order = np.lexsort((ids, pdf["__h"].to_numpy()))
        cents = [list(int(v) for v in X[i]) for i in order[:k]]
        C = np.array(cents, dtype="int64")
        for _ in range(iters):
            # same argmin, ties to the lowest cid (np.argmin returns
            # the first minimum; columns are scored in cid order).
            # Per-centroid distance columns, NOT a broadcast
            # (m, k, dim) cube — the cube's int64 temporaries would
            # peak at ~2k x the pulled corpus itself (0.5-4 GiB at the
            # gate maximum); this form keeps peak memory O(m*(d+k)).
            d2 = np.empty((X.shape[0], len(C)), dtype="int64")
            for j in range(len(C)):
                diff = X - C[j]
                d2[:, j] = (diff * diff).sum(axis=1)
            cid = np.argmin(d2, axis=1)
            for j in range(len(C)):
                mask = cid == j
                n = int(mask.sum())
                if n:
                    s_sum = X[mask].sum(axis=0)
                    C[j] = (2 * s_sum + n) // (2 * n)
        s = IVF_Q_SCALE
        return [[(int(c) - s) / s for c in cent] for cent in C]

    q = q.persist()
    try:
        seed_rows = q.orderBy("__h", "__id").limit(k).collect()
        if not seed_rows:
            raise ValueError("ivf_train_relational: no input vectors")
        cents = [list(r["qv"]) for r in seed_rows]
        dim = len(cents[0])
        for _ in range(iters):
            sums = _lloyd_round_sums(q, cents, dim)
            nxt = list(cents)
            for r in sums.collect():  # bounded: k rows (the codebook)
                n = int(r["n"])
                nxt[int(r["cid"])] = [
                    (2 * int(r[f"s{i}"]) + n) // (2 * n) for i in range(dim)
                ]
            cents = nxt
    finally:
        q.unpersist()
    s = IVF_Q_SCALE
    return [[(c - s) / s for c in cent] for cent in cents]


def ivf_train_relational_sql(
    table: str,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    dim: int,
) -> str:
    """DuckDB CTE chain re-deriving `ivf_train_relational`'s codebook —
    unrolled fixed-iteration Lloyd's, ending in CTE ``cents``
    (cid [0-based, matching the Spark centroid-list index], cvf
    DOUBLE[] — the exact dyadic floats ivf_assign receives)."""
    from svoe_spark.functions.text import sql_md5_hash

    s = IVF_Q_SCALE
    h = sql_md5_hash(f"CAST({id_col} AS VARCHAR)")
    dist = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {dim} + 1), "
        "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), "
        "(acc, v) -> acc + v)"
    )
    out = [
        f"""
    ivq AS (
      SELECT {id_col} AS vid, {h} AS seed_h,
             list_transform({vec_col},
               x -> CAST(round(CAST(x AS DOUBLE) * {float(s)!r}, 0) AS BIGINT)
                    + {s}) AS qv
      FROM {table}
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY seed_h, vid) - 1 AS cid, qv AS cv
      FROM ivq QUALIFY row_number() OVER (ORDER BY seed_h, vid) <= {k}
    )"""
    ]
    for t in range(1, iters + 1):
        out.append(
            f"""
    a{t} AS (
      SELECT q.vid, q.qv, c.cid
      FROM ivq q, c{t - 1} c
      QUALIFY row_number() OVER (PARTITION BY q.vid
                                 ORDER BY {dist}, c.cid) = 1
    ),
    u{t} AS (
      SELECT cid, i,
             (2 * SUM(qv[i]) + count(*)) // (2 * count(*)) AS cc
      FROM (SELECT cid, qv, unnest(generate_series(1, {dim})) AS i
            FROM a{t})
      GROUP BY cid, i
    ),
    c{t} AS (
      SELECT p.cid, coalesce(n.cv, p.cv) AS cv
      FROM c{t - 1} p LEFT JOIN
           (SELECT cid, list(CAST(cc AS BIGINT) ORDER BY i) AS cv
            FROM u{t} GROUP BY cid) n USING (cid)
    )"""
        )
    out.append(
        f"""
    cents AS (
      SELECT cid,
             list_transform(cv,
               v -> (CAST(v AS DOUBLE) - {float(s)!r}) / {float(s)!r}) AS cvf
      FROM c{iters}
    )"""
    )
    return ",".join(out)


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out: str = "cluster_id",
    method: str = "arrow",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its max-cosine
    centroid (ties break to the lowest centroid id) — a single
    shuffle-free projection. `centroids` is the trained codebook;
    k-means training is a separate step — any fixed list works, and
    the seeded default in ann_ivf_topk uses the first K vectors. At
    scale `cluster_id` becomes the partition/cluster key, so probes
    are partition-pruned scans.

    ``method="arrow"`` (default, round 10): the K x dim argmin runs as
    a vectorized Arrow scalar UDF over ONLY the vector column — numpy
    per-DIMENSION folds reproduce the SQL left fold's IEEE operation
    sequence exactly (acc = acc + x_i*c_i is the same rounding step
    whether scalar or SIMD-vectorized across rows), np.sqrt is
    correctly rounded like SQL sqrt, and np.argmax's first-max rule is
    the struct-max's ties-to-lowest-cid — so the assignment is
    bit-identical to the interpreted expression form (differential
    test: test_ivf_assign_arrow_equals_expr; 0/2000 mismatches on the
    sf0.1 fixture). The expression form (``method="expr"``) remains
    the oracle-twin reference; the SQL twins re-derive assignments
    from the same fold, so query results are unchanged either way."""
    # spread: the K x dim argmax fold is per-row work — don't let a
    # single-file corpus serialize it onto one task
    if method == "arrow":
        import pandas as pd

        C = [[float(x) for x in c] for c in centroids]
        CN = [_py_norm(c) for c in C]

        def _assign_batch(s):
            import numpy as np

            if len(s) == 0:
                return pd.Series([], dtype="int32")
            X = np.array(s.tolist(), dtype="float64")
            cos = _np_cosine_scores(X, _np_vnorm(X), C, CN)
            return pd.Series(np.argmax(cos, axis=1).astype("int32"))

        # returnType passed explicitly: the module's string annotations
        # (PEP 563) are not resolvable by pandas_udf's hint inspection
        _assign = F.pandas_udf(_assign_batch, "int")
        return _spread(vectors).withColumn(out, _assign(F.col(vec_col)))
    withn = _spread(vectors).withColumn("__vnorm", F.sqrt(norm_sq(vec_col)))
    scored = _ivf_scored_expr(centroids, vec_col)
    best = F.array_max(scored)
    return withn.withColumn(out, -best["nid"]).drop("__vnorm")


def _np_vnorm(X):
    """Vector norms via the exact per-dimension fold: acc = acc +
    x_i*x_i is the same IEEE operation sequence as the SQL left fold
    (norm_sq), vectorized across rows; np.sqrt is correctly rounded
    like SQL sqrt. THE fold order here is the bit-identity contract
    with the expression form — do not reassociate."""
    import numpy as np

    acc = np.zeros(X.shape[0])
    for i in range(X.shape[1]):
        acc = acc + X[:, i] * X[:, i]
    return np.sqrt(acc)


def _np_cosine_scores(X, vnorm, cents, norms):
    """(n x k) cosine score matrix against constant centroids with the
    exact per-dimension dot fold and the expression form's zero-norm
    guard — shared by every Arrow assign path so a rounding-order
    tweak can never desynchronize them (the fold order IS the
    bit-identity contract; see _np_vnorm)."""
    import numpy as np

    n, d = X.shape
    cos = np.empty((n, len(cents)))
    for j, c in enumerate(cents):
        dot = np.zeros(n)
        for i in range(d):
            dot = dot + X[:, i] * c[i]
        denom = vnorm * norms[j]
        safe = np.where(denom == 0.0, 1.0, denom)
        cos[:, j] = np.where(denom != 0.0, dot / safe, 0.0)
    return cos


def _ivf_scored_expr(centroids: list[list[float]], vec_col: str):
    """array<struct<cos, nid>> of centroid scores against `vec_col`
    (requires a `__vnorm` column); nid = 1-i so that struct max (and
    descending sort) tie-breaks to the LOWEST centroid id.

    One norm fold per ROW (not per centroid), centroid norms as Python
    constants (math.sqrt is correctly rounded == SQL sqrt), and the
    codebook + norms as TWO nested-array literals indexed by transform
    — not K inlined dim-literal arrays, whose py4j construction alone
    measured 3.6 s at K=16, dim=64. Same dot fold, same division, so
    scores (and the argmax assignment) are bit-identical to the naive
    per-pair cosine. Shared by the corpus argmax (ivf_assign) and the
    query-side top-P sort so the two paths can never diverge."""
    cb = _lit_nested([[float(x) for x in c] for c in centroids])
    cn = _lit_nested([_py_norm(c) for c in centroids])
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: F.struct(
            F.when(
                (F.col("__vnorm") * F.element_at(cn, i)) != 0.0,
                dot(F.col(vec_col), F.element_at(cb, i))
                / (F.col("__vnorm") * F.element_at(cn, i)),
            )
            .otherwise(F.lit(0.0))
            .alias("cos"),
            (1 - i).alias("nid"),
        ),
    )


def _ivf_sorted_scores(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """Per row, all centroid scores sorted best-first (`__scored_desc`)
    — used on the tiny query side for nprobe > 1; the corpus side keeps
    the cheaper argmax."""
    withn = df.withColumn("__vnorm", F.sqrt(norm_sq(vec_col)))
    scored = _ivf_scored_expr(centroids, vec_col)
    return withn.withColumn(
        "__scored_desc", F.reverse(F.array_sort(scored))
    ).drop("__vnorm")


def ann_ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: score the query's ``nprobe`` nearest coarse clusters
    (nprobe=1 reproduces classic single-cluster IVF; raising it is the
    standard recall/latency dial). Probing stays a small IN-list of
    cluster keys — a partition-pruned scan at 100 TB, never a full
    pass. Only the (tiny, broadcast) query side pays the top-P sort;
    corpus assignment remains the shuffle-free argmax."""
    assigned = ivf_assign(vectors, centroids, vec_col)
    if nprobe <= 1:
        q = ivf_assign(query, centroids, vec_col).select(
            F.col(vec_col).alias("__qv"), F.col("cluster_id").alias("__qc")
        )
    else:
        scored = _ivf_sorted_scores(query, centroids, vec_col)
        q = scored.select(
            F.col(vec_col).alias("__qv"),
            F.explode(
                F.transform(
                    F.slice("__scored_desc", 1, nprobe), lambda s: -s["nid"]
                )
            ).alias("__qc"),
        )
    cands = assigned.join(F.broadcast(q), F.col("cluster_id") == F.col("__qc"))
    return (
        cands.select(
            F.col(id_col), cosine(vec_col, "__qv").alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    group_cols: list[str] | None = None,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    planes: int = DEFAULT_PLANES,
    method: str = "expr",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking groups.

    Default (``group_cols=None``): hyperplane-LSH bucket blocking — the
    scale-safe path. The bucket id confines the quadratic step to
    bucket-local candidate sets (~n/2^planes each) and at 100 TB doubles
    as the partition key; near-dup pairs land in the same bucket with
    high probability (high cosine => few differing hyperplane signs).
    ``dim`` (embedding width) is read from the first row if not given.

    Explicit ``group_cols`` blocks by those columns INSTEAD — exact
    within each block, quadratic in the largest block, so only for
    bounded block sizes (or pass your own bucket column). An unblocked
    all-pairs form is deliberately not offered: pass a constant column
    if you really want O(n^2) on a small input."""
    auto = not group_cols  # None or [] -> LSH blocking
    if auto:
        if dim is None:
            row = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
            dim = int(row["d"]) if row else 0
        vectors = vectors.withColumn(
            "__lsh_bucket", lsh_bucket(vec_col, dim, planes)
        )
        group_cols = ["__lsh_bucket"]
    if method == "numpy":
        # vectorized per-block matmul (~9x at hundreds of vectors per
        # block; last-ulp cosine differences vs the oracle-exact fold)
        out = embedding_neardup_pairs_numpy(
            vectors,
            group_cols=group_cols,
            threshold=threshold,
            vec_col=vec_col,
            id_col=id_col,
        )
        return out.drop("__lsh_bucket") if auto else out
    # precompute each vector's norm ONCE (O(n)) instead of per pair
    # (O(n^2)); the pair expression divides by the same sqrt values, so
    # the floating result is bit-identical to the naive form. spread
    # first: a few-fat-files corpus would otherwise evaluate the whole
    # interpreted per-pair cosine fold in ONE task (measured 4.3 s ->
    # 0.6 s on the sf0.1 single-file fixture)
    v = _spread(vectors).select(
        *group_cols, id_col, vec_col, F.sqrt(norm_sq(vec_col)).alias("__norm")
    )
    a, b = v.alias("a"), v.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    den = F.col("a.__norm") * F.col("b.__norm")
    cos = F.when(
        den != 0.0,
        dot(f"a.{vec_col}", f"b.{vec_col}") / den,
    ).otherwise(F.lit(0.0))
    out = (
        a.join(b, cond)
        .select(
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return out.drop("__lsh_bucket") if auto else out


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column (the storage/
    serving compression step of an embedding pipeline): per vector,
    q_i = floor(x_i / scale + 0.5) with scale = max|x| / 127, emitted
    with the L2 norm and a portable digest (sum + csv of the quantized
    ints) instead of an array column — scalar outputs keep the result
    hashable by any downstream harness.

    Pure array-side expressions (zero shuffle, fused with the scan).
    floor(x + 0.5) is used instead of round() because its IEEE result
    is identical in every engine, making the operator oracle-checkable
    bit-for-bit; zero vectors quantize to all-zero with scale 0.

    Built as CHAINED projections with named intermediates (__v, __amax,
    q_scale, __q), not one nested expression: higher-order lambdas are
    interpreted, so a subtree referenced inside a lambda re-evaluates
    per ELEMENT — inlining amax into the quantize lambda measured
    O(dim^2) per row (43 s for 50k x 64 vectors vs ~1 s). Catalyst's
    CollapseProject keeps multiply-referenced non-trivial aliases
    un-inlined, so each intermediate computes once per row.
    """
    s1 = _spread(df).select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    s2 = s1.select(
        id_col,
        "__v",
        F.sqrt(
            F.aggregate("__v", F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("l2_norm"),
        F.array_max(F.transform("__v", lambda x: F.abs(x))).alias("__amax"),
    )
    s3 = s2.select(
        id_col,
        "__v",
        "l2_norm",
        F.when(F.col("__amax") > 0, F.col("__amax") / 127.0)
        .otherwise(F.lit(0.0))
        .alias("q_scale"),
    )
    s4 = s3.select(
        id_col,
        "l2_norm",
        "q_scale",
        F.when(
            F.col("q_scale") > 0,
            F.transform(
                "__v",
                lambda x: F.floor(x / F.col("q_scale") + 0.5).cast("long"),
            ),
        )
        .otherwise(F.transform("__v", lambda x: F.lit(0).cast("long")))
        .alias("__q"),
    )
    return s4.select(
        F.col(id_col),
        "l2_norm",
        "q_scale",
        F.aggregate("__q", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.array_join(F.transform("__q", lambda x: x.cast("string")), ",").alias(
            "q_csv"
        ),
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): coarse-cluster the embeddings
    with a codebook, then inside each cluster drop every vector that
    has a more-canonical (smaller-id) neighbor with cosine >=
    ``threshold``. One labeled row per input vector:
    (id, cluster_id, dropped).

    Scale shape: the assignment is `ivf_assign`'s shuffle-free argmax
    projection; the pair step is `embedding_neardup_pairs` blocked by
    cluster_id, so the quadratic work is confined to cluster-local
    candidate sets (the SemDeDup design point — cluster sizes are
    controlled by the codebook size k ~ n/target_cluster_size). At
    100 TB cluster_id doubles as the partition key.

    Keep policy: a vector is dropped iff SOME smaller-id in-cluster
    vector is within the threshold — the relational form of "keep one
    representative per duplicate set" that needs no iteration. For
    transitive-closure clustering of the pair graph, feed the pairs to
    `operators.graph.dedup_clusters` instead."""
    assigned = ivf_assign(vectors, centroids, vec_col=vec_col)
    return semantic_prune(assigned, threshold, vec_col=vec_col, id_col=id_col)


def semantic_prune(
    assigned: DataFrame,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
    method: str = "expr",
) -> DataFrame:
    """The prune half of SemDeDup over any cluster assignment (flat
    `ivf_assign`, hierarchical `ivf_assign_2level`, or an external
    clustering): drop every vector with a smaller-id in-cluster
    neighbor at cosine >= threshold. (id, cluster_id, dropped).

    ``method="expr"`` (default) scores pairs with the oracle-
    bit-identical expression fold; ``method="numpy"`` uses the Arrow +
    matrix-multiply path (`embedding_neardup_pairs_numpy`, ~30x at
    hundreds of vectors per cell) — same drop decisions except for
    pairs landing exactly AT the threshold (BLAS reassociation)."""
    if method == "numpy":
        pairs = embedding_neardup_pairs_numpy(
            assigned,
            group_cols=[cluster_col],
            threshold=threshold,
            vec_col=vec_col,
            id_col=id_col,
        )
    else:
        pairs = embedding_neardup_pairs(
            assigned,
            group_cols=[cluster_col],
            threshold=threshold,
            vec_col=vec_col,
            id_col=id_col,
        )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        assigned.join(
            dropped.withColumn("__drop", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            F.col(cluster_col).cast("long").alias("cluster_id"),
            F.coalesce("__drop", F.lit(False)).alias("dropped"),
        )
    )


def ivf_assign_2level(
    vectors: DataFrame,
    coarse: list[list[float]],
    sub: list[list[list[float]]],
    vec_col: str = "embedding",
    out: str = "cluster_id",
    method: str = "arrow",
) -> DataFrame:
    """Two-level (hierarchical) IVF assignment: argmax-cosine over k1
    coarse centroids, then argmax over that cell's k2 sub-centroids;
    cluster_id = coarse*k2 + sub.

    This is the scale path for LARGE codebooks (SemDeDup wants cluster
    sizes of a few hundred, i.e. k ~ n/300): a flat constant-literal
    argmax caps out at a few hundred centroids (plan-size and per-row
    k x dim fold), while two nested levels give k1*k2 effective cells
    for k1+k2 fold cost per row — 32x32 = 1024 cells at 64-fold cost.
    Still a single shuffle-free projection; both codebook levels are
    broadcast literals. Same IVF-tree shape as FAISS's IVF + residual
    quantizers (Johnson et al., "Billion-scale similarity search with
    GPUs", 2017), minus the residual encoding.

    ``sub[c]`` is the k2-centroid codebook of coarse cell ``c``. The
    deterministic seeded layout used by the registered query takes
    coarse = vectors[0..k1), sub[c] = vectors[k1 + c*k2 .. k1 + (c+1)*k2)
    — trained codebooks from `ivf_train` (applied per coarse cell) drop
    in identically.

    Round 10: like `ivf_assign`, the default engine is a vectorized
    Arrow scalar UDF whose per-dimension folds reproduce the SQL left
    fold's IEEE operation sequence exactly (see ivf_assign) — both
    levels' assignments are bit-identical to the expression form
    (differential test: test_ivf_assign_2level_arrow_equals_expr).
    ``method="expr"`` keeps the interpreted reference."""
    k1 = len(coarse)
    assert k1 > 0 and len(sub) == k1, (k1, len(sub))
    k2 = len(sub[0])
    assert all(len(s) == k2 for s in sub)

    if method == "arrow":
        import pandas as pd

        CO = [[float(x) for x in c] for c in coarse]
        CON = [_py_norm(c) for c in CO]
        SU = [[[float(x) for x in c] for c in cell] for cell in sub]
        SUN = [[_py_norm(c) for c in cell] for cell in SU]

        def _assign2_batch(s):
            import numpy as np

            if len(s) == 0:
                return pd.Series([], dtype="int32")
            X = np.array(s.tolist(), dtype="float64")
            n = X.shape[0]
            vnorm = _np_vnorm(X)
            cid = np.argmax(_np_cosine_scores(X, vnorm, CO, CON), axis=1)
            sid = np.empty(n, dtype="int64")
            for c in range(k1):
                mask = cid == c
                if not mask.any():
                    continue
                cos = _np_cosine_scores(X[mask], vnorm[mask], SU[c], SUN[c])
                sid[mask] = np.argmax(cos, axis=1)
            return pd.Series((cid * k2 + sid).astype("int32"))

        _assign2 = F.pandas_udf(_assign2_batch, "int")
        return _spread(vectors).withColumn(out, _assign2(F.col(vec_col)))

    withn = _spread(vectors).withColumn("__vnorm", F.sqrt(norm_sq(vec_col)))
    coarse_best = F.array_max(_ivf_scored_expr(coarse, vec_col))
    withc = withn.withColumn("__cid", -coarse_best["nid"])

    subcb = _lit_nested([[[float(x) for x in c] for c in cell] for cell in sub])
    subn = _lit_nested([[_py_norm(c) for c in cell] for cell in sub])
    # materialize the CHOSEN cell's codebook/norms as named columns
    # before the scoring lambdas: HOF lambdas are interpreted with no
    # CSE, so an inlined element_at(subcb, cid+1) re-slices the whole
    # k1 x k2 x dim literal per evaluated element (measured 11.4 s ->
    # ~2 s for the registered query at sf0.1)
    withcell = withc.withColumn(
        "__cell", F.element_at(subcb, F.col("__cid") + 1)
    ).withColumn("__celln", F.element_at(subn, F.col("__cid") + 1))
    sub_scores = F.transform(
        F.sequence(F.lit(1), F.lit(k2)),
        lambda j: F.struct(
            F.when(
                (F.col("__vnorm") * F.element_at("__celln", j)) != 0.0,
                dot(F.col(vec_col), F.element_at("__cell", j))
                / (F.col("__vnorm") * F.element_at("__celln", j)),
            )
            .otherwise(F.lit(0.0))
            .alias("cos"),
            (1 - j).alias("nid"),
        ),
    )
    sub_best = F.array_max(sub_scores)
    return (
        withcell.withColumn("__sid", -sub_best["nid"])
        .withColumn(out, F.col("__cid") * k2 + F.col("__sid"))
        .drop("__vnorm", "__cid", "__sid", "__cell", "__celln")
    )


def embedding_neardup_pairs_numpy(
    vectors: DataFrame,
    group_cols: list[str],
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vectorized (Arrow + numpy) form of the blocked pair scan: per
    block, one C = (E @ E.T) / outer(norms) matrix multiply instead of
    an interpreted 64-wide fold per pair — measured ~30x on the 200k
    planted-twin smoke (782 s -> 26 s, same pairs). The throughput path
    once blocks hold more than a few hundred vectors; the expression
    form stays the default because its fold order is bit-identical to
    the DuckDB oracle, while BLAS reassociates the dot sums (values
    differ in the last ulp — pair SETS agree except exactly AT the
    threshold; differential-tested in tests/test_pair_blocking.py).

    Same contract as `embedding_neardup_pairs(group_cols=...)`:
    (group_cols..., id_a, id_b, cosine) with id_a < id_b, zero-norm
    vectors never pair (cosine treated as 0)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    in_fields = vectors.select(*group_cols, id_col, vec_col).schema.fields
    out_schema = T.StructType(
        [f for f in in_fields if f.name in group_cols]
        + [
            T.StructField("id_a", next(f.dataType for f in in_fields if f.name == id_col)),
            T.StructField("id_b", next(f.dataType for f in in_fields if f.name == id_col)),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        E = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        norms = np.sqrt((E * E).sum(axis=1))
        safe = np.where(norms == 0.0, 1.0, norms)
        C = (E @ E.T) / np.outer(safe, safe)
        C[norms == 0.0, :] = 0.0
        C[:, norms == 0.0] = 0.0
        iu, ju = np.triu_indices(n, k=1)
        keep = C[iu, ju] >= threshold
        ia, jb = iu[keep], ju[keep]
        out = pd.DataFrame(
            {
                "id_a": pdf[id_col].values[ia],
                "id_b": pdf[id_col].values[jb],
                "cosine": C[ia, jb],
            }
        )
        for g in group_cols:
            out[g] = pdf[g].iloc[0]
        return out[[*group_cols, "id_a", "id_b", "cosine"]]

    v = _spread(vectors).select(*group_cols, id_col, vec_col)
    return v.groupBy(*group_cols).applyInPandas(fn, schema=out_schema)


# --- Product quantization (Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search", IEEE TPAMI) -----------------------------------

PQ_M = 8
PQ_KSUB = 16


def pq_train(
    vectors: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "seed",
    seed: int = 42,
    max_iter: int = 10,
    seed_start: int = 0,
) -> list[list[list[float]]]:
    """Per-subspace codebooks `cb[s][c] = sub-centroid` (m subspaces of
    dim/m components, ksub codes each). method='seed' takes the ksub
    vectors with ``seed_start <= id < seed_start + ksub`` as subvector
    entries (the deterministic stand-in, mirroring ann_ivf_topk's
    seeded codebook — oracle-derivable relationally; ``seed_start``
    lets IVF-PQ skip the ids already consumed as coarse centroids,
    whose residuals are identically zero); method='kmeans' runs stock
    MLlib KMeans per subspace on the sliced corpus (euclidean — PQ
    quantizes residual geometry, not direction). The codebook is
    driver-sized (m*ksub*(dim/m) floats)."""
    if method == "seed":
        rows = (
            vectors.where(
                (F.col(id_col) >= seed_start)
                & (F.col(id_col) < seed_start + ksub)
            )
            .orderBy(id_col)
            .select(vec_col)
            .collect()
        )
        if len(rows) != ksub:
            raise ValueError(
                f"seed codebook needs exactly {ksub} rows with "
                f"{seed_start} <= {id_col} < {seed_start + ksub}; "
                f"found {len(rows)} (sparse or short id range — pass a "
                f"different seed_start or use method='kmeans')"
            )
        dim = len(rows[0][0])
        d = dim // m
        return [
            [[float(x) for x in r[0][s * d : (s + 1) * d]] for r in rows]
            for s in range(m)
        ]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(vectors.select(vec_col).first()[0])
    d = dim // m
    cbs = []
    for s in range(m):
        sub = vectors.select(
            array_to_vector(
                F.slice(F.col(vec_col), s * d + 1, d).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(
            k=ksub, seed=seed + s, maxIter=max_iter,
            distanceMeasure="euclidean",
        ).fit(sub)
        cbs.append([[float(x) for x in c] for c in model.clusterCenters()])
    return cbs


def _sub_dist2(sub: Column, cent: Column) -> Column:
    """Fold-left squared L2 distance between a subvector column and a
    codebook-entry array — the fixed expression tree the SQL oracle
    mirrors term for term."""
    diffs = F.zip_with(
        sub, cent, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out: str = "codes",
) -> DataFrame:
    """Quantize each vector to m one-byte codes: per subspace, the
    argmin-distance codebook entry (ties to the LOWEST code via struct
    min on (dist2, code)). Shuffle-free projection; at 100 TB the codes
    column (m bytes) replaces the raw embedding (dim floats) in the
    scan — a 4*dim/m compression (32x at dim=64, m=8) that turns ANN
    into a codes-only columnar read."""
    m, ksub = len(codebooks), len(codebooks[0])
    d = len(codebooks[0][0])
    cb = _lit_nested(codebooks)  # m x ksub x d doubles

    def code_for(s: Column) -> Column:
        sub = F.slice(F.col(vec_col), (s - 1) * d + 1, d)
        scored = F.transform(
            F.sequence(F.lit(1), F.lit(ksub)),
            lambda c: F.struct(
                _sub_dist2(sub, F.element_at(F.element_at(cb, s), c)).alias(
                    "dist2"
                ),
                (c - 1).alias("code"),
            ),
        )
        return F.array_min(scored)["code"]

    codes = F.transform(
        F.sequence(F.lit(1), F.lit(m)), lambda s: code_for(s).cast("int")
    )
    return _spread(vectors).withColumn(out, codes)


def _py_sub_dist2(q: list[float], c: list[float]) -> float:
    """Python mirror of _sub_dist2 (same fold order, same casts) for
    the driver-side ADC lookup table."""
    acc = 0.0
    for x, y in zip(q, c):
        acc += (float(x) - y) * (float(x) - y)
    return acc


def pq_topk(
    coded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query never gets
    quantized — a driver-computed m x ksub lookup table of exact
    query-subvector-to-centroid distances rides as a plan literal, and
    each row's approximate distance is the subspace-order fold of m
    table lookups (ties to the lowest id). No shuffle: the scan reads
    only (id, codes) and the top-k is a TakeOrdered, not a global
    sort."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    lut = _lit_nested(
        [
            [
                _py_sub_dist2(query_vec[s * d : (s + 1) * d], c)
                for c in codebooks[s]
            ]
            for s in range(m)
        ]
    )
    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(lut, s), F.element_at(F.col(codes_col), s) + 1
        ),
    )
    return (
        coded.select(F.col(id_col), adc.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def ivf_residuals(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    out: str = "residual",
) -> DataFrame:
    """Coarse-assign each vector (``ivf_assign``'s shuffle-free argmax)
    and attach its residual ``x - centroid[cluster]`` — the quantity
    IVF-PQ encodes (FAISS IVFADC: PQ on residuals, not raw vectors,
    because residual magnitudes are much smaller than vector
    magnitudes, so the same code budget quantizes finer). The centroid
    lookup is element_at into the codebook plan literal; the subtract
    is a zip_with — still zero shuffles."""
    assigned = ivf_assign(vectors, centroids, vec_col, out=cluster_col)
    cb = _lit_nested([[float(x) for x in c] for c in centroids])
    res = F.zip_with(
        F.col(vec_col),
        F.element_at(cb, F.col(cluster_col) + 1),
        lambda x, y: x.cast("double") - y,
    )
    return assigned.withColumn(out, res)


def ivfpq_train(
    vectors: DataFrame,
    centroids: list[list[float]],
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "seed",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[list[float]]]:
    """Residual PQ codebooks for IVF-PQ: ``pq_train`` run on the
    residual column. method='seed' takes the RESIDUALS of the ksub
    vectors AFTER the coarse seed block (ids ``len(centroids) ..
    len(centroids)+ksub-1``): the first ``len(centroids)`` ids are the
    coarse centroids themselves, so their residuals are identically
    zero — seeding from them would collapse the codebook to ksub zero
    vectors (every code 0, ADC constant within a cell). Residuals are
    computed through the same Spark expressions as encoding, so seed
    entries and encoded rows can never diverge. method='kmeans' fits
    per-subspace MLlib KMeans on the distributed residuals.

    Round 11, method='seed': the ksub seed rows are pulled ONCE via
    Arrow and the assign + residual run driver-side through the SAME
    shared numpy folds every Arrow assign path uses (_np_vnorm /
    _np_cosine_scores — the bit-identity contract with the expression
    form, pinned by test against the former ivf_residuals + collect
    composition). The former path paid an orderBy sample/sort plus an
    ArrowEvalPython stage spin-up to fetch ksub rows (measured 3.9 s
    per geometry at sf0.1)."""
    if method == "seed":
        import numpy as np

        seed_start = len(centroids)
        pdf = (
            vectors.where(
                (F.col(id_col) >= seed_start)
                & (F.col(id_col) < seed_start + ksub)
            )
            .select(id_col, vec_col)
            .toPandas()
        )
        if len(pdf) != ksub:
            raise ValueError(
                f"seed codebook needs exactly {ksub} rows with "
                f"{seed_start} <= {id_col} < {seed_start + ksub}; "
                f"found {len(pdf)} (sparse or short id range — pass a "
                f"different seed_start or use method='kmeans')"
            )
        pdf = pdf.sort_values(id_col)
        E = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        C = np.asarray(
            [[float(x) for x in c] for c in centroids], dtype=np.float64
        )
        cn = np.asarray([_py_norm(c) for c in centroids], dtype=np.float64)
        cos = _np_cosine_scores(E, _np_vnorm(E), C, cn)
        cells = np.argmax(cos, axis=1)
        R = E - C[cells]
        dim = E.shape[1]
        d = dim // m
        return [
            [
                [float(x) for x in R[c, s * d : (s + 1) * d]]
                for c in range(ksub)
            ]
            for s in range(m)
        ]
    res = ivf_residuals(vectors, centroids, vec_col)
    return pq_train(
        res, m=m, ksub=ksub, vec_col="residual", id_col=id_col,
        method=method, seed=seed, max_iter=max_iter,
        seed_start=len(centroids),
    )


def ivfpq_encode(
    vectors: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    codes_col: str = "codes",
) -> DataFrame:
    """IVF-PQ encode: (cluster_id, m one-byte codes) per vector — the
    FAISS IVFADC layout. At 100 TB the table is written parquet-
    PARTITIONED by ``cluster_id`` (``partitionBy("cluster_id")`` — the
    probe's IN-list then prunes whole directories, plan-gated in
    tests/test_pq.py), so a search reads only the probed cells and
    scans m bytes a row instead of dim floats. Both steps are
    shuffle-free projections."""
    res = ivf_residuals(vectors, centroids, vec_col, cluster_col)
    return pq_encode(res, codebooks, vec_col="residual", out=codes_col).drop(
        "residual"
    )


def _cell_lut(
    qv: list[float],
    cell: int,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
) -> list[list[float]]:
    """The m x ksub ADC lookup table of one (query, probed cell) pair —
    query residual against that cell's centroid, ``_py_sub_dist2`` per
    subspace code. THE single definition: the per-query and batch
    search paths (and, through them, the oracle parity) all build
    their tables here, so the residual/fold arithmetic cannot
    drift."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    qr = [qv[i] - float(centroids[cell][i]) for i in range(len(qv))]
    return [
        [_py_sub_dist2(qr[s * d : (s + 1) * d], c) for c in codebooks[s]]
        for s in range(m)
    ]


def _ivfpq_probe_luts(
    query: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int,
    vec_col: str,
) -> tuple[list[int], list[list[list[float]]]]:
    """Probe-cell selection + per-cell ADC lookup tables for one query
    — shared by the expression and numpy IVF-PQ search paths so probe
    ranking and LUT arithmetic can never diverge. Probe ranking rides
    ``_ivf_sorted_scores`` (bit-consistent with every IVF path); each
    probed cell carries its own ``_cell_lut`` table."""
    qrow = _ivf_sorted_scores(query, centroids, vec_col).select(
        F.col(vec_col).alias("qv"),
        F.transform(
            F.slice("__scored_desc", 1, nprobe), lambda s: -s["nid"]
        ).alias("cells"),
    ).first()
    if qrow is None:
        raise ValueError("ann_ivfpq_topk: query DataFrame is empty")
    qv = [float(x) for x in qrow["qv"]]
    cells = [int(c) for c in qrow["cells"]]
    return cells, [_cell_lut(qv, cell, centroids, codebooks) for cell in cells]


def ann_ivfpq_topk(
    coded: DataFrame,
    query: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
    codes_col: str = "codes",
) -> DataFrame:
    """IVF-PQ search (asymmetric distance): probe the query's
    ``nprobe`` best coarse cells; within each probed cell, distance is
    the m-lookup ADC fold against that CELL's lookup table (the query
    residual differs per cell, so each probe carries its own m x ksub
    table — all driver-computed from plan constants, ``nprobe * m *
    ksub`` doubles riding as one literal).

    Scale shape: candidate selection is an IN-list on ``cluster_col``
    (partition-pruned scan over the codes-only table — m bytes/row),
    the per-row work is m array lookups + a fold, and the top-k is a
    TakeOrdered. No shuffle, no Python, no raw-embedding read.

    The probe ranking reuses ``_ivf_sorted_scores`` (the expression
    the oracled multiprobe IVF queries already hash-match), so probe
    selection is bit-consistent with every other IVF path."""
    m = len(codebooks)
    cells, luts = _ivfpq_probe_luts(query, centroids, codebooks, nprobe, vec_col)
    lut = _lit_nested(luts)  # nprobe x m x ksub
    cells_arr = F.expr("array(" + ",".join(str(c) for c in cells) + ")")
    p = F.array_position(cells_arr, F.col(cluster_col))
    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.element_at(lut, p.cast("int")), s),
            F.element_at(F.col(codes_col), s) + 1,
        ),
    )
    return (
        coded.where(F.col(cluster_col).isin(cells))
        .select(F.col(id_col), adc.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def ann_ivfpq_topk_numpy(
    coded: DataFrame,
    query: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
    codes_col: str = "codes",
) -> DataFrame:
    """``ann_ivfpq_topk`` with the ADC fold vectorized in an Arrow-
    batched ``mapInPandas`` — BIT-identical results (same probe
    ranking and LUTs via ``_ivfpq_probe_luts``; the distance
    accumulates column-by-column in the expression fold's exact s
    order, float64 adds from 0.0 — the ``ivfpq_encode_numpy`` trick, no
    pairwise-summation reassociation).

    Why it exists: the expression path ships the nprobe x m x ksub
    LUT as one plan literal — at production PQ geometry (m=16,
    ksub=256, nprobe=16 -> 65k doubles) Catalyst pays seconds of
    parse/codegen per query, constant-size but real. Here the LUT
    rides the UDF closure (deserialized once per worker, never per
    row), the scan still prunes to the probed cells before Python
    sees a row, and the top-k stays a JVM TakeOrdered. Same plan
    shape at 100 TB: pruned codes scan -> narrow map -> k rows."""
    import numpy as np

    m = len(codebooks)
    cells, luts = _ivfpq_probe_luts(query, centroids, codebooks, nprobe, vec_col)
    lut_np = np.array(luts, dtype=np.float64)  # nprobe x m x ksub
    probe_of = {c: i for i, c in enumerate(cells)}
    id_type = coded.schema[id_col].dataType.simpleString()

    def fn(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            p = pdf[cluster_col].map(probe_of).to_numpy(dtype=np.int64)
            codes = np.stack(pdf[codes_col].to_numpy())  # n x m
            acc = np.zeros(len(pdf), dtype=np.float64)
            for s in range(m):
                acc += lut_np[p, s, codes[:, s]]
            yield pd.DataFrame({id_col: pdf[id_col], "adc_dist": acc})

    scanned = coded.where(F.col(cluster_col).isin(cells)).select(
        id_col, cluster_col, codes_col
    )
    scored = scanned.mapInPandas(fn, schema=f"{id_col} {id_type}, adc_dist double")
    return scored.orderBy("adc_dist", id_col).limit(k)


#: default exact-rescore shortlist size for IVFADC+refine search — the
#: measured recall>=0.9 operating point (refine_topk docstring table;
#: with production PQ geometry m=16/ksub=256 and full probing it
#: delivers recall@10 = 0.995 on the fixture). A constant-size rescore:
#: R rows of raw-vector fetch regardless of corpus size.
ANN_REFINE_SHORTLIST = 200


def ann_ivfpq_topk_batch(
    coded: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    cluster_col: str = "cluster_id",
    codes_col: str = "codes",
) -> DataFrame:
    """IVF-PQ search for a BATCH of queries — the scale-path sibling of
    ``brute_force_topk_batch`` (retrieval eval and mining jobs search
    query batches, not single vectors): one pruned pass over the union
    of every query's probed cells, per-query ADC, per-query top-k.
    Returns (query_id, vec_id, adc_dist), rows bit-identical to
    running ``ann_ivfpq_topk``/``_numpy`` per query.

    How it stays one scan and bit-exact:

      * probe selection for ALL queries is ONE job over the query
        table using the same ``_ivf_sorted_scores`` expression as the
        single-query path (so probe ranking can never diverge from it
        or from the oracle), collected driver-side — the query batch
        is driver-bounded by contract, like every shortlist here;
      * per-(query, probed-cell) LUTs are the same ``_py_sub_dist2``
        driver arithmetic, shipped in the UDF closure (nq x nprobe x
        m x ksub doubles — size the batch accordingly);
      * the scan reads codes inside the UNION of probed cells once;
        each Arrow chunk scores only the queries probing each present
        cell, accumulating column-by-column in subspace order (the
        bit-exact fold), and emits a per-chunk top-k per query —
        a superset of the global top-k, so the final per-query
        window over ~|chunks| x k tiny rows is exact."""
    import numpy as np

    from pyspark.sql import Window

    m = len(codebooks)
    qrows = (
        _ivf_sorted_scores(queries, centroids, vec_col)
        .select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qv"),
            F.transform(
                F.slice("__scored_desc", 1, nprobe), lambda s: -s["nid"]
            ).alias("__cells"),
        )
        .collect()
    )
    if not qrows:
        raise ValueError("ann_ivfpq_topk_batch: queries DataFrame is empty")
    seen_qids = [r[query_id_col] for r in qrows]
    if len(set(seen_qids)) != len(seen_qids):
        raise ValueError(
            "ann_ivfpq_topk_batch: duplicate query_id rows (each would "
            "contribute its own LUTs and the per-query window would mix "
            "or duplicate their candidates); dedupe the query batch"
        )
    by_cell: dict[int, list[tuple]] = {}
    for r in qrows:
        qid = r[query_id_col]
        if r["__qv"] is None:
            raise ValueError(
                f"ann_ivfpq_topk_batch: query {qid!r} has a NULL vector"
            )
        qv = [float(x) for x in r["__qv"]]
        for cell in (int(c) for c in r["__cells"]):
            lut = np.array(
                _cell_lut(qv, cell, centroids, codebooks), dtype=np.float64
            )
            by_cell.setdefault(cell, []).append((qid, lut))
    cells = sorted(by_cell)
    id_type = coded.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()

    def fn(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            cl = pdf[cluster_col].to_numpy()
            codes = np.stack(pdf[codes_col].to_numpy())  # n x m
            ids = pdf[id_col]
            out_q, out_id, out_d = [], [], []
            for cell in np.unique(cl):
                mask = cl == cell
                ccodes = codes[mask]
                cids = ids[mask].to_numpy()
                for qid, lut in by_cell.get(int(cell), ()):
                    acc = np.zeros(len(ccodes), dtype=np.float64)
                    for s in range(m):
                        acc += lut[s, ccodes[:, s]]
                    top = np.lexsort((cids, acc))[:k]
                    out_q.extend([qid] * len(top))
                    out_id.extend(cids[top])
                    out_d.extend(acc[top])
            if out_q:
                yield pd.DataFrame(
                    {query_id_col: out_q, id_col: out_id, "adc_dist": out_d}
                )

    scanned = coded.where(F.col(cluster_col).isin(cells)).select(
        id_col, cluster_col, codes_col
    )
    scored = scanned.mapInPandas(
        fn,
        schema=f"{query_id_col} {qid_type}, {id_col} {id_type}, adc_dist double",
    )
    w = Window.partitionBy(query_id_col).orderBy("adc_dist", id_col)
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def refine_topk_batch(
    candidates: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    metric: str = "l2",
    out: str = "exact_dist",
) -> DataFrame:
    """Exact re-rank of per-query shortlists — the batch form of
    ``refine_topk``, fully relational (no driver pull): ``candidates``
    is (query_id, vec_id) with R rows per query; the raw vectors join
    back by id (broadcast — nq x R rows), each query's vector attaches
    by query_id (broadcast), and one per-query window returns the true
    top-k of each shortlist. Same fold (``_sub_dist2`` / ``cosine``)
    and tie rule as the single-query path, so per-query rows are
    bit-identical to it."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col).alias("__bqid"), F.col(vec_col).alias("__qv")
    )
    # the query batch is driver-bounded by the same contract as the
    # ADC batch search — validate it with one tiny (id, has-vector)
    # pull instead of silently ranking NULL distances first (asc
    # NULLS FIRST would return garbage rows as the l2 top-k) or
    # mixing duplicate ids' candidates into one window
    meta = q.select("__bqid", F.col("__qv").isNull().alias("__nv")).collect()
    ids_seen = [r["__bqid"] for r in meta]
    if len(set(ids_seen)) != len(ids_seen):
        raise ValueError(
            "refine_topk_batch: duplicate query_id rows; dedupe the batch"
        )
    for r in meta:
        if r["__nv"]:
            raise ValueError(
                f"refine_topk_batch: query {r['__bqid']!r} has a NULL vector"
            )
    fetched = (
        vectors.join(
            F.broadcast(candidates.select(query_id_col, id_col)), id_col
        )
        .join(F.broadcast(q), F.col(query_id_col) == F.col("__bqid"))
    )
    if metric == "l2":
        score = _sub_dist2(F.col(vec_col), F.col("__qv"))
        order = [F.col(out).asc(), F.col(id_col).asc()]
    elif metric == "cosine":
        score = cosine(vec_col, "__qv")
        order = [F.col(out).desc(), F.col(id_col).asc()]
    else:
        raise ValueError("refine_topk_batch: metric must be 'l2' or 'cosine'")
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        fetched.select(query_id_col, id_col, score.alias(out))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def refine_topk(
    candidates: DataFrame,
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "l2",
    out: str = "exact_dist",
    query_vec_col: str | None = None,
) -> DataFrame:
    """Exact re-rank (refine) stage over an ANN candidate shortlist —
    the standard recall fix every production vector stack layers on
    top of quantized search (FAISS IVFADC-with-refine; Jégou et al.
    2011 §V): fetch a top-R shortlist by ADC/IVF, join back the RAW
    vectors for just those R ids, rescore exactly, return the true
    top-k of the shortlist. Recall@k then depends only on whether the
    true neighbors made the shortlist (R, nprobe), not on quantization
    error. Measured refined recall@10 (sf0.1 fixture, seeded
    codebooks, L2 truth, 20 unbiased queries — the full {seeded,
    kmeans} x m x ksub x nprobe x R sweep is
    scripts/measure_ivf_recall.py):

        m=8, ksub=16          m=8, ksub=256         m=16, ksub=256
        nprobe R=200 R=1000   nprobe R=200 R=1000   nprobe R=200 R=1000
           4   0.385  0.49       4   0.49   0.49       4   0.49   0.49
           8   0.45   0.75       8   0.66   0.75       8   0.75   0.75
          16   0.475  0.90      16   0.83   0.995     16   0.995  1.0

    Two levers, two regimes: below full probing, recall is capped by
    CELL MEMBERSHIP (every R and every codebook hits the same 0.49 /
    0.75 ceilings at nprobe 4 / 8 — on this near-uniform synthetic
    fixture a 16-cell coarse quantizer cannot prune; clustered real
    embeddings give nprobe < K its margin back), and at full probing
    recall is set by ADC ranking quality, where production PQ geometry
    (ksub=256) is worth +0.5 recall over the demo ksub=16. The
    documented operating point (cheapest recall@10 >= 0.9, minimizing
    the corpus-proportional probe scan before the constant-size
    rescore) is seeded coarse, m=16, ksub=256, nprobe=16, R=200 ->
    recall@10 = 0.995 (queries_llm.RECALL90_*, hash-checked as
    ann_ivfpq_recall90).

    ``metric='l2'`` scores squared L2 (ascending — matches what ADC
    approximates, same fold as ``_sub_dist2`` so the score is
    bit-portable); ``'cosine'`` scores cosine (descending, the
    IVF-coarse metric). Ties break on ``id_col``.

    Scale shape: ``candidates`` is R rows — it BROADCASTS into a
    semi-join against the vector table (id-bucketed storage turns this
    into a pruned fetch; worst case one narrow scan of (id, vector)),
    then one k-row TakeOrdered. No shuffle, no Python, and the raw
    vectors are read for R rows' worth of work only.

    Contract: ``query`` must hold exactly ONE row (validated — empty
    raises like ``ann_ivfpq_topk``; multiple rows raise instead of
    silently mixing every query's candidates into one top-k). The
    query vector is collected (d floats) and scored as a literal, so
    the plan is a single broadcast join with no crossJoin leg."""
    qv = query_vec_col or vec_col
    qrows = query.select(F.col(qv).alias("__qv")).limit(2).collect()
    if not qrows:
        raise ValueError("refine_topk: query DataFrame is empty")
    if len(qrows) > 1:
        raise ValueError(
            "refine_topk: query must be a single row (a multi-row query "
            "would mix every query's candidates into one top-k); pass "
            "query.limit(1) or filter to one id"
        )
    if qrows[0]["__qv"] is None:
        raise ValueError("refine_topk: query row's vector column is NULL")
    # one parsed literal array (the per-element F.lit loop was dim py4j
    # round trips); _lit_nested formats doubles with exact round-trip
    qlit = _lit_nested([float(x) for x in qrows[0]["__qv"]])
    ids = candidates.select(id_col)
    fetched = vectors.join(F.broadcast(ids), id_col)
    if metric == "l2":
        score = _sub_dist2(F.col(vec_col), qlit)
        order = [F.col(out).asc(), F.col(id_col).asc()]
    elif metric == "cosine":
        score = cosine(F.col(vec_col), qlit)
        order = [F.col(out).desc(), F.col(id_col).asc()]
    else:
        raise ValueError("refine_topk: metric must be 'l2' or 'cosine'")
    return (
        fetched.select(F.col(id_col), score.alias(out))
        .orderBy(*order)
        .limit(k)
    )


def _pq_codes_numpy(E, cbs_np):
    """n x m int32 codes for row-major float64 subvectors: per
    subspace, squared distances accumulated COLUMN BY COLUMN (the same
    left-fold order as _sub_dist2, so every sum is the bit-identical
    IEEE sequence — no BLAS reassociation), argmin ties to the first
    (= lowest) code like the expression path's struct min."""
    import numpy as np

    n = E.shape[0]
    m = len(cbs_np)
    ksub, d = cbs_np[0].shape
    codes = np.empty((n, m), dtype=np.int32)
    for s in range(m):
        sub = E[:, s * d : (s + 1) * d]
        acc = np.zeros((n, ksub), dtype=np.float64)
        for j in range(d):
            diff = sub[:, j : j + 1] - cbs_np[s][:, j][None, :]
            acc += diff * diff
        codes[:, s] = np.argmin(acc, axis=1)
    return codes


def ivfpq_encode_numpy(
    vectors: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
    codes_col: str = "codes",
) -> DataFrame:
    """One-pass vectorized IVF-PQ encode: coarse cosine argmax,
    residual subtraction, and residual PQ codes all inside a single
    mapInPandas batch — no second scan, no expression-tree fold per
    element. Bit-identical to ivfpq_encode by the same fold-order
    discipline: cosine numerator/denominator accumulate column by
    column, centroid norms reuse _py_norm, ties break to the lowest
    centroid id (np.argmax -> first maximum; zero-norm rows score 0
    against every centroid, landing in cell 0 like the expression
    path's 'otherwise 0.0'). Output schema: (input columns...,
    cluster_id int, codes array<int>)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)
    cn = np.asarray([_py_norm(c) for c in centroids], dtype=np.float64)
    cbs_np = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    k, dim = C.shape
    out_schema = T.StructType(
        list(vectors.schema.fields)
        + [
            T.StructField(cluster_col, T.IntegerType()),
            T.StructField(codes_col, T.ArrayType(T.IntegerType())),
        ]
    )

    def fn(it):
        for pdf in it:
            if not len(pdf):
                yield pdf.assign(
                    **{
                        cluster_col: pd.Series([], dtype="int32"),
                        codes_col: pd.Series([], dtype=object),
                    }
                )
                continue
            E = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            n = E.shape[0]
            # dot and row norms, column-by-column left fold (bit-order)
            dots = np.zeros((n, k), dtype=np.float64)
            nsq = np.zeros(n, dtype=np.float64)
            for j in range(dim):
                dots += E[:, j : j + 1] * C[:, j][None, :]
                nsq += E[:, j] * E[:, j]
            vnorm = np.sqrt(nsq)
            den = vnorm[:, None] * cn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den != 0.0, dots / den, 0.0)
            cells = np.argmax(cos, axis=1).astype(np.int32)
            R = E - C[cells]
            codes = _pq_codes_numpy(R, cbs_np)
            yield pdf.assign(
                **{cluster_col: cells, codes_col: codes.tolist()}
            )

    return _spread(vectors).mapInPandas(fn, schema=out_schema)


def hard_negatives_lsh(
    vectors: DataFrame,
    dim: int,
    k: int = 1,
    planes: int = DEFAULT_PLANES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Corpus-wide hard-negative mining, LSH-blocked: every vector is
    an anchor, candidates are the OTHER-label vectors sharing its
    hyperplane bucket — the standard way to make all-pairs mining
    tractable (candidates shrink ~2^planes; the bucket id is the
    shuffle key, uniform by construction). Near-misses across one
    hyperplane are the price of blocking — the recall dial is fewer
    planes or multi-probe, same as ann_lsh_topk. Output: (anchor_id,
    neg_id, cosine), top-k per anchor by (cosine desc, neg_id)."""
    from pyspark.sql import Window

    # spread: the planes x dim bucket fold is interpreted HOF work —
    # don't let a single-file corpus serialize it onto one task.
    # persist: b feeds BOTH self-join sides — without it a broadcast
    # plan would re-run the full scan + bucket fold per side (same
    # rationale as minhash_dedup_pairs' persisted signature; handle
    # exposed as result._svoe_persisted). Norms stored once per row —
    # the stored-norm division is bit-identical to per-pair cosine()
    b = _spread(vectors).select(
        F.col(id_col), F.col(label_col), F.col(vec_col),
        lsh_bucket(vec_col, dim, planes).alias("__bucket"),
        F.sqrt(norm_sq(vec_col)).alias("__norm"),
    ).persist()
    left = b.alias("a")
    right = b.alias("n")
    den = F.col("a.__norm") * F.col("n.__norm")
    cos = F.when(
        den != 0.0,
        dot(f"a.{vec_col}", f"n.{vec_col}") / den,
    ).otherwise(F.lit(0.0))
    pairs = left.join(
        right,
        (F.col("a.__bucket") == F.col("n.__bucket"))
        & (F.col(f"a.{label_col}") != F.col(f"n.{label_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("anchor_id"),
        F.col(f"n.{id_col}").alias("neg_id"),
        cos.alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    out = (
        pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )
    out._svoe_persisted = b
    return out


def jl_project(
    emb: DataFrame,
    k: int = 8,
    dim: int = 64,
    vec: str = "embedding",
    id_col: str = "vec_id",
    out_prefix: str = "p",
    plane_offset: int = 1000,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a Rademacher (±1)
    matrix: y_j = (x · s_j) / sqrt(k), signs md5-derived per
    (row, component) via `jl_signs` — iid-grade coin flips in their own
    'jl:' hash namespace (the LSH LCG pattern's linear structure
    measurably breaks distance preservation; see `jl_signs`).
    ``plane_offset`` is merely the base row index into that namespace —
    vary it to draw an independent projection matrix. JL guarantees pairwise distances
    are preserved within (1±eps) for k = O(log n / eps^2) — the cheap
    pre-pass that makes 100 TB embedding work tractable: near-dup
    blocking, coarse clustering, and distance sketches run on k dims
    instead of the full vector, with the exact check only on survivors.

    Zero shuffles — k fold-left dot products inside the scan. Each
    output lands in its own DOUBLE column (``p0..``; array outputs are
    a driver-canonicalizer trap) and the fold order plus the single
    IEEE multiply by 1/sqrt(k) are mirrored literally in the SQL twin,
    so projections are bit-identical cross-engine. The HOF fold is
    interpreted (not codegen'd) — `spread` the input for single-file
    corpora, and at billions of rows use a numpy mapInPandas twin with
    column-by-column accumulation (the `ivfpq_encode_numpy` precedent
    — bit-identical by construction)."""
    import math

    from svoe_spark.functions.vectors import jl_signs, signed_projection
    from svoe_spark.operators.util import spread

    inv = 1.0 / math.sqrt(k)
    cols = [
        (
            signed_projection(vec, jl_signs(plane_offset + j, dim))
            * F.lit(inv)
        ).alias(f"{out_prefix}{j}")
        for j in range(k)
    ]
    return spread(emb).select(id_col, *cols)


def sql_jl_project(
    vec: str,
    k: int = 8,
    dim: int = 64,
    out_prefix: str = "p",
    plane_offset: int = 1000,
) -> str:
    """Comma-joined SQL projection columns mirroring `jl_project`."""
    import math

    from svoe_spark.functions.vectors import jl_signs, sql_signed_projection

    inv = 1.0 / math.sqrt(k)
    return ",\n           ".join(
        f"({sql_signed_projection(vec, jl_signs(plane_offset + j, dim))})"
        f" * CAST('{inv!r}' AS DOUBLE) AS {out_prefix}{j}"  # string form:
        # DuckDB parses a bare NUMERIC literal as DECIMAL first and the
        # decimal->double hop is 1 ulp off for most 1/sqrt(k); the
        # string cast round-trips repr() exactly (verified k=19/29/43)
        for j in range(k)
    )
