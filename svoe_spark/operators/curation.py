"""Dataset-curation operators for training-data pipelines: exact global
prefix sums / ranks WITHOUT a single-reducer global window,
deterministic dataset shuffling, hash-based train/valid/test splits,
and sequence packing to a token budget.

Scale design — the naive formulation of a global running total or a
global rank is ``Window.orderBy(key)`` with no partitionBy; Spark
executes that window on ONE task regardless of cluster size (and warns
so). These operators decompose it:

  1. one scan computes min/max of the (unique) order key;
  2. a deterministic equi-width bucket expression over [min, max]
     (monotone in the key, so bucket order == key order) partitions the
     work; a second scan reduces per-bucket totals — a `buckets`-row
     relation collected to the driver;
  3. the final pass runs the running total as a PARALLEL window
     partitioned by bucket and adds the exclusive prefix of bucket
     totals as a constant-array lookup.

Three passes over one column + two tiny collects; every stage is
partition-parallel. Equi-width bucketing is balanced for the two key
shapes used here (dense surrogate ids; uniform md5 keys) — for skewed
custom keys pass explicit ``boundaries`` (e.g. from approxQuantile).

Everything is deterministic: bucket boundaries are pure functions of
data min/max (no sampling, unlike repartitionByRange), and window
frames are ordered by a unique key (callers must guarantee uniqueness —
document ids and md5-of-id keys are).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType, FloatType

from svoe_spark.functions.text import md5_hash

DEFAULT_BUCKETS = 64


def _bucket(key: Column, kmin: int, kmax: int, n: int) -> Column:
    """Deterministic equi-width bucket id in [0, n): monotone in `key`
    (double rounding at 2^60 magnitudes can only merge adjacent keys
    into the same bucket, never reorder them), so bucket order is key
    order and an exclusive prefix over buckets is exact."""
    span = float(kmax - kmin) + 1.0
    raw = F.floor((key - F.lit(kmin)).cast("double") * F.lit(float(n)) / F.lit(span))
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), raw)).cast("int")


def _lit_prefix_array(prefix: list, sum_t: str):
    """Bucket-prefix table as ONE parsed literal expr, then the same
    array<sum_t> cast the F.lit form applied — element-wise F.lit cost
    a py4j round trip per bucket. Integers render exactly; doubles via
    lit_double_array (repr round-trips, NaN/Infinity sums — possible
    with pathological double inputs — render as explicit CASTs like
    the F.lit form, not as unparseable bare literals)."""
    from svoe_spark.operators.util import lit_double_array

    if sum_t == "double":
        return lit_double_array(prefix).cast("array<double>")
    return F.expr(
        "array(" + ",".join(str(int(x)) for x in prefix) + ")"
    ).cast(f"array<{sum_t}>")


def global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out: str = "cumsum",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Inclusive running sum of ``value_col`` in ``order_col`` order.

    ``order_col`` must be unique numeric (document ids, hash keys);
    integral values sum in int64, fractional (double/float/decimal) in
    double. Caveat: for fractional types the per-bucket partial-sum
    order differs from a single-reducer left fold, so results are
    deterministic but not bit-equal to a sequential sum (and decimals
    go through double). See module docstring for the decomposition;
    per-bucket totals are collected (``buckets`` rows) and re-applied
    as a constant-array lookup, so no stage is single-task."""
    lo, hi = df.select(
        F.min(order_col).cast("long"), F.max(order_col).cast("long")
    ).first()
    fractional = isinstance(
        df.schema[value_col].dataType, (DoubleType, FloatType, DecimalType)
    )
    sum_t = "double" if fractional else "long"
    if lo is None:  # empty input: keep the non-empty output type
        return df.withColumn(out, F.lit(None).cast(sum_t))
    b = _bucket(F.col(order_col), lo, hi, buckets)
    totals = dict(
        df.groupBy(b.alias("__b"))
        .agg(
            F.coalesce(
                F.sum(F.col(value_col).cast(sum_t)), F.lit(0).cast(sum_t)
            ).alias("__s")
        )
        .collect()
    )
    # exclusive prefix of bucket totals, as one constant array literal
    prefix, acc = [], 0
    for i in range(buckets):
        prefix.append(acc)
        acc += totals.get(i, 0)
    w = (
        Window.partitionBy("__bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__bkt", b)
        .withColumn(
            out,
            F.sum(F.col(value_col).cast(sum_t)).over(w)
            # one parsed literal (F.lit on a list is a py4j call per
            # element); same values, same final cast/type
            + F.element_at(
                _lit_prefix_array(prefix, sum_t), F.col("__bkt") + 1
            ),
        )
        .drop("__bkt")
    )


def global_rank(
    df: DataFrame,
    order_col: str,
    out: str = "rank",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """0-based dense position of each row under ``order_col`` order
    (unique numeric key) — row_number within bucket + exclusive prefix
    of bucket counts; same decomposition as global_cumsum."""
    lo, hi = df.select(
        F.min(order_col).cast("long"), F.max(order_col).cast("long")
    ).first()
    if lo is None:
        return df.withColumn(out, F.lit(None).cast("long"))
    b = _bucket(F.col(order_col), lo, hi, buckets)
    counts = dict(df.groupBy(b.alias("__b")).count().collect())
    prefix, acc = [], 0
    for i in range(buckets):
        prefix.append(acc)
        acc += counts.get(i, 0)
    w = Window.partitionBy("__bkt").orderBy(order_col)
    return (
        df.withColumn("__bkt", b)
        .withColumn(
            out,
            F.row_number().over(w).cast("long")
            + F.element_at(_lit_prefix_array(prefix, "long"), F.col("__bkt") + 1)
            - 1,
        )
        .drop("__bkt")
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    out: str = "shuffle_rank",
    salt: str = "",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Deterministic pseudo-random global ordering for SGD-style
    training: rank rows by md5(salt || id). Reproducible across runs
    and engines (portable md5 key), re-saltable per epoch, and executed
    with the parallel rank decomposition — the scalable replacement for
    ``orderBy(rand())``, whose sample-based sort is neither
    reproducible nor cheap at 100 TB."""
    key = md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    keyed = df.withColumn("__skey", key)
    return global_rank(keyed, "__skey", out=out, buckets=buckets).drop("__skey")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Deterministic train/valid/test assignment: md5(salt || id) mod
    100 thresholded by cumulative percentage. A pure narrow expression
    — rows keep their split under any reshuffling/re-partitioning of
    the dataset (unlike randomSplit, whose assignment depends on
    partition layout), which is the property a reproducible corpus
    split needs."""
    fractions = fractions or {"train": 0.8, "valid": 0.1, "test": 0.1}
    bucket = md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 100
    expr: Column | None = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name] * 100
        cond = bucket < F.lit(int(round(acc)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out, expr)


def cluster_aware_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Leakage-proof train/valid/test assignment: near-duplicate
    documents (connected components of the verified pair graph) always
    land in the SAME split, because the hash threshold keys on the
    component's canonical id, not the document id. A doc-id hash split
    scatters a duplicate cluster across splits — exactly the
    train-test contamination dedup exists to prevent (Lee et al. 2022:
    deduplication's eval-leakage motivation). Returns ``df``'s id
    column with (cluster_id, cluster_size, is_canonical, split).

    Scale shape: `dedup_clusters`' logarithmic label-propagation
    rounds + ONE narrow hash expression on the resulting label — the
    split itself adds no shuffle, and the assignment survives any
    re-partitioning (the `hash_split` reproducibility contract)."""
    from svoe_spark.operators.graph import dedup_clusters

    lab = dedup_clusters(df, pairs, id_col=id_col)
    return hash_split(
        lab, id_col="cluster_id", fractions=fractions, out=out, salt=salt
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum downsampling (domain re-weighting for
    corpus mixes): keep a row iff md5(salt || id) mod 10000 falls under
    its stratum's threshold. A pure narrow filter — reproducible,
    re-saltable, partition-layout-invariant, and pushdown-friendly
    (unlike sampleBy, whose Bernoulli draw depends on row order)."""
    bucket = md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 10000
    expr: Column | None = None
    for name, frac in fractions.items():
        cond = F.col(stratum_col) == name
        val = int(round(frac * 10000))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    expr = (
        F.lit(int(round(default * 10000)))
        if expr is None
        else expr.otherwise(int(round(default * 10000)))
    )
    return df.filter(bucket < expr)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    out: str = "bin_id",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Sequence packing: concatenate documents (in ``id_col`` order)
    into training sequences of ~``budget`` tokens — streaming-pack
    semantics where a document belongs to the bin its first token lands
    in: bin = floor(tokens_before_doc / budget). One global_cumsum; the
    order can be a deterministic_shuffle rank to pack a shuffled epoch."""
    c = global_cumsum(df, id_col, token_col, out="__cum", buckets=buckets)
    return c.withColumn(
        out, F.floor((F.col("__cum") - F.col(token_col)) / F.lit(budget)).cast("long")
    ).drop("__cum")


def per_group_topk(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    id_col: str = "doc_id",
    salt: str = "",
    out: str = "rk",
) -> DataFrame:
    """Deterministic k-per-group sample: rank rows inside each group by
    md5(salt || id) (id as the tie-break — md5 keys are unique in
    practice but the determinism contract wants a total order) and keep
    the first k. The reproducible replacement for per-group reservoir
    sampling: assignment survives any re-partitioning and is re-saltable
    per epoch. The window is partitioned by the group key — per-group
    sort only, no single-task global window; at 100 TB the groups
    (sources/domains) are the natural partition key. Returns
    (group_col, id_col, rk)."""
    key = md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.select(group_col, id_col, F.row_number().over(w).cast("long").alias(out))
        .filter(F.col(out) <= k)
    )


def hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    p: float = 0.1,
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli(p) sample: keep a row iff
    md5(salt || id) < p * 2^60. A pure narrow filter (pushdown-
    friendly, partition-layout-invariant, re-saltable), and MERGEABLE
    the way reservoir sampling is not: sample(A) ∪ sample(B) ==
    sample(A ∪ B) exactly, because membership depends only on the id.
    The scalable replacement for df.sample(), whose draw depends on
    partition layout and seed plumbing."""
    threshold = int(p * (1 << 60))
    key = md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return df.filter(key < F.lit(threshold))


def bottom_k_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
    group_cols: list[str] | None = None,
    salt: str = "",
    out: str = "sample_rank",
) -> DataFrame:
    """Deterministic uniform k-row sample (without replacement) per
    group: the k rows with the SMALLEST md5(salt || id) — the KMV
    bottom-k idea applied to whole rows. Unlike LIMIT k (scan-order
    biased) or sample() (layout-dependent), this is reproducible,
    uniform over the group, and re-saltable per draw. The rank<=k
    compiles to a map-side WindowGroupLimit before the group exchange,
    so no task ever sorts a whole group."""
    groups = list(group_cols or [])
    key = md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    keyed = df.withColumn("__skey", key)
    if not groups:
        # TakeOrderedAndProject: per-partition bottom-k + driver merge
        return (
            keyed.orderBy("__skey")
            .limit(k)
            .withColumn(
                out,
                F.row_number().over(Window.partitionBy().orderBy("__skey")),
            )
            .drop("__skey")
        )
    w = Window.partitionBy(*groups).orderBy("__skey")
    return (
        keyed.withColumn(out, F.row_number().over(w))
        .where(F.col(out) <= k)
        .drop("__skey")
    )


def grouped_split(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float] | None = None,
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Leakage-safe train/valid/test assignment: hash the GROUP key
    (url, domain, source, near-dup cluster id) instead of the row id,
    so every row of a group lands in the SAME split. Splitting
    training corpora by document id leaks — near-duplicates and
    same-source pages straddle the train/test boundary and inflate
    eval; grouping by provenance (or by dedup_clusters output) is the
    standard fix. Same narrow md5-threshold expression as
    ``hash_split``, so assignment survives any repartitioning."""
    return hash_split(df, id_col=group_col, fractions=fractions, out=out, salt=salt)


def pps_systematic_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
    out: str = "pick_no",
) -> DataFrame:
    """Deterministic probability-proportional-to-size sampling —
    systematic (Madow) selection over an exact distributed prefix sum
    of INTEGER weights: order rows by md5(salt || id) (decorrelates
    the stride from any data ordering), compute the inclusive running
    weight `cum`, and keep a row iff it crosses a selection boundary:

        (cum * k) DIV W  >  ((cum - w) * k) DIV W      (W = total weight)

    Pure integer arithmetic end-to-end — no transcendental key like
    Efraimidis-Spirakis u^(1/w), whose pow() is not bit-portable
    across engines — so the draw is reproducible anywhere and
    oracle-checkable. Selects ≤ k rows (exactly k unless a single row
    carries more than W/k weight, in which case that row is selected
    once with certainty — standard PPS behavior); inclusion
    probability of row i is ~ k*w_i/W. Zero-weight rows are never
    selected. `out` is the 0-based index of the last boundary the row
    crossed.

    This is how you sample a training mixture by token count rather
    than by document count. Scale shape: one md5 projection, the
    bucket-decomposed `global_cumsum` (no single-reducer window), one
    broadcast of the scalar total, one narrow filter. Overflow bound:
    needs cum * k < 2^63 — at W=1e14 total tokens, safe for k up to
    ~9e4; beyond that cast the product to decimal(38,0) upstream.
    """
    key = md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    keyed = df.withColumn("__okey", key)
    cum = global_cumsum(keyed, "__okey", weight_col, out="__cum")
    total = keyed.agg(
        F.sum(F.col(weight_col).cast("long")).alias("__w_total")
    )
    return (
        cum.crossJoin(F.broadcast(total))
        # W = 0 (all rows zero-weight / empty input) selects nothing;
        # without the guard ANSI mode raises DIVIDE_BY_ZERO on DIV
        .where(F.col("__w_total") > 0)
        .where(
            F.expr(f"(__cum * {k}) DIV __w_total")
            > F.expr(f"((__cum - CAST({weight_col} AS BIGINT)) * {k}) DIV __w_total")
        )
        .withColumn(
            out, (F.expr(f"(__cum * {k}) DIV __w_total") - F.lit(1)).cast("long")
        )
        .drop("__okey", "__cum", "__w_total")
    )


def temperature_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    target_n: int = 1000,
    tau: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-corpus
    mixing rule, tau-scaled sampling): draw a deterministic sample
    whose EXPECTED source mix follows n_i^tau — tau=1 keeps the natural
    distribution, tau=0 targets a uniform source mix, tau=0.5 the usual
    compromise that up-weights small sources without flattening.

    Only tau in {0, 0.5, 1} is supported, deliberately: those weights
    (1, floor(sqrt(n)), n) are exact integers, so per-source rates are
    ONE fixed double expression over exact int64 inputs and the draw is
    reproducible in any engine — a general pow(n, tau) is not
    bit-portable. Membership is the `hash_sample` rule (md5 threshold
    per row), so the draw is partition-layout-invariant, mergeable, and
    re-saltable per epoch.

    Plan: per-source counts (tiny relation) -> integer weights -> one
    1-row total joined back -> per-source rate -> BROADCAST rate join
    into a narrow md5 filter on the corpus. No driver collect; the big
    side is touched by one scan + one broadcast-join filter. Rows with
    a NULL source are dropped (no defined weight).
    """
    if tau not in (0.0, 0.5, 1.0):
        raise ValueError("temperature_sample supports tau in {0, 0.5, 1} only")
    counts = (
        df.where(F.col(source_col).isNotNull())
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    if tau == 0.0:
        wt = F.lit(1).cast("long")
    elif tau == 0.5:
        wt = F.floor(F.sqrt(F.col("__n").cast("double"))).cast("long")
    else:
        wt = F.col("__n").cast("long")
    weighted = counts.withColumn("__w", wt)
    total = weighted.agg(F.sum("__w").alias("__S"))
    rates = weighted.crossJoin(F.broadcast(total)).select(
        source_col,
        "__n",
        F.least(
            F.lit(1.0),
            F.lit(float(target_n))
            * F.col("__w").cast("double")
            / F.col("__S").cast("double")
            / F.col("__n").cast("double"),
        ).alias("__rate"),
    )
    key = md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return (
        df.join(F.broadcast(rates.select(source_col, "__rate")), source_col)
        .where(key < F.floor(F.col("__rate") * F.lit(float(1 << 60))).cast("long"))
        .drop("__rate")
    )


def purged_time_folds(
    df: DataFrame,
    ts_col: str = "ts",
    n_folds: int = 5,
    embargo: str | float = 0,
    out_fold: str = "fold",
    out_role: str = "role",
) -> DataFrame:
    """Purged k-fold split for time-series cross-validation (the
    Lopez de Prado backtest-leakage rule): time is cut into ``n_folds``
    equal-width contiguous test windows; for each fold every row is
    labeled 'test' (inside the window), 'purged' (within ``embargo``
    of the window on either side — dropped so labels that OVERLAP the
    test horizon never leak into training), or 'train'.

    Returns the input crossed with the fold axis: one row per
    (row, fold) with ``fold`` and ``role`` columns — k is small, so
    the explosion is the point (each fold's train/test view is a
    filter away). Rows with a NULL timestamp are DROPPED (they cannot
    be placed relative to any test window, and letting them default
    to 'train' would defeat the purge guarantee).

    Determinism/portability: fold boundaries are pure int64-microsecond
    arithmetic on the global (min, max) — lo + i*(span//k) with the
    last fold absorbing the remainder — so any engine reproduces the
    exact assignment. Scale: one 2-value agg, then a broadcast 5-row
    cross join over narrow expressions; no shuffle touches the big
    side until the caller aggregates.
    """
    from svoe_spark.functions.time import duration_to_seconds

    if n_folds < 2:
        raise ValueError("purged_time_folds needs n_folds >= 2")
    emb_us = int(duration_to_seconds(embargo) * 1_000_000)
    # a temporally unplaceable row must not fall through the window
    # comparisons into 'train' for every fold — drop it up front
    df = df.where(F.col(ts_col).isNotNull())
    t = F.unix_micros(F.col(ts_col))
    folds = df.sparkSession.range(n_folds).select(
        F.col("id").cast("int").alias(out_fold)
    )
    bounds = df.agg(
        F.min(t).alias("__lo"), (F.max(t) + 1).alias("__hi")
    )
    # integer division (SQL `div`), never float: exact at any span
    width = F.expr(f"(__hi - __lo) div {n_folds}")
    fold_axis = F.broadcast(
        folds.crossJoin(F.broadcast(bounds)).select(
            out_fold,
            (F.col("__lo") + F.col(out_fold) * width).alias("__fs"),
            F.when(
                F.col(out_fold) == n_folds - 1, F.col("__hi")
            )
            .otherwise(F.col("__lo") + (F.col(out_fold) + 1) * width)
            .alias("__fe"),
        )
    )
    role = (
        F.when((t >= F.col("__fs")) & (t < F.col("__fe")), F.lit("test"))
        .when(
            (t >= F.col("__fs") - F.lit(emb_us))
            & (t < F.col("__fe") + F.lit(emb_us)),
            F.lit("purged"),
        )
        .otherwise(F.lit("train"))
    )
    return (
        df.crossJoin(fold_axis)
        .withColumn(out_role, role)
        .drop("__fs", "__fe")
    )


def contrastive_crops(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    frac_den: int = 2,
    salt: str = "",
) -> DataFrame:
    """Two deterministic pseudo-random token crops per document — the
    positive-pair generator for contrastive retrieval pretraining
    (independent cropping à la Contriever/SimCSE: two views of one
    document are a positive pair; other documents in the batch are
    negatives — the complement of `hard_negatives_lsh`, which mines the
    negative side). Crop length is ``len div frac_den``; each crop's
    start is an md5-hash draw (seeded on the doc id + crop salt) over
    the valid range, so crops may overlap (as in the paper), the draw
    is layout-invariant and reproducible in any engine, and ``salt``
    (prefixed into both draws) yields fresh crops per epoch. Documents shorter than ``min_tokens`` are
    dropped. Zero shuffles — one projection over the corpus scan."""
    from svoe_spark.functions.text import tokens
    from svoe_spark.operators.util import spread

    toks = tokens(text)
    base = (
        spread(docs)
        .select(F.col(id_col), toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .where(F.col("__n") >= min_tokens)
    )
    s = F.greatest(F.lit(1), F.expr(f"__n div {frac_den}"))
    room = F.col("__n") - s + 1

    def start(tag: str) -> Column:
        h = md5_hash(F.concat(F.col(id_col).cast("string"), F.lit(salt + tag)))
        return (F.pmod(h, room) + 1).cast("int")

    a, b = start("a"), start("b")
    return base.select(
        id_col,
        F.col("__n").alias("n_tokens"),
        a.alias("a_start"),
        b.alias("b_start"),
        F.array_join(F.slice("__toks", a, s), " ").alias("crop_a"),
        F.array_join(F.slice("__toks", b, s), " ").alias("crop_b"),
    )


_PRI_DEN = float(2**60)


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str,
    salt: str = "",
    materialize_shortlist: bool = True,
    validate: bool = True,
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007): a k-row
    weight-sensitive sample supporting UNBIASED subset-sum estimation.
    Each row gets priority q = w / u with u a deterministic uniform in
    (0, 1] (md5(salt || id) — reproducible across runs, engines, and
    partitionings; re-saltable per draw); the sample is the k largest
    priorities, and tau — the (k+1)-th largest — is the estimation
    threshold: est_w = max(w, tau) for sampled rows, whose expectation
    equals w (so any subset's est_w sum estimates that subset's true
    weight with near-optimal variance among k-sample schemes).

    Weights must be POSITIVE integers (the exactness contract: q and
    est_w are each one IEEE operation over exactly-converted ints).
    Degenerate input (n <= k) returns every row with est_w = w — exact,
    zero variance.

    Scale shape: one narrow projection (hash + two divisions) and a
    distributed partial top-(k+1) (TakeOrdered — per-partition heaps,
    one merge; NEVER a global sort or single-task window); tau is an
    aggregate over k+1 rows. The q > tau cut keeps exactly k rows
    (q ties across distinct ids have probability ~2^-60). Validation
    on the default path is an OBSERVED count-of-invalid riding the
    shortlist scan (single pass; per-row assert expressions are
    unsound under constant folding — see inline comments); only
    materialize_shortlist=False pays a separate limit-1 pre-scan.
    """
    if k < 1:
        raise ValueError("priority_sample: k must be >= 1")
    q = F.col(weight_col).cast("double") / (
        (md5_hash(F.concat(F.lit(salt), F.col(id_col).cast("string"))) + 1)
        / F.lit(_PRI_DEN)
    )
    observation = None
    if validate:
        # checks are cheap relative to a mis-sampled corpus: a zero,
        # negative, or NULL weight (or a NULL id, whose md5 priority is
        # NULL) would silently drop out of the sample and bias every
        # subset-sum estimate.
        valid = (F.col(weight_col) > 0) & F.col(id_col).isNotNull()
        if df.isStreaming:
            # streams cannot pre-scan: fold a per-row assert_true into
            # the priority projection (raises on false OR NULL). Known
            # limit, pinned by test_priority_sample_validates_rows_
            # outside_the_sample on the batch path: when a plan region
            # makes the WHEN's output provably all-NULL (e.g. a union
            # branch with a constant-NULL weight), SimplifyConditionals
            # folds the CASE away and the assert with it — which is
            # exactly why the batch paths below count invalid rows as
            # DATA (an observed aggregate / pre-scan), never as a
            # per-row expression.
            ok = F.assert_true(
                valid,
                F.lit(
                    "priority_sample: weights must be positive non-NULL"
                    " and ids non-NULL"
                ),
            )
            q = F.when(ok.isNull(), q)
        elif materialize_shortlist:
            # SINGLE-PASS validation: an observed count-of-invalid rides
            # the shortlist scan itself (TakeOrdered reads every row, so
            # CollectMetrics judges every row — including rows whose
            # priority could never reach the sample) and is read after
            # the eager materialization below. No second scan.
            from pyspark.sql import Observation

            observation = Observation()
            df = df.observe(
                observation,
                F.sum(
                    F.when(valid, F.lit(0)).otherwise(F.lit(1))
                ).alias("invalid"),
            )
        else:
            # no action happens inside this function on the lazy path,
            # so validation cannot piggyback a scan: eager limit-1
            # pre-scan (one extra full pass when all rows are valid —
            # the documented cost of materialize_shortlist=False with
            # validate=True).
            bad = df.where(~valid | valid.isNull())
            if bad.limit(1).count():
                raise ValueError(
                    "priority_sample: weights must be positive non-NULL"
                    " and ids non-NULL"
                )
    staged = df.withColumn("__q", q)
    # the k+1-row shortlist feeds BOTH the tau aggregate and the output
    # join; TakeOrdered is not an Exchange, so AQE cannot reuse the
    # subtree — truncate once (tiny relation) instead of re-running the
    # full scan + heaps per reference. materialize_shortlist=False
    # keeps the lineage visible (the plan-quality gate inspects the
    # TakeOrderedAndProject shape through it).
    top = staged.orderBy(F.col("__q").desc(), F.col(id_col).asc()).limit(k + 1)
    if materialize_shortlist:
        # eager only when validation must read the observed metric now;
        # otherwise keep the historical lazy truncation.
        top = top.localCheckpoint(eager=observation is not None)
        if observation is not None and (observation.get["invalid"] or 0) > 0:
            # drop our reference to the just-materialized checkpoint so
            # the ContextCleaner reclaims its (k+1-row) blocks as soon
            # as the exception is handled — DataFrame.unpersist() goes
            # through the CacheManager and cannot release RDD-level
            # localCheckpoint storage
            del top
            raise ValueError(
                "priority_sample: weights must be positive non-NULL"
                " and ids non-NULL"
            )
    # tau = the (k+1)-th largest priority, or 0 when n <= k (every
    # priority survives and est_w = max(w, 0) = w)
    thr = top.agg(
        F.when(F.count(F.lit(1)) > k, F.min("__q"))
        .otherwise(F.lit(0.0))
        .alias("__tau")
    )
    return (
        top.crossJoin(F.broadcast(thr))
        .where(F.col("__q") > F.col("__tau"))
        .withColumn(
            "est_w",
            F.greatest(F.col(weight_col).cast("double"), F.col("__tau")),
        )
        .drop("__q", "__tau")
    )


def priority_sample_sql(
    table: str, weight_col: str, k: int, id_col: str, salt: str = ""
) -> str:
    """DuckDB twin of `priority_sample` (same md5 uniform, same two
    divisions, same tau rule) — emits CTE chain ending in ``psample``."""
    from svoe_spark.functions.text import sql_md5_hash

    key = sql_md5_hash(f"'{salt}' || CAST({id_col} AS VARCHAR)")
    return f"""
    pri AS (
      SELECT *, CAST({weight_col} AS DOUBLE)
                / (({key} + 1) / {_PRI_DEN!r}) AS __q
      FROM {table}
    ),
    ptop AS (
      SELECT * FROM pri ORDER BY __q DESC, {id_col} ASC LIMIT {k + 1}
    ),
    ptau AS (
      SELECT CASE WHEN count(*) > {k} THEN min(__q) ELSE 0.0 END AS __tau
      FROM ptop
    ),
    psample AS (
      SELECT ptop.*, greatest(CAST({weight_col} AS DOUBLE), __tau) AS est_w
      FROM ptop, ptau WHERE __q > __tau
    )
    """
