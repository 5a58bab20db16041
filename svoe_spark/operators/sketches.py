"""Mergeable frequency sketches — count-min (Cormode & Muthukrishnan
2005) expressed relationally, so it is exactly reproducible in any
engine (the DuckDB oracle re-derives the identical counters) and
composes with plain aggregation semantics.

Why a sketch in a 100 TB engine: per-key exact counts over a
high-cardinality key (URLs, shingles, user ids) cost a shuffle whose
state is the key space itself. The CMS relation is ``depth x width``
rows REGARDLESS of key cardinality, built with one partial-aggregated
shuffle on (row, bucket) — bounded, uniform keys — and two sketches
merge by unioning and summing counters (used by the incremental /
per-partition maintenance pattern). Point lookups then read the tiny
sketch (broadcast), never the data.

Guarantees (standard CMS): estimate >= true count (never under), and
with width w, depth d: overestimate <= eps*N with probability
1 - (1/2)^d for eps = e/w. Deterministic here: hash rows use seeded
universal hashes over the md5-based key hash (functions.text.md5_hash,
bit-identical across engines), so the same data always yields the same
counters — which is what makes the sketch oracle-checkable.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from svoe_spark.functions.text import P_HASH, md5_hash, sql_md5_hash

#: md5_hash yields a uniform bigint in [0, 2^60) — the hash space every
#: distinct-count estimator below divides by. 2^60 is exactly
#: representable as a double, so the Python-precomputed numerator
#: literals embed bit-identically in both engines.
HASH_SPACE = 1 << 60


@dataclass(frozen=True)
class CMSParams:
    """depth seeded universal hashes (a*x+b mod P mod width); shared by
    the Spark build, the Spark lookup, and the SQL oracle."""

    width: int = 1024
    depth: int = 4
    seed: int = 7

    def coefficients(self) -> list[tuple[int, int]]:
        rng = random.Random(self.seed)
        return [
            (rng.randrange(1, P_HASH), rng.randrange(0, P_HASH))
            for _ in range(self.depth)
        ]


def _bucket_expr(x: Column, a: int, b: int, width: int) -> Column:
    # x is already < P_HASH, so a*x < P_HASH^2 < 2^60: int64-safe under
    # ANSI mode at every step
    return ((F.lit(a).cast("long") * x + F.lit(b)) % P_HASH) % width


def _sql_bucket(xs: str, a: int, b: int, width: int) -> str:
    return f"(((CAST({a} AS BIGINT) * {xs} + {b}) % {P_HASH}) % {width})"


def _cms_entries(key: str, params: CMSParams) -> Column:
    """array<struct<row,bucket>> of the depth (row, bucket) slots a key
    hashes to — THE hash family, shared by build and lookup so the two
    can never diverge. NULL keys hash under the '<NULL>' sentinel
    (consistent with profiling.key_skew_report)."""
    x = md5_hash(
        F.coalesce(F.col(key).cast("string"), F.lit("<NULL>"))
    ) % P_HASH
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _bucket_expr(x, a, b, params.width).alias("bucket"),
            )
            for i, (a, b) in enumerate(params.coefficients())
        ]
    )


def cms_build(
    df: DataFrame, key: str, params: CMSParams = CMSParams()
) -> DataFrame:
    """(row, bucket, cnt) counters — at most depth*width rows. One
    narrow explode of ``depth`` little structs per input row, one
    partial-aggregated shuffle on the uniform (row, bucket) key."""
    ex = df.select(F.explode(_cms_entries(key, params)).alias("__e")).select(
        F.col("__e.row").alias("row"), F.col("__e.bucket").alias("bucket")
    )
    return ex.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    params: CMSParams = CMSParams(),
    out: str = "est_count",
) -> DataFrame:
    """Point estimates per DISTINCT key value of ``keys``: min over the
    depth counters each key hashes to. The sketch side is tiny and
    broadcast; a missing counter means no key ever hashed there, i.e.
    count 0. Returns (key, out) with ONE ROW PER DISTINCT KEY — other
    columns of ``keys`` are not carried through (join the result back
    if you need them)."""
    probes = keys.select(
        F.col(key), F.explode(_cms_entries(key, params)).alias("__e")
    ).select(
        F.col(key),
        F.col("__e.row").alias("row"),
        F.col("__e.bucket").alias("bucket"),
    )
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(key).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0)))
        .cast("bigint")
        .alias(out)
    )


def cms_sql(table: str, key: str, params: CMSParams = CMSParams()) -> str:
    """DuckDB CTE chain re-deriving the counters AND the per-distinct-
    key estimates — the oracle for the registered query. Emits CTEs
    ``cms`` (row, bucket, cnt) and ``est`` (key, est_count). The hash
    arms are generated from the SAME CMSParams coefficients as the
    Spark side, applied to the same md5-based key hash."""
    sentinel = "'<NULL>'"
    xs = (
        f"({sql_md5_hash(f'coalesce(CAST({key} AS VARCHAR), {sentinel})')}"
        f" % {P_HASH})"
    )

    def arms(src: str, extra: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {i} AS row, {_sql_bucket('x', a, b, params.width)}"
            f" AS bucket{extra} FROM {src}"
            for i, (a, b) in enumerate(params.coefficients())
        )

    return f"""
    kx AS (SELECT {xs} AS x, {key} AS key FROM {table}),
    kb AS ({arms('kx', '')}),
    cms AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM kb GROUP BY row, bucket),
    dkx AS (SELECT DISTINCT x, key FROM kx),
    dkb AS ({arms('dkx', ', key')}),
    est AS (
      SELECT dkb.key, CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est_count
      FROM dkb LEFT JOIN cms USING (row, bucket)
      GROUP BY dkb.key
    )
    """


def bloom_build(
    df: DataFrame, key: str, params: CMSParams = CMSParams()
) -> DataFrame:
    """Bloom filter as a relation: the DISTINCT (row, bucket) slots any
    key hashed to — at most depth*width rows of two ints (the set bits,
    stored sparse). Same seeded hash family as the CMS, so build and
    membership probes can never diverge. One partial-aggregated
    distinct; merge two filters with plain union+distinct.

    The classic engine use is JOIN PRUNING: build over the build side's
    join keys, semi-join the probe side's candidate slots against it
    (``bloom_filter_keys``) and skip rows that cannot match — false
    positives only (a key testing positive may still be absent; a key
    testing negative is DEFINITELY absent)."""
    ex = df.select(F.explode(_cms_entries(key, params)).alias("__e")).select(
        F.col("__e.row").alias("row"), F.col("__e.bucket").alias("bucket")
    )
    return ex.distinct()


def bloom_filter_keys(
    bloom: DataFrame,
    keys: DataFrame,
    key: str,
    params: CMSParams = CMSParams(),
    out: str = "might_contain",
) -> DataFrame:
    """Membership verdict per DISTINCT key of ``keys``: true iff ALL
    depth slots are set (the Bloom rule — no false negatives, bounded
    false positives ~ (fill_ratio)^depth). The filter relation is tiny
    and broadcast; returns (key, out)."""
    probes = keys.select(
        F.col(key), F.explode(_cms_entries(key, params)).alias("__e")
    ).select(
        F.col(key),
        F.col("__e.row").alias("row"),
        F.col("__e.bucket").alias("bucket"),
    )
    marked = probes.join(
        F.broadcast(bloom.withColumn("__hit", F.lit(1))),
        ["row", "bucket"],
        "left",
    )
    return marked.groupBy(key).agg(
        (F.count(F.lit(1)) == F.sum(F.coalesce(F.col("__hit"), F.lit(0))))
        .alias(out)
    )


def bloom_sql(
    build_table: str,
    build_key: str,
    probe_table: str,
    probe_key: str,
    params: CMSParams = CMSParams(),
) -> str:
    """DuckDB CTE chain re-deriving the Bloom bit set from
    ``build_table.build_key`` and the per-distinct-probe-key membership
    verdicts — the oracle for the registered query. Emits CTEs
    ``bloom`` (row, bucket) and ``verdict`` (key, might_contain)."""
    sentinel = "'<NULL>'"

    def xs(key: str) -> str:
        return (
            f"({sql_md5_hash(f'coalesce(CAST({key} AS VARCHAR), {sentinel})')}"
            f" % {P_HASH})"
        )

    def arms(src: str, extra: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {i} AS row, {_sql_bucket('x', a, b, params.width)}"
            f" AS bucket{extra} FROM {src}"
            for i, (a, b) in enumerate(params.coefficients())
        )

    return f"""
    bx AS (SELECT {xs(build_key)} AS x FROM {build_table}),
    bb AS ({arms('bx', '')}),
    bloom AS (SELECT DISTINCT row, bucket FROM bb),
    px AS (SELECT DISTINCT {probe_key} AS key, {xs(probe_key)} AS x
           FROM {probe_table}),
    pb AS ({arms('px', ', key')}),
    verdict AS (
      SELECT pb.key,
             count(*) = sum(CASE WHEN bloom.bucket IS NOT NULL
                                 THEN 1 ELSE 0 END) AS might_contain
      FROM pb LEFT JOIN bloom USING (row, bucket)
      GROUP BY pb.key
    )
    """


def _key_hash(key: str) -> Column:
    """The shared uniform [0, 2^60) key hash (NULL under the '<NULL>'
    sentinel, consistent with the CMS family)."""
    return md5_hash(F.coalesce(F.col(key).cast("string"), F.lit("<NULL>")))


def _sql_key_hash(key: str) -> str:
    return sql_md5_hash(f"coalesce(CAST({key} AS VARCHAR), '<NULL>')")


def kmv_build(
    df: DataFrame,
    key: str,
    k: int = 128,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """K-minimum-values sketch (Bar-Yossef et al. 2002; the theta-sketch
    family): per group, the k SMALLEST distinct key hashes — at most k
    rows of one bigint per group, whatever the key cardinality.

    Scale shape: the only data-sized shuffle is the distinct on
    (group, h) — uniform keys, partial-aggregated map-side. The
    rank<=k filter then compiles to WindowGroupLimit, which Spark
    applies PER TASK BEFORE the group exchange (plan-verified), so the
    final per-group task merges at most tasks*k rows — no whole-group
    sort anywhere. Merging two sketches is union -> distinct ->
    bottom-k again, and equals the sketch of the unioned data EXACTLY
    (the property tests pin this).
    """
    groups = list(group_cols or [])
    d = df.select(*groups, _key_hash(key).alias("h")).distinct()
    if groups:
        w = Window.partitionBy(*groups).orderBy("h")
        return (
            d.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
    # global sketch: TakeOrderedAndProject (per-partition top-k + merge)
    return d.orderBy("h").limit(k)


def kmv_estimate(
    sketch: DataFrame,
    k: int,
    group_cols: list[str] | None = None,
    out: str = "est_distinct",
) -> DataFrame:
    """Distinct-count estimate per group: EXACT count when the sketch
    holds fewer than k hashes (every distinct value is present), else
    (k-1) * 2^60 / h_k — the classic KMV estimator, relative error
    ~ 1/sqrt(k-2). Pure integer inputs into ONE double division, so any
    engine reproduces the estimate bit-for-bit."""
    groups = list(group_cols or [])
    num = float((k - 1) * HASH_SPACE)  # exact: (k-1) has < 53 mantissa bits
    agg = sketch.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("__n"), F.max("h").alias("__hk")
    )
    est = F.when(
        F.col("__n") < k, F.col("__n").cast("double")
    ).otherwise(F.lit(num) / F.col("__hk").cast("double"))
    return agg.select(*groups, est.alias(out))


def kmv_merge(
    sketches: list[DataFrame],
    k: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """union -> distinct -> bottom-k: identical to the sketch built
    over the unioned raw data (KMV's lossless mergeability)."""
    from functools import reduce

    groups = list(group_cols or [])
    u = reduce(lambda a, b: a.unionByName(b), sketches).distinct()
    if groups:
        w = Window.partitionBy(*groups).orderBy("h")
        return (
            u.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
    return u.orderBy("h").limit(k)


def kmv_sql(
    table: str,
    key: str,
    k: int,
    group_expr: str | None = None,
    out: str = "est_distinct",
) -> str:
    """DuckDB CTE chain re-deriving the bottom-k hash set and the
    estimate — emits CTE ``kmv_est`` (g?, est_distinct). group_expr is
    a SQL expression aliased ``g`` when present."""
    num = float((k - 1) * HASH_SPACE)
    g_sel = f"{group_expr} AS g, " if group_expr else ""
    g_cols = "g, " if group_expr else ""
    g_grp = "GROUP BY g" if group_expr else ""
    g_part = "PARTITION BY g" if group_expr else ""
    return f"""
    kmv_dx AS (SELECT DISTINCT {g_sel}{_sql_key_hash(key)} AS h FROM {table}),
    kmv_rk AS (SELECT {g_cols}h,
                      row_number() OVER ({g_part} ORDER BY h) AS rn
               FROM kmv_dx),
    kmv_sk AS (SELECT * FROM kmv_rk WHERE rn <= {k}),
    kmv_est AS (
      SELECT {g_cols}
             CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
                  ELSE {num!r} / CAST(max(h) AS DOUBLE) END AS {out}
      FROM kmv_sk {g_grp}
    )
    """


KMV_DRIVER_ROWS_DEFAULT = 1 << 20


def _kmv_set_ops_driver(src_df, pda, pdb, k, groups):
    """In-process twin of the relational kmv_set_ops tail. Exact
    integer merge + membership; the three float ops are written as the
    identical IEEE double operations the SQL form performs (longs
    convert round-to-nearest on both sides, k-1 and HASH_SPACE fold to
    the same literal)."""
    import pandas as pd
    from pyspark.sql import types as T

    def keyed(pdf):
        out = {}
        if groups:
            for row in pdf.itertuples(index=False):
                g = tuple(row[:-1])
                out.setdefault(g, set()).add(int(row[-1]))
        else:
            hs = set(int(h) for h in pdf["h"])
            if len(pdf):
                out[()] = hs
        return out

    a_by, b_by = keyed(pda), keyed(pdb)
    num = float((k - 1) * HASH_SPACE)
    rows = []
    for g in sorted(set(a_by) | set(b_by), key=repr):
        sa = a_by.get(g, set())
        sb = b_by.get(g, set())
        merged = sorted(sa | sb)[:k]
        n = len(merged)
        if n == 0:
            continue
        hk = merged[-1]
        nboth = sum(1 for h in merged if h in sa and h in sb)
        est_u = float(n) if n < k else num / float(hk)
        jacc = float(nboth) / float(n)
        rows.append((*g, est_u, jacc, jacc * est_u))
    gfields = [
        T.StructField(f.name, f.dataType)
        for f in src_df.schema.fields
        if f.name in groups
    ]
    # preserve the caller's group order
    gfields.sort(key=lambda f: groups.index(f.name))
    schema = T.StructType(
        gfields
        + [
            T.StructField("est_union", T.DoubleType()),
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("est_intersection", T.DoubleType()),
        ]
    )
    return src_df.sparkSession.createDataFrame(
        pd.DataFrame(
            rows,
            columns=groups + ["est_union", "jaccard", "est_intersection"],
        ),
        schema=schema,
    )


def kmv_set_ops(
    sk_a: DataFrame,
    sk_b: DataFrame,
    k: int,
    group_cols: list[str] | None = None,
    driver_rows: int | None = None,  # None -> KMV_DRIVER_ROWS_DEFAULT
) -> DataFrame:
    """Set-operation estimates from two KMV sketches (theta-sketch
    style, Beyer et al. 2007): per group, the bottom-k of the UNION of
    the two sketches is a uniform sample of the union's distinct
    hashes; the fraction of that sample present in BOTH input sketches
    estimates the Jaccard similarity, and jaccard * union_estimate
    estimates the intersection cardinality. Returns (group_cols...,
    est_union, jaccard, est_intersection).

    Inputs are sketch relations from `kmv_build`/`kmv_merge` with the
    SAME k and group columns: (group_cols..., h). Determinism: counts
    and hash comparisons are exact integers; the three outputs are one
    double division (union estimate), one double division (jaccard),
    and one double multiply (intersection), written identically in the
    SQL twin — any engine reproduces them bit-for-bit.

    Scale shape: sketches are <= k rows per group whatever the data
    size, so every join here is sketch-sized — the expensive scans
    happened once at kmv_build time, and corpus-vs-corpus overlap
    matrices cost O(pairs * k), not O(pairs * data).

    Sketch-resident tier (round 11, the graph-tier precedent): the
    inputs are bounded at k rows per group by construction, so at or
    under ``driver_rows`` total rows (ONE union count over the two
    persisted probes) with non-NULL group values, both sketches are
    pulled once via Arrow and the merge/flag/estimate runs in-process
    — exact integer bottom-k and set membership, and the THREE double
    ops (union division, jaccard division, intersection multiply)
    performed as the identical IEEE operations, so results equal the
    relational cascade bit for bit (pinned by test). The relational
    path (forced with ``driver_rows=0``) remains the shape for
    sketch matrices too wide for one pull.
    """
    groups = list(group_cols or [])
    if driver_rows is None:
        driver_rows = KMV_DRIVER_ROWS_DEFAULT
    if driver_rows > 0:
        # fresh projections get their own cache entries: unpersisting
        # them cannot clobber a caller-persisted input
        pa = sk_a.select(*groups, "h").persist()
        pb = sk_b.select(*groups, "h").persist()
        # 0 < : the relational global-aggregate semantics of two EMPTY
        # ungrouped sketches (one zero row) stay authoritative. ONE
        # union count materializes both caches in a single job (round
        # 11 — the two separate counts were two scheduler round trips
        # for the same work).
        if 0 < pa.unionByName(pb).count() <= driver_rows:
            pda = pa.toPandas()
            pdb = pb.toPandas()
            pa.unpersist()
            pb.unpersist()
            ok = (
                not pda["h"].isna().any()
                and not pdb["h"].isna().any()
                and (
                    not groups
                    or (
                        not pda[groups].isna().any().any()
                        and not pdb[groups].isna().any().any()
                    )
                )
            )
            if ok:
                return _kmv_set_ops_driver(
                    sk_a, pda, pdb, k, groups
                )
        else:
            pa.unpersist()
            pb.unpersist()
    merged = kmv_merge([sk_a, sk_b], k, group_cols=groups)
    a = sk_a.withColumn("__in_a", F.lit(1))
    b = sk_b.withColumn("__in_b", F.lit(1))
    on = groups + ["h"]
    flagged = (
        merged.join(a, on, "left")
        .join(b, on, "left")
        .select(
            *groups,
            "h",
            F.coalesce(F.col("__in_a"), F.lit(0)).alias("in_a"),
            F.coalesce(F.col("__in_b"), F.lit(0)).alias("in_b"),
        )
    )
    num = float((k - 1) * HASH_SPACE)
    agg = flagged.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("__n"),
        F.max("h").alias("__hk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("__nboth"),
    )
    est_u = F.when(F.col("__n") < k, F.col("__n").cast("double")).otherwise(
        F.lit(num) / F.col("__hk").cast("double")
    )
    jacc = F.col("__nboth").cast("double") / F.col("__n").cast("double")
    with_parts = agg.select(
        *groups, est_u.alias("est_union"), jacc.alias("jaccard")
    )
    return with_parts.select(
        *groups,
        "est_union",
        "jaccard",
        (F.col("jaccard") * F.col("est_union")).alias("est_intersection"),
    )


def kmv_set_ops_sql(
    a_cte: str,
    b_cte: str,
    k: int,
    grouped: bool = False,
    prefix: str = "kso",
) -> str:
    """DuckDB CTE chain mirroring `kmv_set_ops` over two sketch CTEs
    each shaped (g?, h). Emits ``{prefix}_est`` with (g?, est_union,
    jaccard, est_intersection). Meant to be composed after sketch CTEs
    built with the same k."""
    num = float((k - 1) * HASH_SPACE)
    g_cols = "g, " if grouped else ""
    g_grp = "GROUP BY g" if grouped else ""
    g_part = "PARTITION BY g" if grouped else ""
    g_on_a = f"{prefix}_mk.g = a.g AND " if grouped else ""
    g_on_b = f"{prefix}_mk.g = b.g AND " if grouped else ""
    return f"""
    {prefix}_m AS (
      SELECT DISTINCT {g_cols}h FROM (
        SELECT {g_cols}h FROM {a_cte}
        UNION ALL SELECT {g_cols}h FROM {b_cte}
      )
    ),
    {prefix}_mk AS (
      SELECT {g_cols}h FROM (
        SELECT {g_cols}h, row_number() OVER ({g_part} ORDER BY h) AS rn
        FROM {prefix}_m
      ) WHERE rn <= {k}
    ),
    {prefix}_fl AS (
      SELECT {g_cols.replace('g, ', prefix + '_mk.g, ') if grouped else ''}
             {prefix}_mk.h,
             CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
             CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
      FROM {prefix}_mk
      LEFT JOIN {a_cte} a ON {g_on_a}{prefix}_mk.h = a.h
      LEFT JOIN {b_cte} b ON {g_on_b}{prefix}_mk.h = b.h
    ),
    {prefix}_agg AS (
      SELECT {g_cols}
             CAST(count(*) AS BIGINT) AS n,
             max(h) AS hk,
             CAST(sum(in_a * in_b) AS BIGINT) AS nboth
      FROM {prefix}_fl {g_grp}
    ),
    {prefix}_parts AS (
      SELECT {g_cols}
             CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                  ELSE {num!r} / CAST(hk AS DOUBLE) END AS est_union,
             CAST(nboth AS DOUBLE) / CAST(n AS DOUBLE) AS jaccard
      FROM {prefix}_agg
    ),
    {prefix}_est AS (
      SELECT {g_cols}est_union, jaccard,
             jaccard * est_union AS est_intersection
      FROM {prefix}_parts
    )
    """


@dataclass(frozen=True)
class HLLParams:
    """2^p registers over the shared 60-bit key hash: bucket = low p
    bits' residue (h % m), rho = leading-zero rank of the remaining
    (60-p)-bit word. Deterministic — no seeds, no engine RNG — so the
    registers (and hence the estimate) are oracle-reproducible."""

    p: int = 4

    @property
    def m(self) -> int:
        return 1 << self.p

    @property
    def w_bits(self) -> int:
        return 60 - self.p

    @property
    def alpha(self) -> float:
        # Flajolet et al. 2007 bias constant; computed HERE in Python
        # and embedded as one literal on both engines, so no
        # cross-engine float expression divergence is possible.
        m = self.m
        if m == 16:
            return 0.673
        if m == 32:
            return 0.697
        if m == 64:
            return 0.709
        return 0.7213 / (1.0 + 1.079 / m)

    @property
    def numerator(self) -> float:
        # alpha * m^2 * 2^62 (the 2^62 scale makes the register-mass
        # sum S exact in int64/decimal arithmetic: each bucket
        # contributes 2^(62-rho) <= 2^62, m buckets fit decimal(38,0))
        return self.alpha * self.m * self.m * float(1 << 62)

    @property
    def lc_threshold(self) -> float:
        # Flajolet et al. 2007: below raw estimate 2.5m, switch to
        # linear counting. m is a power of two, so the literal is exact.
        return 2.5 * self.m

    def lc_table(self) -> list[float]:
        """Linear-counting lookup, 1-based by V (zero registers):
        element i-1 holds m*ln(m/(i)), each value computed ONCE here in
        Python and embedded as a literal on both engines. ln() is the
        one operation whose last ulp differs across engines — a shared
        literal cannot. m doubles (sketch-sized), inlined as a literal
        array, never data-proportional."""
        return [self.m * math.log(self.m / v) for v in range(1, self.m + 1)]


def hll_build(
    df: DataFrame,
    key: str,
    params: HLLParams = HLLParams(),
    group_cols: list[str] | None = None,
) -> DataFrame:
    """HyperLogLog registers as a relation: (group..., bucket, rho) with
    at most m rows per group — one partial-aggregated max per bucket,
    no matter the cardinality. rho uses the binary-string length of the
    word (pure integer -> string, portable) instead of floor(log2)
    floats. Merge sketches with register-wise max (``hll_merge``)."""
    groups = list(group_cols or [])
    h = _key_hash(key)
    m, wb = params.m, params.w_bits
    d = df.select(
        *groups,
        (h % m).alias("bucket"),
        (h / F.lit(m)).cast("long").alias("__w"),  # h >= 0: floor == trunc
    )
    rho = F.when(F.col("__w") == 0, F.lit(wb + 1)).otherwise(
        F.lit(wb) + 1 - F.length(F.conv(F.col("__w"), 10, 2))
    )
    return d.select(*groups, "bucket", rho.alias("rho")).groupBy(
        *groups, "bucket"
    ).agg(F.max("rho").cast("int").alias("rho"))


def hll_merge(
    sketches: list[DataFrame],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Register-wise max — hll(A ∪ B) == merge(hll(A), hll(B))
    exactly."""
    from functools import reduce

    groups = list(group_cols or [])
    u = reduce(lambda a, b: a.unionByName(b), sketches)
    return u.groupBy(*groups, "bucket").agg(
        F.max("rho").cast("int").alias("rho")
    )


def hll_estimate(
    registers: DataFrame,
    params: HLLParams = HLLParams(),
    group_cols: list[str] | None = None,
    out: str = "est_distinct",
    correct_small: bool = False,
) -> DataFrame:
    """Raw HLL estimate per group: alpha*m^2 / sum_j 2^-M_j, with
    absent buckets counting as register 0. The register-mass sum S is
    EXACT integer arithmetic (2^(62-rho) per bucket, decimal-summed),
    the numerator is a Python-precomputed literal, and the single
    double division is IEEE-identical on every engine — which is what
    lets the ORACLE reproduce an approximate estimator bit-for-bit.

    ``correct_small`` applies the classic small-range correction
    (Flajolet et al. 2007): when zero registers remain and the raw
    estimate is <= 2.5m, linear counting m*ln(m/V) replaces it. ln()
    is the one operation whose last ulp differs across engines, so the
    LC values come from ``params.lc_table()`` — m Python-computed
    literals carried as ONE literal array indexed by element_at(V)
    (no join, no broadcast job), bit-identical to the same literals
    inlined as a list CTE in the SQL oracle
    (``hll_sql(correct_small=True)``). Default off: the raw form is
    what the long-standing raw-estimator callers hash against.
    Relative error ~ 1.04/sqrt(m) large-range; LC is tighter below
    the threshold."""
    groups = list(group_cols or [])
    m = params.m
    mass = F.expr("shiftleft(CAST(1 AS BIGINT), 62 - rho)").cast(
        "decimal(38,0)"
    )
    agg = registers.groupBy(*groups).agg(
        F.sum(mass).alias("__s_present"),
        F.count(F.lit(1)).alias("__nb"),
    )
    # absent buckets are zero registers: add (m - nb) * 2^62
    s = (
        F.col("__s_present")
        + (F.lit(m) - F.col("__nb")).cast("decimal(38,0)")
        * F.lit(1 << 62).cast("decimal(38,0)")
    )
    raw = F.lit(params.numerator) / s.cast("double")
    zr = (F.lit(m) - F.col("__nb")).cast("int")
    if not correct_small:
        return agg.select(
            *groups, raw.alias(out), zr.alias("zero_registers")
        )
    est0 = agg.select(
        *groups, raw.alias("__raw"), zr.alias("zero_registers")
    )
    # LC lookup as a literal array + element_at (1-based, V in 1..m):
    # one expression, no broadcast join / extra job — the join form
    # measured ~1s of per-query cold latency per estimate call. Built
    # as ONE parsed expr: the per-element F.lit loop was m py4j round
    # trips (~0.3 s at m=512) of plan-construction latency per call.
    from svoe_spark.operators.util import lit_double_array

    lc_arr = lit_double_array(params.lc_table())
    corrected = F.when(
        (F.col("zero_registers") > 0)
        & (F.col("__raw") <= F.lit(params.lc_threshold)),
        F.element_at(lc_arr, F.col("zero_registers")),
    ).otherwise(F.col("__raw"))
    return est0.select(*groups, corrected.alias(out), "zero_registers")


def hll_sql(
    table: str,
    key: str,
    params: HLLParams = HLLParams(),
    group_expr: str | None = None,
    out: str = "est_distinct",
    correct_small: bool = False,
) -> str:
    """DuckDB CTE chain re-deriving registers and the estimate —
    emits CTEs ``hll_reg`` (g?, bucket, rho) and ``hll_est``
    (g?, est_distinct, zero_registers). bin() strips leading zeros in
    DuckDB exactly as Spark's conv(w, 10, 2) does, so the rho ranks
    agree bit-for-bit. With ``correct_small`` it also emits ``hll_lc``
    — a 1-row CTE holding the linear-counting lookup as one list
    column ``lcs`` (1-based list_extract by zero_registers; the SAME
    Python repr literals ``hll_estimate(correct_small=True)`` ships to
    Spark as a literal array) — and hll_est applies the corrected
    CASE; CROSS JOIN hll_lc for any further corrected estimate over
    merged registers."""
    m, wb = params.m, params.w_bits
    g_sel = f"{group_expr} AS g, " if group_expr else ""
    g_cols = "g, " if group_expr else ""
    g_grp_b = "GROUP BY g, bucket" if group_expr else "GROUP BY bucket"
    g_grp = "GROUP BY g" if group_expr else ""
    raw_expr = f"""{params.numerator!r} / CAST(
               sum(CAST(1 AS BIGINT) << (62 - rho))
               + ({m} - count(*)) * CAST(1 AS HUGEINT) * (CAST(1 AS BIGINT) << 62)
               AS DOUBLE)"""
    base = f"""
    hll_h AS (SELECT {g_sel}{_sql_key_hash(key)} AS h FROM {table}),
    hll_w AS (SELECT {g_cols}h % {m} AS bucket, h // {m} AS w FROM hll_h),
    hll_reg AS (
      SELECT {g_cols}bucket,
             CAST(max(CASE WHEN w = 0 THEN {wb + 1}
                           ELSE {wb} + 1 - length(bin(w)) END) AS INTEGER)
               AS rho
      FROM hll_w {g_grp_b}
    )"""
    if not correct_small:
        return base + f""",
    hll_est AS (
      SELECT {g_cols}
             {raw_expr} AS {out},
             CAST({m} - count(*) AS INTEGER) AS zero_registers
      FROM hll_reg {g_grp}
    )
    """
    # CAST('<repr>' AS DOUBLE): a bare decimal literal would parse as
    # DECIMAL, whose decimal->double conversion is not correctly
    # rounded past 2^53 of scaled digits (observed 1-ulp drift);
    # string->double is correctly rounded, and Python repr is shortest
    # round-trip, so the parsed double is bit-identical to the Python
    # float shipped to Spark. One 1-row list CTE, indexed 1-based by
    # zero_registers — mirrors Spark's literal-array element_at.
    lc_list = ", ".join(
        f"CAST('{lc!r}' AS DOUBLE)" for lc in params.lc_table()
    )
    return base + f""",
    hll_lc AS (SELECT [{lc_list}] AS lcs),
    hll_raw AS (
      SELECT {g_cols}
             {raw_expr} AS raw,
             CAST({m} - count(*) AS INTEGER) AS zero_registers
      FROM hll_reg {g_grp}
    ),
    hll_est AS (
      SELECT {g_cols}
             CASE WHEN zero_registers > 0 AND raw <= {params.lc_threshold!r}
                  THEN list_extract(lcs, zero_registers) ELSE raw END AS {out},
             zero_registers
      FROM hll_raw CROSS JOIN hll_lc
    )
    """


def frequent_items(
    df: DataFrame,
    key: str,
    threshold: int,
    params: CMSParams | None = None,
) -> DataFrame:
    """EXACT heavy hitters — every key with true count >= ``threshold``
    and its exact count — WITHOUT shuffling the long tail.

    Plan: (1) one CMS build (fixed depth x width shuffle regardless of
    key cardinality); (2) the broadcast sketch becomes a narrow
    row-level FILTER — a row survives only if ALL depth counters of
    its key are >= threshold. CMS never underestimates, so every truly
    heavy key survives (no false negatives); light keys survive only
    on full collision rows (rare by the CMS bound). (3) exact
    groupBy-count of the surviving rows only, then the exact HAVING.

    The filter only BITES when a bucket's background mass N/width is
    well below the threshold — with the old fixed width=1024 any run
    with threshold <= N/1024 pruned NOTHING and silently degraded to
    the plain groupBy plus sketch overhead. So by default the width is
    SIZED from the data: one count() pass, width = next power of two
    >= 8*N/threshold (background mass ~ threshold/8), clamped to
    [1024, 2^20]. If even the 2^20-wide sketch cannot get the
    background under threshold/2 (i.e. threshold <= ~N/2^19), heavy
    keys are so numerous/low-bar that pruning cannot help — the
    operator honestly falls back to the plain exact groupBy-HAVING.
    Pass an explicit ``params`` to skip the count and the sizing.

    At 100 TB with a heavy tail of rare keys, step 3's shuffle carries
    only rows of candidate keys — the tail is dropped map-side by the
    depth broadcast hash joins (no shuffle, no state).
    Returns (key, n) exactly equal to the plain GROUP BY ... HAVING.
    """
    if params is None:
        n_rows = df.count()
        want = max(1024, (8 * n_rows) // max(threshold, 1))
        width = 1 << max(10, min(20, (int(want) - 1).bit_length()))
        if n_rows / width >= threshold / 2:
            return (
                df.groupBy(key)
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .where(F.col("n") >= threshold)
            )
        params = CMSParams(width=width)
    # materialize the sketch ONCE: each depth's broadcast side below is
    # a separate broadcast-exchange build, and an unpersisted sketch
    # would re-run the full CMS scan+shuffle PER DEPTH (measured: four
    # sequential ~0.8 s rebuild jobs at sf0.1). The relation is bounded
    # by depth x width rows whatever the input volume, so the eager
    # localCheckpoint stores sketch-sized blocks only; they are freed
    # with the returned plan's references.
    sketch = cms_build(df, key, params).localCheckpoint(eager=True)
    x = md5_hash(
        F.coalesce(F.col(key).cast("string"), F.lit("<NULL>"))
    ) % P_HASH
    cand = df
    for i, (a, b) in enumerate(params.coefficients()):
        side = (
            sketch.where((F.col("row") == i) & (F.col("cnt") >= threshold))
            .select(F.col("bucket").alias(f"__hb{i}"))
        )
        cand = cand.join(
            F.broadcast(side),
            _bucket_expr(x, a, b, params.width) == F.col(f"__hb{i}"),
            "inner",
        ).drop(f"__hb{i}")
    return (
        cand.groupBy(key)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") >= threshold)
    )


# --------------------------------------------------------------------------
# Mergeable log-bucket quantile sketch (HdrHistogram / DDSketch family,
# integer-exact)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class QSketchParams:
    """Quantization parameters shared by build, merge, estimate, and
    the SQL oracle — the CMSParams/HLLParams discipline: the sketch
    relation does not carry its parameters, so passing DIFFERENT
    params to any stage (a scale mismatch, merging sketches built at
    different sig_bits) produces silently wrong quantiles. Thread ONE
    QSketchParams through the whole pipeline."""

    sig_bits: int = 8
    scale: int = 100


def quantile_sketch(
    df: DataFrame,
    col: str,
    params: QSketchParams = QSketchParams(),
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Single-pass, RANGE-OBLIVIOUS, mergeable quantile sketch — the
    100 TB percentile primitive the exact order-statistics pass and the
    min/max-parameterized equi-width histogram both are not: no
    pre-scan, no data-dependent parameters, and two sketches merge by
    adding counts (union == merge exactly, pinned by test).

    Values are fixed-point-scaled to integers (the repo's "cents"
    contract: `round(value*scale)` must be integer-exact), then
    quantized to their top ``sig_bits`` binary digits: bit length via
    the integer->binary-string trick the relational HLL already proved
    portable (Spark `conv`, DuckDB `bin` — identical digits), low bits
    cleared with exact integer shifts. The sketch relation is
    (group..., qv, cnt): at most 2^sig_bits buckets per octave x ~40
    octaves of int64 range — bounded and tiny whatever the data volume,
    with one map-side-combined shuffle to build. Relative quantization
    error < 2^(1-sig_bits) (cleared low bits < 2^(bl-sig_bits) against
    a value >= 2^(bl-1)), plus the fixed-point grid; quantization moves
    values toward zero and is sign-symmetric (negatives quantize on
    |c| and re-negate; zero is its own bucket).
    Every operation is exact integer arithmetic, so the DuckDB oracle
    (`quantile_sketch_sql`) reproduces the sketch AND the estimates
    bit-for-bit — unlike engine-native approx_percentile, whose
    internals are implementation-defined.

    ``weight_col`` (positive integers, e.g. token counts) switches the
    bucket counts to WEIGHT SUMS: estimates become weighted
    percentiles — "the document length below which X% of TOKENS lie",
    the curation form — with identical mergeability and rank
    arithmetic (N becomes total weight). NULL weights are the
    caller's contract to pre-clean, as with the weighted PageRank."""
    if params.sig_bits < 1:
        raise ValueError("quantile_sketch: sig_bits must be >= 1")
    groups = list(group_cols or [])
    wcol = [F.col(weight_col).cast("long").alias("__w")] if weight_col else []
    staged = (
        df.where(F.col(col).isNotNull())
        .select(
            *groups,
            F.round(F.col(col) * params.scale, 0).cast("long").alias("__c"),
            *wcol,
        )
        .select(
            *groups,
            "__c",
            *(["__w"] if weight_col else []),
            F.greatest(
                F.length(F.conv(F.abs(F.col("__c")), 10, 2))
                - F.lit(params.sig_bits),
                F.lit(0),
            ).alias("__s"),
        )
    )
    qv = F.signum(F.col("__c")).cast("long") * F.expr(
        "shiftleft(shiftright(abs(__c), __s), __s)"
    )
    cnt = (
        F.sum("__w") if weight_col else F.count(F.lit(1)).cast("long")
    ).alias("cnt")
    return (
        staged.select(*groups, qv.alias("qv"),
                      *(["__w"] if weight_col else []))
        .groupBy(*groups, "qv")
        .agg(cnt)
    )


def quantile_sketch_estimate(
    sketch: DataFrame,
    percentiles: list[int],
    params: QSketchParams = QSketchParams(),
    group_cols: list[str] | None = None,
    out: str = "est_value",
) -> DataFrame:
    """Percentile estimates from the sketch relation: for integer
    percentile p, the estimate is the smallest quantized value whose
    running count reaches rank ceil(N*p/100) — all-integer rank
    arithmetic ((N*p + 99) div 100), a per-group cumulative window
    over the (tiny) sketch, and one exact final division by the
    fixed-point scale. Returns (group..., p, est).

    Physical shape (round 11): the smallest qualifying bucket is
    selected by the SPANNING-RANK filter ``cum - cnt < rank <= cum``
    instead of a groupBy(group, p).min aggregate — cum is strictly
    increasing over qv (every bucket count is positive), so exactly
    one bucket spans each rank and that bucket IS the former min.
    Same values, one less Exchange per estimate call."""
    if not percentiles or any(not (1 <= p <= 100) for p in percentiles):
        raise ValueError("percentiles must be integers in [1, 100]")
    groups = list(group_cols or [])
    wcum = Window.partitionBy(*groups).orderBy("qv") if groups else (
        Window.orderBy("qv")
    )
    wall = Window.partitionBy(*groups) if groups else Window.partitionBy()
    sk = sketch.select(
        *groups,
        "qv",
        F.col("cnt").alias("__k"),
        F.sum("cnt").over(wcum).alias("__cum"),
        F.sum("cnt").over(wall).alias("__n"),
    )
    spark = sketch.sparkSession
    ps = spark.createDataFrame([(p,) for p in percentiles], "p int")
    rank = F.expr("(__n * p + 99) div 100")
    return (
        sk.crossJoin(F.broadcast(ps))
        .where(
            (F.col("__cum") >= rank) & (F.col("__cum") - F.col("__k") < rank)
        )
        .select(
            *groups,
            "p",
            (F.col("qv") / F.lit(float(params.scale))).alias(out),
        )
    )


def quantile_sketch_sql(
    table: str,
    col: str,
    params: QSketchParams = QSketchParams(),
    group_expr: str | None = None,
) -> str:
    """DuckDB CTE chain re-deriving the sketch — emits ``qs_sketch``
    (g?, qv, cnt) with bit-identical quantization (bin() == conv(),
    integer shifts). Estimation SQL composes on top with the same
    rank formula (see the approx_quantiles_daily query).

    Covers only the UNWEIGHTED form: ``cnt`` is ``count(*)``. A query
    wiring this oracle against an engine build that passes
    ``weight_col`` would mismatch — weighted sketches need a
    ``sum(w)``-based twin (add it here, next to the engine form, when
    a weighted query first needs one)."""
    sig_bits, scale = params.sig_bits, params.scale
    g_sel = f"{group_expr} AS g, " if group_expr else ""
    g_cols = "g, " if group_expr else ""
    g_grp = "GROUP BY g, qv" if group_expr else "GROUP BY qv"
    return f"""
    qs_c AS (SELECT {g_sel}CAST(round({col} * {scale}, 0) AS BIGINT) AS c
             FROM {table} WHERE {col} IS NOT NULL),
    qs_q AS (
      SELECT {g_cols}
             CASE WHEN c = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(sign(c) AS BIGINT) * (
                    (abs(c) >> greatest(length(bin(abs(c))) - {sig_bits}, 0))
                    << greatest(length(bin(abs(c))) - {sig_bits}, 0)
                  )
             END AS qv
      FROM qs_c
    ),
    qs_sketch AS (
      SELECT {g_cols}qv, CAST(count(*) AS BIGINT) AS cnt FROM qs_q {g_grp}
    )
    """
