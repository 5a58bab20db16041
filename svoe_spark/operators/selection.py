"""Data selection by importance weighting toward a target distribution
(DSIR — Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", arXiv:2302.03169).

Beyond-reference layer (SURVEY §2.13). DSIR scores every raw document
by how much more likely its hashed n-gram features are under a trusted
target corpus than under the raw corpus; the caller keeps the
top-weighted documents. The paper scores log p_target(x) - log p_raw(x); this
implementation uses the per-token PROBABILITY RATIO averaged over the
document (a log-free monotone analogue per token) because ln() differs
by 1 ulp across libm implementations and would break cross-engine
bit-parity — see the determinism contract in svoe_spark/queries.py.

Scale shape: the feature space is ``buckets`` hashed unigram cells, so
the two distribution estimates are ONE aggregation each with a
buckets-sized result; the scoring pass is shuffle-free — the ratio
table rides along as a plan literal (an implicit broadcast with zero
join machinery) and each document folds its own token-hash array.
At 100 TB this is two cheap stats jobs plus a single map-only scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from svoe_spark.functions.text import token_hashes
from svoe_spark.operators.similarity import _lit_nested
from svoe_spark.operators.util import spread

DSIR_BUCKETS = 512


def hashed_bucket_counts(
    docs: DataFrame, buckets: int = DSIR_BUCKETS, text: str = "text"
) -> DataFrame:
    """(bucket, cnt): corpus-wide hashed-unigram counts. One explode +
    one aggregation; the result has at most ``buckets`` rows."""
    return (
        spread(docs)
        .select(F.explode(token_hashes(text)).alias("__h"))
        .groupBy((F.col("__h") % buckets).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _ratio_table(
    target_counts: dict[int, int],
    raw_counts: dict[int, int],
    buckets: int,
) -> list[float]:
    """Per-bucket Laplace-smoothed probability ratio
    ((t_b+1)*(R+B)) / ((r_b+1)*(T+B)) as exact-integer division —
    numerator and denominator stay integers, so the single double
    division is correctly rounded and bit-identical to any engine
    evaluating the same quotient. Overflow note: the products stay
    exact only below 2^53 (counts up to ~9e15/buckets); shard the
    corpus stats if a single feature cell can exceed that."""
    t_total = sum(target_counts.values())
    r_total = sum(raw_counts.values())
    return [
        ((target_counts.get(b, 0) + 1) * (r_total + buckets))
        / ((raw_counts.get(b, 0) + 1) * (t_total + buckets))
        for b in range(buckets)
    ]


def dsir_importance(
    raw: DataFrame,
    target: DataFrame | Column,
    buckets: int = DSIR_BUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every raw document: (id, n_tokens, importance) where
    importance is the mean per-token target/raw probability ratio
    (> 1 = looks more like the target corpus). Documents with no
    tokens score 0.0.

    ``target`` is either a separate corpus DataFrame (two bounded
    stats jobs), or — the common curation shape, where the target IS a
    predicate over the raw corpus (a language, a source allowlist) — a
    boolean Column over ``raw``'s rows: then BOTH distributions come
    from ONE tokenize pass (round 11; the per-bucket raw count and the
    conditional target count are exact integers either way, so the
    ratio table — and every score — is bit-identical to the two-pass
    form, pinned by test_dsir_predicate_equals_filtered_target).

    The stats are buckets-sized collect jobs (the IVF-centroid pattern
    — driver-held model state, deliberate and bounded), then one
    shuffle-free scan folds each document's token-hash array
    left-to-right against the ratio literal.
    """
    if isinstance(target, Column):
        rows = (
            spread(raw)
            .select(
                F.explode(token_hashes(text)).alias("__h"),
                target.cast("long").alias("__t"),
            )
            .groupBy((F.col("__h") % buckets).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("__t").alias("cnt_t"),
            )
            .collect()
        )
        rc = {r["bucket"]: r["cnt"] for r in rows}
        tc = {
            r["bucket"]: int(r["cnt_t"]) for r in rows if r["cnt_t"]
        }
    else:
        tc = {r["bucket"]: r["cnt"] for r in hashed_bucket_counts(target, buckets, text).collect()}
        rc = {r["bucket"]: r["cnt"] for r in hashed_bucket_counts(raw, buckets, text).collect()}
    ratios = _lit_nested(_ratio_table(tc, rc, buckets))

    th = token_hashes(text)
    n = F.size(th)

    def step(acc: Column, h: Column) -> Column:
        return acc + F.element_at(ratios, (h % buckets + 1).cast("int"))

    total = F.aggregate(th, F.lit(0.0), step)
    return spread(raw).select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, total / n).otherwise(F.lit(0.0)).alias("importance"),
    )
