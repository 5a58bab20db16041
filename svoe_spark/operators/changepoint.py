"""Sequential changepoint detection: two-sided CUSUM scores over keyed
ordered series, fully relational.

Page's CUSUM (Page 1954, the standard sequential drift detector) is a
per-row recursion — C_t = max(0, C_{t-1} + y_t) — which looks like it
needs stateful iteration. It doesn't: with P_t the prefix sum of y and
P_0 = 0, the recursion unrolls to

    C_t = P_t - min_{0<=s<=t} P_s

so the score is ONE windowed prefix sum + ONE running min — exactly
the shape Spark (and any SQL engine) executes as a single per-key
ordered pass. The downward side mirrors with a running max. All
arithmetic is exact-integer when the inputs are (the determinism
contract: integer value/baseline/slack make every intermediate an
exact int64), so the distributed answer is bit-identical to the SQL
twin.

Scale shape: one window partitioned by the series key — parallel
across keys, no driver state, no iteration. For a SINGLE global
series too hot for one task, decompose the prefix sum with
``curation.global_cumsum`` (bucket prefix decomposition) and apply the
same identity on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cusum_scores(
    df: DataFrame,
    value_col: str,
    on: str,
    by: list[str] | None = None,
    baseline_col: str | None = None,
    slack=0,
    tiebreak: str | None = None,
    out_pos: str = "c_pos",
    out_neg: str = "c_neg",
) -> DataFrame:
    """Attach two-sided CUSUM scores to every row of a keyed series
    ordered by ``on`` (ties broken by ``tiebreak`` — pass one whenever
    ``on`` can repeat, or the prefix sums are ambiguous).

    y+ = value - baseline - slack accumulates upward drift;
    y- = value - baseline + slack accumulates downward drift.
    ``slack`` (an int, or the NAME of a per-row column, e.g. a robust
    scale estimate) is the classic allowance k: deviations smaller
    than it never accumulate. C+ = P - min(0, running_min(P));
    C- = max(0, running_max(P')) - P'. Alarm thresholds are the
    caller's (typically h * scale; h in 4..10).
    """
    base = F.col(baseline_col) if baseline_col else F.lit(0)
    if isinstance(slack, str):
        k = F.col(slack)
    else:
        if isinstance(slack, bool) or not isinstance(slack, int) or slack < 0:
            raise ValueError(
                "cusum_scores: slack must be a non-negative int or a column name"
            )
        k = F.lit(slack)
    order = [F.col(on).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = (
        Window.partitionBy(*(by or [F.lit(1)]))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    yp = F.col(value_col) - base - k
    yn = F.col(value_col) - base + k
    with_p = df.withColumn("__pp", F.sum(yp).over(w)).withColumn(
        "__pn", F.sum(yn).over(w)
    )
    return (
        with_p.withColumn(
            out_pos, F.col("__pp") - F.least(F.lit(0), F.min("__pp").over(w))
        )
        .withColumn(
            out_neg, F.greatest(F.lit(0), F.max("__pn").over(w)) - F.col("__pn")
        )
        .drop("__pp", "__pn")
    )
