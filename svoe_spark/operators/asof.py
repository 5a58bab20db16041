"""Point-in-time (as-of) join and lookahead label shift.

Semantics match the reference's point-in-time multi-join: for every left
(label) row, take each right feature's latest row with
``right.ts <= left.ts`` (backward as-of, exact matches included)
(reference: svoe/featurizer/blocks/blocks.py:212-219 pd.merge_asof chain;
distributed wiring svoe/featurizer/batch/task_graph/tasks.py:222-264).
The reference stitches previous blocks onto each chunk so boundaries
don't lose the last value (builder.py:270-293); in Spark that concern
disappears for the default plan (one windowed sort per key) and is
handled explicitly by bucket-seed rows in the bucketed scale path.

Two physical strategies, same semantics:

* default: tag sides, UNION, ``last(value, ignorenulls=True)`` over a
  running window partitioned by key — ONE shuffle, no join explosion.
* ``time_bucket=...``: additionally partition the sort by coarse time
  bucket, seeding each bucket with the latest prior right row. Use when
  a single key's history exceeds one task (hot instruments at 100 TB):
  parallelism becomes (keys x buckets) instead of (keys).
* ``time_bucket="auto"`` (the default): a cheap per-key profile (one
  narrow count/span aggregation) picks between the two — below
  AUTO_TARGET_ROWS_PER_TASK rows on the hottest key the single-window
  plan runs; above it, a bucket width is derived so the hottest key
  splits into ~target-sized pieces. The plan a naive user gets is
  therefore the 100x-safe one without tuning. The profile costs one
  eager aggregation job at call time; pass ``time_bucket=None`` to
  force the lazy single-window plan.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from svoe_spark.functions.time import duration_to_seconds, epoch_seconds
from svoe_spark.operators.util import plan_row_count, plan_size_bytes

_SIDE = "__asof_side"
_TS = "__asof_ts"
_BUCKET = "__asof_bucket"

#: Above this many rows on the hottest key, the as-of sort is split by
#: time bucket. One window-sort task of ~2M narrow rows is seconds of
#: work; far below executor memory at any sane row width.
AUTO_TARGET_ROWS_PER_TASK = 2_000_000


def _auto_bucket(
    unioned: DataFrame, by: list[str], target: int
) -> float | None:
    """Per-key profile -> None (single-window plan) or bucket seconds.

    One narrow aggregation over (by, _TS): max per-key row count and
    the hottest key's time span. Bucket width splits that key into
    ~``target``-row pieces."""
    per_key = unioned.groupBy(*by).agg(
        F.count(F.lit(1)).alias("__n"),
        (F.max(_TS) - F.min(_TS)).alias("__span"),
    )
    row = per_key.agg(
        F.max("__n").alias("n"), F.max_by("__span", "__n").alias("span")
    ).first()
    if row is None or row["n"] is None or row["n"] <= target:
        return None
    pieces = math.ceil(row["n"] / target)
    return max(1.0, float(row["span"] or 0.0) / pieces)


def _prep(df: DataFrame, on: str, by: list[str]) -> DataFrame:
    return df.withColumn(_TS, epoch_seconds(on))


#: Analyzed-plan node names that mark a Python evaluation stage —
#: column pruning cannot reach through these, so an eager profile
#: aggregation would re-execute the whole Python subtree.
_PY_STAGES = (
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def _has_python_stage(df: DataFrame) -> bool:
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # pragma: no cover - defensive: profile anyway
        return False
    return any(s in plan for s in _PY_STAGES)


#: Below this optimizer size estimate for the unioned input, the auto
#: dispatch takes the single-window plan WITHOUT running the per-key
#: profile job: sized as AUTO_TARGET_ROWS_PER_TASK x 20 B — the
#: conservative FLOOR of Catalyst's per-row width estimate for these
#: schemas (measured ~26 B/row; arrays/strings are under- not
#: over-estimated) — so even a floor-width input admitted by the gate
#: cannot put more rows on one key than the per-task budget. The
#: profile is an EAGER aggregation at plan-build time — ~1-1.5 s of
#: fixed latency per asof call at bench scale — while the dispatch it
#: feeds is perf-only (both plans are exact), so a size-gated skip is
#: always safe for correctness; at production scale the estimate
#: exceeds the gate and the profile runs unchanged.
AUTO_PROFILE_MIN_BYTES = AUTO_TARGET_ROWS_PER_TASK * 20


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "timestamp",
    by: list[str] | str | None = None,
    right_cols: list[str] | None = None,
    prefix: str = "",
    time_bucket: str | float | None = "auto",
    tiebreak: str | None = None,
    tolerance: str | float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: nearest right row at or before (``direction=
    'backward'``, the default: right.on <= left.on) or at or after
    (``'forward'``: right.on >= left.on) each left row — pd.merge_asof's
    direction parameter. Forward runs the identical one-shuffle plan on
    the negated time axis, so tolerance (max future distance there) and
    the bucketed scale path apply unchanged. For 'nearest' see
    `asof_join_nearest`.

    ``by``: equi-key column(s) (e.g. instrument); ``right_cols``: value
    columns pulled from the right side (default: all non-key, non-ts);
    ``prefix``: namespace for the pulled columns (reference prefixes
    feature columns '{feature}-{col}', df_utils.py:172-180);
    ``tiebreak``: right-side column ordering duplicate-timestamp rows
    (the greatest wins), making results deterministic under dup ts;
    ``tolerance``: maximum staleness (pd.merge_asof's tolerance) — a
    match older than left.on - tolerance is nulled out instead of
    carried forward forever.
    """
    return asof_join_multi(
        left,
        {prefix: right},
        on=on,
        by=by,
        right_cols={prefix: right_cols} if right_cols else None,
        time_bucket=time_bucket,
        tiebreak=tiebreak,
        tolerance=tolerance,
        direction=direction,
    )


def asof_join_multi(
    left: DataFrame,
    rights: dict[str, DataFrame],
    on: str = "timestamp",
    by: list[str] | str | None = None,
    right_cols: dict[str, list[str]] | None = None,
    time_bucket: str | float | None = "auto",
    tiebreak: str | None = None,
    tolerance: str | float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """N-way point-in-time join in ONE shuffle.

    ``direction='forward'`` flips the match to the EARLIEST right row
    with right.on >= left.on by negating the internal time axis —
    every other mechanism (running fill, bucket seeding, tolerance as
    max distance, tiebreak "greatest wins" among duplicate instants)
    is direction-agnostic and applies unchanged.

    All right sides are unioned with the left into a single keyed,
    time-ordered relation; each feature's value columns are filled with
    a running ``last(ignorenulls)``; finally only label rows survive.
    Equivalent to a chain of pd.merge_asof (the reference's
    merge_asof_multi, blocks.py:205-219) but linear, not N passes.

    ``tolerance`` (pd.merge_asof semantics, inclusive): per feature
    tag, values are nulled when the tag's latest right ROW is older
    than left.on - tolerance. The matched instant rides through the
    same union+fill as one extra per-tag column, so both the lazy and
    bucketed plans support it. Note: columns of one tag fill
    independently (a null cell falls back to an older row), and the
    staleness test uses the tag's latest ROW — with sparse nulls
    inside a feed, a value older than tolerance can survive if a
    fresher row of the same tag exists.
    """
    if isinstance(by, str):
        by = [by]
    by = by or []
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}"
            " (use asof_join_nearest for 'nearest')"
        )
    sign = 1.0 if direction == "backward" else -1.0
    tol_secs = (
        duration_to_seconds(tolerance) if tolerance is not None else None
    )

    left_cols = left.columns
    # output column name -> (feature tag, source col)
    val_cols: dict[str, tuple[str, str]] = {}
    for tag, rdf in rights.items():
        cols = (right_cols or {}).get(tag) or [
            c for c in rdf.columns if c != on and c not in by and c != tiebreak
        ]
        for c in cols:
            out = f"{tag}{c}" if tag else c
            if out in left_cols or out in val_cols:
                out = f"{tag}_{c}" if tag else f"right_{c}"
            val_cols[out] = (tag, c)

    tb = f"__tb_{tiebreak}" if tiebreak else None
    # per-tag matched-instant columns (tolerance only): filled by the
    # same running last as the values, so both plans support them
    mts = {tag: f"__mts_{tag}" for tag in rights} if tol_secs is not None else {}

    # Build the union relation: left rows carry their own columns and
    # nulls for every feature column; each right df carries nulls for
    # left-only columns and its own values under the output names.
    def side_df(df: DataFrame, side: int, tag: str | None) -> DataFrame:
        exprs: list[Column] = [F.col(on).alias(on)]
        exprs += [F.col(b).alias(b) for b in by]
        exprs.append(F.lit(side).alias(_SIDE))
        for lc in left_cols:
            if lc == on or lc in by:
                continue
            exprs.append(
                (F.col(lc) if side == 1 else F.lit(None).cast(left.schema[lc].dataType)).alias(lc)
            )
        for out, (vtag, src) in val_cols.items():
            if side == 0 and vtag == tag:
                exprs.append(F.col(src).alias(out))
            else:
                dt = rights[vtag].schema[src].dataType
                exprs.append(F.lit(None).cast(dt).alias(out))
        for mtag, mcol in mts.items():
            if side == 0 and mtag == tag:
                exprs.append((epoch_seconds(F.col(on)) * sign).alias(mcol))
            else:
                exprs.append(F.lit(None).cast("double").alias(mcol))
        if tb:
            if side == 0 and tiebreak and tiebreak in df.columns:
                exprs.append(F.col(tiebreak).cast("double").alias(tb))
            else:
                exprs.append(F.lit(None).cast("double").alias(tb))
        return df.select(*exprs)

    unioned = side_df(left, 1, None)
    for tag, rdf in rights.items():
        unioned = unioned.unionByName(side_df(rdf, 0, tag))
    unioned = unioned.withColumn(_TS, epoch_seconds(on) * sign)

    # order: ts, then SIDE (right=0 before left=1 — exact-timestamp
    # right rows must be visible to the left row: the contract is
    # right.ts <= left.ts INCLUSIVE), then tiebreak among right rows
    # (ascending: the greatest wins under running `last`). Putting the
    # tiebreak before SIDE would sort the left row (null tiebreak)
    # ahead of same-instant right rows and silently exclude exact
    # matches; the bucketed path below always used the correct order.
    order = [F.col(_TS), F.col(_SIDE)] + (
        [F.col(tb).asc_nulls_first()] if tb else []
    )

    if time_bucket == "auto":
        # the profile is an eager aggregation over the union: cheap for
        # scan-rooted inputs (column pruning reduces it to (by, ts)),
        # but a lineage containing a Python stage (applyInPandas /
        # mapInPandas feature graphs) cannot be pruned through — the
        # profile would execute the whole Python subtree a second time.
        # For those, skip profiling and take the lazy single-window
        # plan; callers with genuinely hot keys behind Python stages
        # pass an explicit time_bucket.
        if _has_python_stage(unioned):
            time_bucket = None
        else:
            rc = plan_row_count(unioned)
            sz = plan_size_bytes(unioned)
            if rc is not None and rc <= AUTO_TARGET_ROWS_PER_TASK:
                # exact row count (cached/CBO input) under the budget:
                # the hottest key cannot exceed it — skip the profile
                time_bucket = None
            elif sz is not None and sz <= AUTO_PROFILE_MIN_BYTES:
                # provably-small input: skip the eager profile job
                time_bucket = None
            else:
                time_bucket = _auto_bucket(
                    unioned, by, AUTO_TARGET_ROWS_PER_TASK
                )

    fill_cols = list(val_cols) + list(mts.values())
    if time_bucket is None:
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = unioned.select(
            *[c for c in unioned.columns if c not in fill_cols],
            *[F.last(c, ignorenulls=True).over(w).alias(c) for c in fill_cols],
        )
    else:
        filled = _bucketed_fill(unioned, by, order, fill_cols, time_bucket, tb)

    if tol_secs is not None:
        fresh = {
            tag: (F.col(_TS) - F.col(mcol)) <= F.lit(float(tol_secs))
            for tag, mcol in mts.items()
        }
        filled = filled.select(
            *[c for c in filled.columns if c not in val_cols],
            *[
                F.when(fresh[tag], F.col(out_c)).alias(out_c)
                for out_c, (tag, _src) in val_cols.items()
            ],
        )
    out = filled.filter(F.col(_SIDE) == 1).drop(
        _SIDE, _TS, *([tb] if tb else []), *mts.values(), _BUCKET
    )
    return out


def _bucketed_fill(
    unioned: DataFrame,
    by: list[str],
    order: list[Column],
    val_cols: list[str],
    time_bucket: str | float,
    tb: str | None,
) -> DataFrame:
    """Scale path: sort within (key, coarse-time-bucket) partitions.

    Each bucket is seeded with one synthetic row carrying the latest
    right values from ALL prior buckets, so the per-bucket running
    ``last`` is globally correct. The seed computation runs over bucket
    summaries (cardinality keys x buckets), which is tiny relative to
    the data, so the expensive sort parallelizes across buckets.
    """
    secs = duration_to_seconds(time_bucket)
    # NOTE: this relation feeds three subtrees (per-bucket summaries,
    # the bucket list, the final seeded fill) and is deliberately NOT
    # persisted: it is a narrow projection of the sources, and
    # recomputing three cheap scans beats materializing the full union
    # (measured 10.8s vs 17.7s at 20M rows). Contrast with the
    # order-book replay, where the recomputed subtree contains the
    # expensive Python replay and persisting wins.
    unioned = unioned.withColumn(_BUCKET, F.floor(F.col(_TS) / secs))

    # Per (key, bucket): latest NON-NULL value of each feature column
    # inside it (a null ordering key makes max_by skip the row, so left
    # rows and other features' rows don't clobber the summary).
    def last_nonnull(c: str) -> Column:
        order = F.when(
            F.col(c).isNotNull(),
            F.struct(F.col(_TS), *([F.col(tb)] if tb else [])),
        )
        return F.max_by(c, order).alias(c)

    summaries = (
        unioned.filter(F.col(_SIDE) == 0)
        .groupBy(*by, _BUCKET)
        .agg(*[last_nonnull(c) for c in val_cols])
    )
    # Every bucket that contains ANY row needs a seed (a left-only
    # bucket must still see values from earlier buckets).
    buckets = unioned.select(*by, _BUCKET).distinct()
    per_bucket = buckets.join(summaries, on=[*by, _BUCKET], how="left")
    # Carry forward across buckets (small relation), shifted one bucket:
    # seed for bucket b = last non-null at or before end of bucket b-1.
    wb = Window.partitionBy(*by).orderBy(_BUCKET).rowsBetween(Window.unboundedPreceding, -1)
    seeds = per_bucket.select(
        *by,
        F.col(_BUCKET),
        *[F.last(c, ignorenulls=True).over(wb).alias(c) for c in val_cols],
    )
    # Synthetic seed rows sort before everything in their bucket.
    seed_rows = seeds.select(
        *by,
        F.col(_BUCKET),
        (F.col(_BUCKET) * secs).alias(_TS),
        F.lit(-1).alias(_SIDE),
        *[F.col(c) for c in val_cols],
    )
    other_cols = [
        c for c in unioned.columns if c not in val_cols and c not in by and c not in (_BUCKET, _TS, _SIDE)
    ]
    seed_rows = seed_rows.select(
        *seed_rows.columns,
        *[F.lit(None).cast(unioned.schema[c].dataType).alias(c) for c in other_cols],
    )
    full = unioned.unionByName(seed_rows, allowMissingColumns=True)

    worder = [F.col(_TS), F.col(_SIDE)] + ([F.col(tb).asc_nulls_first()] if tb else [])
    w = (
        Window.partitionBy(*by, _BUCKET)
        .orderBy(*worder)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return full.select(
        *[c for c in full.columns if c not in val_cols],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in val_cols],
    )


def lookahead_shift(
    df: DataFrame,
    lookahead: str | float,
    on: str = "timestamp",
    by: list[str] | str | None = None,
    value_cols: list[str] | None = None,
    prefix: str = "label_",
    truncate_tail: bool = True,
) -> DataFrame:
    """Future as-of self-join: for each row, the series value as of
    ``ts + lookahead`` (latest row with ts' <= ts + lookahead).

    Mirrors the reference's label shift (blocks.py:182-202,
    builder.py:193-226), including tail truncation: rows whose shifted
    timestamp falls past the end of the series are dropped, so every
    label is real, never a stale copy.
    """
    if isinstance(by, str):
        by = [by]
    by = by or []
    secs = duration_to_seconds(lookahead)
    value_cols = value_cols or [c for c in df.columns if c != on and c not in by]

    # A right row at ts r matches a left row at ts t iff r <= t + lookahead,
    # i.e. (r - lookahead) <= t: shift the right side BACK by the lookahead.
    # Interval arithmetic keeps microsecond exactness (no double round-trip).
    micros = int(round(secs * 1_000_000))
    shifted = df.select(
        *[F.col(b) for b in by],
        (F.col(on) - F.expr(f"INTERVAL {micros} MICROSECOND")).alias(on),
        *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
    )
    joined = asof_join(
        df,
        shifted,
        on=on,
        by=by,
        right_cols=[f"{prefix}{c}" for c in value_cols],
    )
    if truncate_tail:
        bounds = df.groupBy(*by).agg(F.max(on).alias("__max_ts"))
        if by:
            joined = joined.join(F.broadcast(bounds), on=by, how="inner")
        else:
            joined = joined.crossJoin(F.broadcast(bounds))
        joined = joined.filter(
            F.col(on) + F.expr(f"INTERVAL {micros} MICROSECOND") <= F.col("__max_ts")
        ).drop("__max_ts")
    return joined


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str = "timestamp",
    by: list[str] | str | None = None,
    right_cols: list[str] | None = None,
    prefix: str = "",
    tiebreak: str | None = None,
    tolerance: str | float | None = None,
) -> DataFrame:
    """Nearest-neighbor as-of join (pd.merge_asof direction='nearest'):
    for each left row, the right row minimizing |right.on - left.on|,
    ties preferring the backward (earlier-or-equal) match. Whole-row
    semantics: ONE right row is chosen per left row, and every value
    column comes from it — the candidate rides the window as a single
    STRUCT, so a NULL cell in the matched row stays NULL (a per-column
    fill would silently substitute an older/newer row's value).

    One shuffle, both directions in the same sorted window: running
    ``last(ignorenulls)`` over the candidate struct (unbounded
    preceding -> current: the backward match, same-instant right rows
    included) and ``first(ignorenulls)`` (current -> unbounded
    following: the forward match, strictly-later instants — exact
    matches already belong to the backward side). Distances and the
    tolerance bound are EXACT integer microseconds — a double
    epoch-seconds tie could round the two sides apart and flip the
    pandas tie-break. Duplicate right instants: backward picks the
    GREATEST ``tiebreak``, forward the smallest — both deterministic.

    Scale note: lazy single-window plan (per-key sort). For hot keys
    needing the bucketed path, run the two directional
    `asof_join_multi` passes (both bucket-seeded) and pick driver-side;
    this convenience form covers the common dimension-sized case."""
    if isinstance(by, str):
        by = [by]
    by = by or []
    cols = right_cols or [
        c for c in right.columns if c != on and c not in by and c != tiebreak
    ]
    out_names: dict[str, str] = {}
    for c in cols:
        o = f"{prefix}{c}" if prefix else c
        if o in left.columns or o in out_names.values():
            o = f"{prefix}_{c}" if prefix else f"right_{c}"
        out_names[c] = o

    tb = "__tb" if tiebreak else None
    keep = [c for c in left.columns if c != on and c not in by]
    cand = "__cand"

    def _side(df: DataFrame, side: int) -> DataFrame:
        exprs = [F.col(on).alias(on)]
        exprs += [F.col(b) for b in by]
        exprs.append(F.lit(side).alias(_SIDE))
        for lc in keep:
            exprs.append(
                (F.col(lc) if side == 1 else F.lit(None).cast(left.schema[lc].dataType)).alias(lc)
            )
        # the whole candidate row as one struct: matched instant
        # (exact micros) + every value column
        fields = [F.unix_micros(F.col(on)).alias("__mts")] + [
            F.col(c).alias(out_names[c]) for c in cols
        ]
        if side == 0:
            exprs.append(F.struct(*fields).alias(cand))
        else:
            exprs.append(
                F.lit(None)
                .cast(
                    "struct<__mts:bigint,"
                    + ",".join(
                        f"{out_names[c]}:{right.schema[c].dataType.simpleString()}"
                        for c in cols
                    )
                    + ">"
                )
                .alias(cand)
            )
        if tb:
            exprs.append(
                (F.col(tiebreak).cast("double") if side == 0 else F.lit(None).cast("double")).alias(tb)
            )
        return df.select(*exprs)

    u = _side(left, 1).unionByName(_side(right, 0)).withColumn(
        _TS, F.unix_micros(F.col(on))
    )
    order = [F.col(_TS), F.col(_SIDE)] + ([F.col(tb).asc_nulls_first()] if tb else [])
    wb = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the forward fill is a RUNNING frame over the REVERSED sort, not
    # first() over [currentRow, unboundedFollowing] — Spark re-
    # aggregates growing-to-the-right frames per row (O(rows^2) per
    # key; a 20M-row smoke never finished), while a reversed running
    # last() is one O(rows) pass. Same partitioning -> one exchange,
    # two sorts. Order flips ALL keys: same-instant right rows (side 0)
    # sort AFTER the left row in reverse, staying excluded from the
    # forward candidate set; duplicate-instant forward rows yield the
    # smallest tiebreak, as before.
    rev = [F.col(_TS).desc(), F.col(_SIDE).desc()] + (
        [F.col(tb).desc_nulls_last()] if tb else []
    )
    wf = (
        Window.partitionBy(*by)
        .orderBy(*rev)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        on,
        *by,
        _SIDE,
        _TS,
        *keep,
        F.last(cand, ignorenulls=True).over(wb).alias("__b"),
        F.last(cand, ignorenulls=True).over(wf).alias("__f"),
    ).filter(F.col(_SIDE) == 1)
    bmts = F.col("__b")["__mts"]
    fmts = F.col("__f")["__mts"]
    bdist = F.col(_TS) - bmts
    fdist = fmts - F.col(_TS)
    use_b = bmts.isNotNull() & (fmts.isNull() | (bdist <= fdist))
    dist = F.when(use_b, bdist).otherwise(fdist)
    if tolerance is not None:
        tol_us = int(round(duration_to_seconds(tolerance) * 1_000_000))
        in_tol = dist <= F.lit(tol_us)
    else:
        in_tol = F.lit(True)
    chosen = F.when(in_tol, F.when(use_b, F.col("__b")).otherwise(F.col("__f")))
    sel = [F.col(on), *by, *keep]
    for o in out_names.values():
        sel.append(chosen[o].alias(o))
    return filled.select(*sel)
