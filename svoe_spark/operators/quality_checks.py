"""Declarative data-quality verification: a constraint list compiled
into ONE aggregate pass over the table, returning a per-constraint
report (violations / total / pass_rate / passed).

The shape follows the published Deequ/Great-Expectations model
(Schelter et al., "Automating Large-Scale Data Quality Verification",
VLDB 2018): constraints are declared once, compiled to aggregates, and
verified in a single scan — the only form that works at 100 TB, where
"re-scan the table per rule" is a non-starter. Reference parity: the
reference validates ingested data shape ad hoc in its ingest pipeline
(svoe/featurizer/ — per-source preprocess asserts); this module is the
engine-level generalization of that capability.

Design notes (scale):
- Row-predicate constraints (completeness / in_set / bounds / matches
  / custom) compile to `sum(CASE WHEN violation THEN 1 END)` — all of
  them fold into one map-side-combined aggregate over a single scan,
  no shuffle beyond the final 1-row reduce.
- Uniqueness compiles to `count(distinct col)`; several distinct
  aggregates in one pass cost a Catalyst Expand (scan multiplied by
  #distinct-aggs). That is the right trade for a handful of key
  columns; for wide uniqueness audits run `uniqueness_report` per
  column (two-stage group-count, no Expand) or switch to
  `approx_count_distinct` when an exact answer isn't required.
- Referential integrity is its own scan (child LEFT JOIN distinct
  parent keys — broadcast when the parent's key relation is small,
  which a dimension's always is).

Every constraint carries BOTH a Spark Column predicate and the
identical SQL predicate string, so the DuckDB oracle is code-generated
from the same constraint list the engine runs — the hash match proves
the compiled aggregate pass computes the declared semantics exactly.

Determinism contract: violations / totals / distincts are exact
integers; `pass_rate` is ONE float division over exact integers,
written identically on both sides.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REPORT_COLS = ["check_name", "col_name", "kind", "violations", "total", "pass_rate", "passed"]


@dataclass(frozen=True)
class Constraint:
    """One verifiable rule: `predicate` marks a VIOLATING row (NULL
    handling is resolved inside each constructor so the predicate is
    total — never three-valued at the aggregate)."""

    name: str
    column: str
    kind: str
    # LAZY Column builder (True <=> row violates): constraints are
    # declared at import time (the oracle SQL is built before any
    # SparkSession exists), so the Spark expression must not be
    # constructed until run_checks() compiles the pass.
    predicate: Callable[[], "F.Column"]
    sql_predicate: str  # identical semantics, DuckDB dialect


def completeness(column: str, name: str | None = None) -> Constraint:
    """Violated by NULL values."""
    return Constraint(
        name or f"completeness({column})",
        column,
        "completeness",
        lambda: F.col(column).isNull(),
        f"({column} IS NULL)",
    )


def _lit_sql(v) -> str:
    """Render a Python value as a DuckDB literal. Only numbers and
    strings are supported — anything else (dates, Decimals) must go
    through `custom()` with an explicitly written SQL predicate,
    because Python repr is not a SQL literal for those types."""
    if isinstance(v, bool):
        raise ValueError("boolean constraint literals are not supported")
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float) and not math.isfinite(v):
        # repr(inf/nan) is not a SQL literal — the Spark predicate
        # would accept the bound while the oracle SQL fails to parse
        raise ValueError(
            "non-finite float constraint literals are not supported; use custom()"
        )
    if isinstance(v, (int, float)):
        return repr(v)
    raise ValueError(
        f"unsupported constraint literal {type(v).__name__}; use custom()"
    )


def in_set(column: str, values: list, name: str | None = None) -> Constraint:
    """Violated when the value is NULL or outside `values`."""
    if not values:
        raise ValueError("in_set requires a non-empty value list")

    sql_vals = ", ".join(_lit_sql(v) for v in values)
    return Constraint(
        name or f"in_set({column})",
        column,
        "in_set",
        lambda: ~F.col(column).isin(*values) | F.col(column).isNull(),
        f"({column} IS NULL OR {column} NOT IN ({sql_vals}))",
    )


def bounds(
    column: str,
    lo=None,
    hi=None,
    name: str | None = None,
) -> Constraint:
    """Violated when the value is NULL or outside [lo, hi] (either
    bound may be open)."""
    if lo is None and hi is None:
        raise ValueError("bounds requires at least one of lo/hi")
    sql_parts = [f"{column} IS NULL"]
    if lo is not None:
        sql_parts.append(f"{column} < {_lit_sql(lo)}")
    if hi is not None:
        sql_parts.append(f"{column} > {_lit_sql(hi)}")

    def _pred() -> F.Column:
        pred = F.col(column).isNull()
        if lo is not None:
            pred = pred | (F.col(column) < F.lit(lo))
        if hi is not None:
            pred = pred | (F.col(column) > F.lit(hi))
        return pred

    return Constraint(
        name or f"bounds({column})",
        column,
        "bounds",
        _pred,
        "(" + " OR ".join(sql_parts) + ")",
    )


_RE2_UNSUPPORTED = re.compile(
    # lookaround (?=, (?!, (?<=, (?<!  and numeric backreferences \1..\9
    # — legal Java regex that RE2 (the DuckDB oracle's engine) rejects
    # or treats differently; fail loudly at construction instead of
    # silently diverging between the two engines
    r"\(\?<?[=!]|\\[1-9]"
)


def matches(column: str, pattern: str, name: str | None = None) -> Constraint:
    """Violated when the value is NULL or does not match `pattern`
    (RE2-compatible subset: keep to character classes / anchors /
    quantifiers so Spark's Java regex and DuckDB's RE2 agree;
    lookaround and backreferences are rejected at construction).

    Known over-strictness: backslash-digit sequences are rejected
    ANYWHERE in the pattern, including inside bracket expressions
    (e.g. ``[\\1-\\7]``) where both engines actually agree (octal
    escapes). Deliberate: the check fails LOUDLY at construction
    rather than risking a silent cross-engine divergence; write octal
    classes as explicit characters if you need them."""
    m = _RE2_UNSUPPORTED.search(pattern)
    if m:
        raise ValueError(
            f"matches(): pattern contains {m.group(0)!r}, which RE2 "
            "(the oracle dialect) does not support — Spark and the "
            "oracle would count violations differently; use custom() "
            "with an explicitly dialect-checked predicate"
        )
    sql_pat = pattern.replace("'", "''")
    return Constraint(
        name or f"matches({column})",
        column,
        "matches",
        lambda: F.col(column).isNull() | ~F.col(column).rlike(pattern),
        f"({column} IS NULL OR NOT regexp_matches({column}, '{sql_pat}'))",
    )


def custom(
    name: str,
    column: str,
    predicate: Callable[[], "F.Column"],
    sql_predicate: str,
) -> Constraint:
    """Escape hatch: an arbitrary violation predicate (as a lazy
    builder, like every constructor here). The caller owns making the
    predicate total (coalesce NULLs) and keeping the two dialects
    semantically identical."""
    return Constraint(name, column, "custom", predicate, sql_predicate)


def run_checks(
    df: DataFrame,
    constraints: list[Constraint],
    unique: list[str] | None = None,
) -> DataFrame:
    """Verify all constraints in ONE aggregate pass; `unique` columns
    additionally get an exact-uniqueness check (violations = rows
    minus distinct values; see module docstring for the Expand cost).
    Returns the report relation (REPORT_COLS), one row per check."""
    unique = list(unique or [])
    if not constraints and not unique:
        raise ValueError("run_checks requires at least one constraint")
    if df.isStreaming and unique:
        # exact count(distinct) over a stream needs unbounded value
        # state, which Structured Streaming (correctly) refuses; gate
        # it here with a better message. Streams get the row-predicate
        # constraints (run with outputMode='complete' for the
        # cumulative report); exact uniqueness belongs to the batch
        # pass or the dedup_exact streaming operator.
        raise ValueError(
            "run_checks on a stream does not support unique= "
            "(exact distinct needs unbounded state); drop unique or "
            "run the batch pass"
        )
    aggs = [F.count(F.lit(1)).cast("long").alias("__total")]
    for i, c in enumerate(constraints):
        # coalesce: sum() over an EMPTY table is NULL — an empty table
        # vacuously passes every row predicate (0 violations)
        aggs.append(
            F.coalesce(
                F.sum(F.when(c.predicate(), F.lit(1)).otherwise(F.lit(0))),
                F.lit(0),
            )
            .cast("long")
            .alias(f"__v{i}")
        )
    for j, u in enumerate(unique):
        aggs.append(F.count_distinct(F.col(u)).cast("long").alias(f"__d{j}"))
    row = df.agg(*aggs)

    entries = []
    for i, c in enumerate(constraints):
        entries.append(
            F.struct(
                F.lit(c.name).alias("check_name"),
                F.lit(c.column).alias("col_name"),
                F.lit(c.kind).alias("kind"),
                F.col(f"__v{i}").alias("violations"),
            )
        )
    for j, u in enumerate(unique):
        entries.append(
            F.struct(
                F.lit(f"unique({u})").alias("check_name"),
                F.lit(u).alias("col_name"),
                F.lit("unique").alias("kind"),
                (F.col("__total") - F.col(f"__d{j}")).alias("violations"),
            )
        )
    long = row.select(
        F.col("__total").alias("total"),
        F.explode(F.array(*entries)).alias("__e"),
    ).select("__e.check_name", "__e.col_name", "__e.kind", "__e.violations", "total")
    # total = 0 (empty table): pass_rate is undefined (NULL, not 0/0 —
    # ANSI mode would otherwise throw DIVIDE_BY_ZERO); passed stays
    # True (vacuous)
    rate = F.when(
        F.col("total") > 0,
        (F.col("total") - F.col("violations")) / F.col("total"),
    )
    return long.select(
        "check_name",
        "col_name",
        "kind",
        "violations",
        "total",
        rate.alias("pass_rate"),
        (F.col("violations") == F.lit(0)).alias("passed"),
    )


def run_checks_sql(
    table: str,
    constraints: list[Constraint],
    unique: list[str] | None = None,
) -> str:
    """DuckDB twin of `run_checks` — one aggregate CTE, then one
    report row per check, arithmetic written identically (exact BIGINT
    counts; pass_rate as one DOUBLE division)."""
    unique = list(unique or [])
    aggs = ["CAST(count(*) AS BIGINT) AS __total"]
    for i, c in enumerate(constraints):
        aggs.append(
            f"CAST(coalesce(sum(CASE WHEN {c.sql_predicate} THEN 1 ELSE 0"
            f" END), 0) AS BIGINT) AS __v{i}"
        )
    for j, u in enumerate(unique):
        aggs.append(f"CAST(count(DISTINCT {u}) AS BIGINT) AS __d{j}")
    arms = []
    for i, c in enumerate(constraints):
        nm = c.name.replace("'", "''")
        arms.append(
            f"SELECT '{nm}' AS check_name, '{c.column}' AS col_name,"
            f" '{c.kind}' AS kind, __v{i} AS violations, __total AS total"
            " FROM agg"
        )
    for j, u in enumerate(unique):
        arms.append(
            f"SELECT 'unique({u})' AS check_name, '{u}' AS col_name,"
            f" 'unique' AS kind, __total - __d{j} AS violations,"
            " __total AS total FROM agg"
        )
    body = "\n      UNION ALL\n      ".join(arms)
    return f"""
    WITH agg AS (SELECT {', '.join(aggs)} FROM {table}),
    rows_ AS (
      {body}
    )
    SELECT check_name, col_name, kind, violations, total,
           CASE WHEN total > 0
                THEN CAST(total - violations AS DOUBLE) / total END
             AS pass_rate,
           violations = 0 AS passed
    FROM rows_
    """


def ref_integrity(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    name: str | None = None,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Referential-integrity check: report row counting child rows
    whose `child_col` has no match in the parent's key set (NULL child
    keys violate — a dangling reference and a missing one are both
    integrity failures). The parent side is reduced to its DISTINCT
    keys first; a dimension's key relation broadcasts at any corpus
    scale (pass broadcast_parent=False when the parent key set itself
    is huge and a shuffle join is the honest plan)."""
    check_name = name or f"ref({child_col}->{parent_col})"
    keys = parent.select(F.col(parent_col).alias("__pk")).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    joined = child.select(F.col(child_col).alias("__ck")).join(
        keys, F.col("__ck") == F.col("__pk"), "left"
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.coalesce(
            F.sum(F.when(F.col("__pk").isNull(), F.lit(1)).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("long")
        .alias("violations"),
    ).select(
        F.lit(check_name).alias("check_name"),
        F.lit(child_col).alias("col_name"),
        F.lit("ref_integrity").alias("kind"),
        "violations",
        "total",
        F.when(
            F.col("total") > 0,
            (F.col("total") - F.col("violations")) / F.col("total"),
        ).alias("pass_rate"),
        (F.col("violations") == F.lit(0)).alias("passed"),
    )


def ref_integrity_sql(
    child_table: str,
    child_col: str,
    parent_table: str,
    parent_col: str,
    name: str | None = None,
) -> str:
    """DuckDB twin of `ref_integrity` (same LEFT-JOIN-on-distinct-keys
    shape, same NULL-key-violates semantics)."""
    check_name = (name or f"ref({child_col}->{parent_col})").replace("'", "''")
    return f"""
    SELECT '{check_name}' AS check_name, '{child_col}' AS col_name,
           'ref_integrity' AS kind,
           CAST(coalesce(sum(CASE WHEN pk.__pk IS NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS violations,
           CAST(count(*) AS BIGINT) AS total,
           CASE WHEN count(*) > 0
                THEN CAST(count(*) - coalesce(sum(CASE WHEN pk.__pk IS NULL
                     THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*) END
             AS pass_rate,
           coalesce(sum(CASE WHEN pk.__pk IS NULL THEN 1 ELSE 0 END), 0) = 0
             AS passed
    FROM {child_table} c
    LEFT JOIN (SELECT DISTINCT {parent_col} AS __pk FROM {parent_table}) pk
      ON c.{child_col} = pk.__pk
    """
