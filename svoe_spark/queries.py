"""Query registry: every implemented operator exposed as a named query
over the driver's tables, each paired with an ANSI-SQL DuckDB oracle.

Determinism contract (how these hash-match a different engine):
float ops are IEEE-deterministic given identical inputs and identical
expression trees, so the only nondeterminism in a distributed engine is
floating SUM ordering. Every summed aggregate here therefore runs on
exact integers ("cents": the driver's numeric columns are exact
2-decimal values, amounts/quantities are integers), and the final
floating expression is written identically on both sides. Picks
(min/max/arg-min/arg-max/first/last) are exact by construction and are
tie-broken by `event_id`/primary key, which is monotone in event time.

Integer-overflow headroom: the largest intermediate here is
sum(price_cents * (100-d) * (100+t)) ~ 1.1e11/row — safe in int64 to
~80M rows per group (sf ~10); beyond that, swap the cents columns to
DECIMAL(38) — semantics unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from svoe_spark.functions.time import bucket_start, epoch_seconds
from svoe_spark.operators.asof import asof_join, lookahead_shift
from svoe_spark.operators.sampling import every_nth, sample_by_bucket
from svoe_spark.operators.windows import trailing_window
from svoe_spark.sources.tables import load_table


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> rows-only check
    bench: bool = True  # include in bench.py headline set


QUERIES: dict[str, QueryDef] = {}


def query(name: str, sql: str | None, bench: bool = True):
    def deco(fn):
        QUERIES[name] = QueryDef(fn, sql, bench)
        return fn

    return deco


def _cents(c) -> F.Column:
    return F.round(c * 100, 0).cast("long")


def ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `events` table viewed as a trade-tick stream: `event_type` is
    the instrument key, `value` the price, props.k the traded amount,
    and a BUY/SELL side derived from the event type. Mirrors the
    reference's trades schema (cryptotick_trades.py:8-18).

    Round 10: parsed and persisted once per (session, sf_dir) — the
    `_l2_updates_*`/`_mh_pairs` discipline. ~50 query call sites start
    from this same events scan + JSON qty parse; each used to pay it
    cold. spread() before the parse so the single-file fixture doesn't
    serialize the per-row JSON extract onto a few cores; every
    downstream op shuffles or aggregates by its own keys, so layout is
    result-neutral (the determinism contract already requires
    partition-independent windows)."""
    # lazy import: queries_llm imports from this module at package init
    from svoe_spark.queries_llm import _cached_chain

    def build():
        from svoe_spark.operators.util import spread

        e = spread(load_table(spark, "events", sf_dir))
        return e.select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            _cents(F.col("value")).alias("value_c"),
            F.get_json_object("props", "$.k").cast("long").alias("qty"),
            F.when(
                F.col("event_type").isin("click", "purchase"), F.lit("BUY")
            )
            .otherwise(F.lit("SELL"))
            .alias("side"),
        ).persist()

    return _cached_chain(spark, sf_dir, "ticks", build)


_TICKS_SQL = """
WITH ticks AS (
  SELECT event_id, ts, user_id, event_type, value,
         CAST(round(value*100, 0) AS BIGINT) AS value_c,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS qty,
         CASE WHEN event_type IN ('click','purchase') THEN 'BUY' ELSE 'SELL' END AS side
  FROM events
)
"""


# ---------------------------------------------------------------------------
# Relational core (scans, filters, aggregations, joins, windows, sorts)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(pc) AS BIGINT) / 100.0 AS sum_base_price,
           CAST(SUM(pc * (100 - d100)) AS BIGINT) / 10000.0 AS sum_disc_price,
           CAST(SUM(pc * (100 - d100) * (100 + t100)) AS BIGINT) / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / COUNT(*) AS avg_qty,
           (CAST(SUM(pc) AS BIGINT) / 100.0) / COUNT(*) AS avg_price,
           (CAST(SUM(d100) AS BIGINT) / 100.0) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM (
      SELECT *,
             CAST(round(l_extendedprice*100, 0) AS BIGINT) AS pc,
             CAST(round(l_discount*100, 0) AS BIGINT) AS d100,
             CAST(round(l_tax*100, 0) AS BIGINT) AS t100
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: full-scan grouped aggregation with pushed-down date
    filter (reference has no SQL surface; this covers S1/P3/A-class ops
    and the Spark SQL frontend SURVEY §7.3-10)."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    li = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        _cents(F.col("l_extendedprice")).alias("pc"),
        _cents(F.col("l_discount")).alias("d100"),
        _cents(F.col("l_tax")).alias("t100"),
    )
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        F.sum("pc").alias("s_pc"),
        F.sum(F.col("pc") * (100 - F.col("d100"))).alias("s_disc"),
        F.sum(F.col("pc") * (100 - F.col("d100")) * (100 + F.col("t100"))).alias("s_chg"),
        F.sum("d100").alias("s_d100"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        (F.col("s_pc") / 100.0).alias("sum_base_price"),
        (F.col("s_disc") / 10000.0).alias("sum_disc_price"),
        (F.col("s_chg") / 1000000.0).alias("sum_charge"),
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        ((F.col("s_pc") / 100.0) / F.col("count_order")).alias("avg_price"),
        ((F.col("s_d100") / 100.0) / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


@query(
    "revenue_by_nation",
    """
    SELECT n_name,
           CAST(SUM(pc * (100 - d100)) AS BIGINT) / 10000.0 AS revenue,
           COUNT(*) AS num_items
    FROM (
      SELECT n.n_name,
             CAST(round(l.l_extendedprice*100, 0) AS BIGINT) AS pc,
             CAST(round(l.l_discount*100, 0) AS BIGINT) AS d100
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    )
    GROUP BY n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join. Big-to-big joins (orders x lineitem)
    shuffle on their keys; the dimension tables (nation, region,
    supplier) are explicitly broadcast — no shuffle for them at any
    scale. AQE re-plans the rest at runtime."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    l = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.select(
            "n_name",
            _cents(F.col("l_extendedprice")).alias("pc"),
            _cents(F.col("l_discount")).alias("d100"),
        )
        .groupBy("n_name")
        .agg(
            (F.sum(F.col("pc") * (100 - F.col("d100"))) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("num_items"),
        )
    )


@query(
    "order_priority_count",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped LEFT SEMI join + group count (no join explosion:
    semi join short-circuits on first match)."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, "lineitem", sf_dir)
    j = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return j.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "top_customers_per_nation",
    """
    SELECT n_name, c_name, c_acctbal, rnk
    FROM (
      SELECT n.n_name, c.c_name, c.c_acctbal,
             row_number() OVER (
               PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey
             ) AS rnk
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    WHERE rnk <= 3
    """,
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function (row_number per group, deterministic
    tiebreak) — free-with-Spark coverage noted in SURVEY §2.5."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_name", "c_acctbal", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "part_type_rollup",
    """
    SELECT COALESCE(p_brand, 'ALL') AS brand,
           COALESCE(p_type, 'ALL') AS type,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(round(p_retailprice*100,0) AS BIGINT)) AS BIGINT) / 100.0
             AS total_retail
    FROM part
    GROUP BY ROLLUP (p_brand, p_type)
    """,
)
def part_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate — a capability the reference lacks entirely
    (SURVEY §2.4 note) that Spark provides natively."""
    p = load_table(spark, "part", sf_dir)
    return (
        p.select("p_brand", "p_type", _cents(F.col("p_retailprice")).alias("rc"))
        .rollup("p_brand", "p_type")
        .agg(F.count(F.lit(1)).alias("n_parts"), (F.sum("rc") / 100.0).alias("total_retail"))
        .select(
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            F.coalesce("p_type", F.lit("ALL")).alias("type"),
            "n_parts",
            "total_retail",
        )
    )


@query(
    "customer_order_stats",
    """
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS num_orders,
           COALESCE(CAST(SUM(CAST(round(o.o_totalprice*100,0) AS BIGINT)) AS BIGINT), 0) / 100.0
             AS total_spent,
           COUNT(DISTINCT o.o_orderpriority) AS distinct_priorities
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + distinct aggregate."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).withColumn(
        "tc", _cents(F.col("o_totalprice"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey, c.c_name)
        .agg(
            F.count("o_orderkey").alias("num_orders"),
            (F.coalesce(F.sum("tc"), F.lit(0)) / 100.0).alias("total_spent"),
            F.count_distinct("o_orderpriority").alias("distinct_priorities"),
        )
    )


@query(
    "set_ops_order_keys",
    """
    SELECT o_orderkey, 'high_value_not_urgent' AS category
    FROM (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
      EXCEPT
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    UNION ALL
    SELECT o_orderkey, 'urgent_and_open' AS category
    FROM (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
)
def set_ops_order_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / INTERSECT / EXCEPT coverage (SURVEY §2.7: reference
    only has concat; the rest come free)."""
    o = load_table(spark, "orders", sf_dir)
    high = o.filter(F.col("o_totalprice") > 150000).select("o_orderkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    a = high.exceptAll(urgent).distinct().withColumn(
        "category", F.lit("high_value_not_urgent")
    )
    b = urgent.intersect(open_).withColumn("category", F.lit("urgent_and_open"))
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Feature-engine domain operators over the event stream
# ---------------------------------------------------------------------------


@query(
    "ohlcv_1m",
    _TICKS_SQL
    + """
    SELECT event_type,
           time_bucket(INTERVAL '1 minute', ts) AS window_start,
           arg_min(value, event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, event_id) AS close,
           CAST(SUM(qty) AS BIGINT) AS volume,
           CASE WHEN SUM(qty) <> 0
                THEN CAST(SUM(value_c * qty) AS BIGINT) / (100.0 * CAST(SUM(qty) AS BIGINT))
                ELSE NULL END AS vwap,
           COUNT(*) AS num_trades
    FROM ticks
    GROUP BY event_type, window_start
    """,
)
def ohlcv_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling OHLCV+vwap per instrument (reference A1,
    ohlcv_fd.py:28-101). One partial-aggregated shuffle; open/close are
    arg-picks by event id (monotone with event time)."""
    t = ticks(spark, sf_dir)
    return t.groupBy(
        "event_type", bucket_start("ts", "1m").alias("window_start")
    ).agg(
        F.min_by("value", "event_id").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "event_id").alias("close"),
        F.sum("qty").alias("volume"),
        F.when(
            F.sum("qty") != 0,
            F.sum(F.col("value_c") * F.col("qty")) / (100.0 * F.sum("qty")),
        ).alias("vwap"),
        F.count(F.lit(1)).alias("num_trades"),
    )


@query(
    "volatility_1h",
    _TICKS_SQL
    + """
    SELECT event_id, ts, event_type, value,
           CASE WHEN n > 1
                THEN sqrt((n * sx2 - sx * sx) / (n * (n - 1))) / 100.0
                ELSE NULL END AS volatility
    FROM (
      SELECT event_id, ts, event_type, value,
             COUNT(*) OVER w AS n,
             CAST(SUM(value_c) OVER w AS BIGINT) AS sx,
             CAST(SUM(value_c * value_c) OVER w AS BIGINT) AS sx2
      FROM ticks
      WINDOW w AS (PARTITION BY event_type ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    )
    """,
)
def volatility_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing volatility (reference A2,
    volatility_stddev_fd.py:30-56) via the generic trailing-window
    helper. stddev is computed from exact integer moment sums so the
    result is reproducible to the bit across engines and partitionings."""
    t = ticks(spark, sf_dir)
    w = trailing_window("ts", "1h", by="event_type")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("value_c").over(w)
    sx2 = F.sum(F.col("value_c") * F.col("value_c")).over(w)
    vol = F.when(
        n > 1, F.sqrt((n * sx2 - sx * sx) / (n * (n - 1))) / 100.0
    ).otherwise(F.lit(None))
    return t.select("event_id", "ts", "event_type", "value", vol.alias("volatility"))


@query(
    "tvi_1h",
    _TICKS_SQL
    + """
    SELECT event_id, ts, event_type, side,
           CASE WHEN buy + sell <> 0
                THEN 2.0 * (buy - sell) / (buy + sell)
                ELSE 0.0 END AS tvi
    FROM (
      SELECT event_id, ts, event_type, side,
             CAST(SUM(CASE WHEN side = 'BUY' THEN value_c * qty ELSE 0 END) OVER w AS BIGINT) AS buy,
             CAST(SUM(CASE WHEN side <> 'BUY' THEN value_c * qty ELSE 0 END) OVER w AS BIGINT) AS sell
      FROM ticks
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    )
    """,
)
def tvi_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade-volume-imbalance over trailing notional volume per user
    (reference A3, trade_volume_imb_fd.py:42-117)."""
    t = ticks(spark, sf_dir)
    w = trailing_window("ts", "1h", by="user_id")
    notional = F.col("value_c") * F.col("qty")
    buy = F.sum(F.when(F.col("side") == "BUY", notional).otherwise(F.lit(0))).over(w)
    sell = F.sum(F.when(F.col("side") != "BUY", notional).otherwise(F.lit(0))).over(w)
    tvi_col = F.when(
        (buy + sell) != 0, 2.0 * (buy - sell) / (buy + sell)
    ).otherwise(F.lit(0.0))
    return t.select("event_id", "ts", "event_type", "side", tvi_col.alias("tvi"))


@query(
    "pct_change_1h",
    _TICKS_SQL
    + """
    SELECT event_id, ts, event_type, value,
           CASE WHEN first_v <> 0 THEN (last_v - first_v) / first_v ELSE NULL END AS diff
    FROM (
      SELECT event_id, ts, event_type, value,
             arg_min(value, event_id) OVER w AS first_v,
             arg_max(value, event_id) OVER w AS last_v
      FROM ticks
      WINDOW w AS (PARTITION BY event_type ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    )
    """,
)
def pct_change_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(last-first)/first over the trailing window (reference A4,
    transforms/diff/diff.py:29-64)."""
    t = ticks(spark, sf_dir)
    w = trailing_window("ts", "1h", by="event_type")
    first_v = F.min_by("value", "event_id").over(w)
    last_v = F.max_by("value", "event_id").over(w)
    d = F.when(first_v != 0, (last_v - first_v) / first_v).otherwise(F.lit(None))
    return t.select("event_id", "ts", "event_type", "value", d.alias("diff"))


@query(
    "asof_purchase_view",
    """
    WITH p AS (
      SELECT event_id, ts, user_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts, arg_max(value, event_id) AS last_view_value
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    )
    SELECT p.event_id, p.ts, p.user_id, p.purchase_value, v.last_view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship custom operator (reference J1, blocks.py:212-219):
    backward as-of join — for each purchase, the user's latest prior
    view value. Single-shuffle union+last(ignorenulls) plan."""
    e = load_table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", F.col("value").alias("purchase_value")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("last_view_value"))
    )
    return asof_join(p, v, on="ts", by="user_id", right_cols=["last_view_value"])


@query(
    "asof_purchase_view_bucketed",
    """
    WITH p AS (
      SELECT event_id, ts, user_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts, arg_max(value, event_id) AS last_view_value
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    )
    SELECT p.event_id, p.ts, p.user_id, p.purchase_value, v.last_view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    bench=False,
)
def asof_purchase_view_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of join via the time-bucketed scale path (parallelism =
    keys x buckets instead of keys; hot single instruments no longer
    serialize into one task). Must produce identical results."""
    e = load_table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", F.col("value").alias("purchase_value")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("last_view_value"))
    )
    return asof_join(
        p, v, on="ts", by="user_id", right_cols=["last_view_value"], time_bucket="1d"
    )


@query(
    "lookahead_label_1h",
    """
    WITH e AS (SELECT event_id, ts, event_type, value FROM events),
    s AS (
      SELECT event_type, ts - INTERVAL 1 HOUR AS ts2,
             arg_max(value, event_id) AS label_value
      FROM events GROUP BY event_type, ts
    ),
    m AS (SELECT event_type, max(ts) AS max_ts FROM events GROUP BY event_type)
    SELECT e.event_id, e.ts, e.event_type, e.value, s.label_value
    FROM e
    ASOF LEFT JOIN s ON e.event_type = s.event_type AND e.ts >= s.ts2
    JOIN m ON e.event_type = m.event_type
    WHERE e.ts + INTERVAL 1 HOUR <= m.max_ts
    """,
)
def lookahead_label_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookahead label shift (reference J2, blocks.py:182-202): value of
    the series 1h in the future (backward-matched), tail truncated.

    One as-of pass, not two: `lookahead_shift` labels the deduped
    (event_type, ts) base, and since the base contains EVERY distinct
    event timestamp, re-attaching labels to the full event rows is an
    exact key match — a plain equi-join on (event_type, ts), never a
    second as-of union+window pass (which r1-r3 ran here; measured
    2.6 s -> ~1.7 s at sf0.1)."""
    e = load_table(spark, "events", sf_dir)
    base = e.groupBy("event_type", "ts").agg(
        F.max_by("value", "event_id").alias("value0")
    )
    # carry event rows through: dedup isn't needed for the left side
    left = e.select("event_id", "ts", "event_type", "value")
    shifted = lookahead_shift(
        base, "1h", on="ts", by="event_type", value_cols=["value0"], prefix="label_"
    ).withColumnRenamed("label_value0", "label_value")
    return (
        left.join(shifted.select("event_type", "ts", "label_value"),
                  on=["event_type", "ts"])
        .join(
            F.broadcast(e.groupBy("event_type").agg(F.max("ts").alias("max_ts"))),
            on="event_type",
        )
        .filter(F.col("ts") + F.expr("INTERVAL 1 HOUR") <= F.col("max_ts"))
        .select("event_id", "ts", "event_type", "value", "label_value")
    )


@query(
    "sample_last_1m",
    _TICKS_SQL
    + """
    SELECT event_type,
           time_bucket(INTERVAL '1 minute', ts) AS bucket,
           arg_max(value, event_id) AS value,
           arg_max(event_id, event_id) AS event_id
    FROM ticks
    GROUP BY event_type, bucket
    """,
)
def sample_last_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emission sampling: once per time bucket, last value wins
    (reference T3, l2_snapshot_fd.py:64-77 / stream_utils.py:12-24)."""
    t = ticks(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    out = sample_by_bucket(
        t, on="ts", by="event_type", every="1m", keep="last", tiebreak="event_id"
    )
    return out.select(
        "event_type",
        bucket_start("ts", "1m").alias("bucket"),
        "value",
        "event_id",
    )


@query(
    "every_nth_10",
    """
    SELECT event_id, ts, event_type, value
    FROM (
      SELECT event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
    )
    WHERE (rn - 1) % 10 = 0
    """,
)
def every_nth_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-nth-row decimation per instrument (reference P7,
    df_utils.py:168-169, runner.py:148-164)."""
    e = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % 10 == 0)
        .drop("rn")
    )


@query(
    "token_frequencies",
    """
    SELECT tok, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tok
      FROM documents
    )
    GROUP BY tok
    """,
)
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flat_map/explode (reference P2, operator.py:134-146): token
    inverted-index counts — explode is the UDTF-class op."""
    from svoe_spark.functions.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
    )


@query(
    "composite_events_by_minute",
    """
    SELECT user_id,
           time_bucket(INTERVAL '1 minute', ts) AS bucket,
           COUNT(*) AS n_events,
           array_to_string(list_sort(list(event_type)), ',') AS event_types,
           CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
    FROM events
    GROUP BY user_id, bucket
    HAVING COUNT(*) > 1
    """,
)
def composite_events_by_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event grouping into composite events (reference W5 — grouping
    rows that share a time key into one logical event,
    cryptotick_l2_book_incremental.py:23-26): collect_list + sort.

    The member list is emitted as a comma-joined string (not an array
    column) so any harness that canonicalizes via pandas sort_values —
    which cannot hash list cells — can compare it."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy("user_id", bucket_start("ts", "1m").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(F.sort_array(F.collect_list("event_type")), ",").alias(
                "event_types"
            ),
            (F.sum(_cents(F.col("value"))) / 100.0).alias("total_value"),
        )
        .filter(F.col("n_events") > 1)
    )


@query(
    "combine_latest_vector",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN value END AS view_value,
             CASE WHEN event_type = 'click' THEN value END AS click_value,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events WHERE event_type IN ('view','click','purchase')
    )
    SELECT user_id, ts, event_id,
           last_value(view_value IGNORE NULLS) OVER w AS view_value,
           last_value(click_value IGNORE NULLS) OVER w AS click_value,
           last_value(purchase_value IGNORE NULLS) OVER w AS purchase_value
    FROM tagged
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def combine_latest_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combine_latest (reference J5, feature_stream_graph.py:114-119):
    one row per tick carrying the latest value of every stream — the
    online inference vector."""
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        *[
            F.when(F.col("event_type") == t, F.col("value")).alias(f"{t}_value")
            for t in ("view", "click", "purchase")
        ],
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_seconds("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tagged.select(
        "user_id",
        "ts",
        "event_id",
        *[
            F.last(f"{t}_value", ignorenulls=True).over(w).alias(f"{t}_value")
            for t in ("view", "click", "purchase")
        ],
    )


@query(
    "running_reduce_user",
    """
    SELECT user_id, ts, event_id,
           CAST(SUM(vc) OVER w AS BIGINT) / 100.0 AS running_sum,
           COUNT(*) OVER w AS running_count,
           MAX(value) OVER w AS running_max
    FROM (SELECT user_id, ts, event_id, value,
                 CAST(round(value*100,0) AS BIGINT) AS vc FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def running_reduce_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed running reduce emitting every update (reference A6, v2
    operator.py:171-191), via the combine.running_reduce library op."""
    from svoe_spark.operators.combine import running_reduce

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "value", _cents(F.col("value")).alias("vc")
    )
    out = running_reduce(
        e,
        {
            "running_sum_c": F.sum("vc"),
            "running_count": F.count(F.lit(1)),
            "running_max": F.max("value"),
        },
        on="ts",
        by="user_id",
        tiebreak="event_id",
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("running_sum_c") / 100.0).alias("running_sum"),
        "running_count",
        "running_max",
    )


@query(
    "orders_shipped_within_30d",
    """
    SELECT o.o_orderkey, o.o_orderdate,
           COUNT(*) AS items_shipped_30d,
           CAST(SUM(CAST(round(l.l_extendedprice*100,0) AS BIGINT)) AS BIGINT) / 100.0
             AS value_shipped_30d
    FROM orders o
    JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderkey, o.o_orderdate
    """,
)
def orders_shipped_within_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (reference J4's data-level analogue:
    a.start <= x < a.end band join)."""
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    j = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate < o.o_orderdate + F.expr("INTERVAL 30 DAY")),
    )
    return j.groupBy("o_orderkey", "o_orderdate").agg(
        F.count(F.lit(1)).alias("items_shipped_30d"),
        (F.sum(_cents(F.col("l_extendedprice"))) / 100.0).alias("value_shipped_30d"),
    )


@query(
    "events_content_dedup",
    """
    SELECT user_id, event_type, value, min(event_id) AS keep_event_id,
           COUNT(*) AS n_dupes
    FROM events
    GROUP BY user_id, event_type, value
    HAVING COUNT(*) > 0
    """,
)
def events_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-identity dedup of events (reference F6 content hashing,
    df_utils.py:163-164): group by business content, keep first."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy("user_id", "event_type", "value")
        .agg(F.min("event_id").alias("keep_event_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


@query(
    "sql_frontend_revenue",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT)
                    * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS BIGINT) / CAST(10000 AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def sql_frontend_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark SQL frontend itself (SURVEY §7.3-10: expose SQL over
    registered views) — the query text runs verbatim on both engines."""
    from svoe_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT)
                        * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS BIGINT) / CAST(10000 AS DOUBLE)
                 AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag
        """
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(pc * d100) AS BIGINT) / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM (
      SELECT CAST(round(l_extendedprice*100,0) AS BIGINT) AS pc,
             CAST(round(l_discount*100,0) AS BIGINT) AS d100
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 24
    )
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: selective multi-predicate scan + global aggregate —
    every filter pushes to the parquet reader."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.select(
        (_cents(F.col("l_extendedprice")) * _cents(F.col("l_discount"))).alias("rc")
    ).agg(
        (F.sum("rc") / 10000.0).alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


@query(
    "q12_shipmode_priority",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped conditional-count join (pivot-style CASE sums)."""
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_share",
    """
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN pc * (100 - d100) ELSE 0 END) AS BIGINT)
             / CAST(SUM(pc * (100 - d100)) AS BIGINT) AS promo_revenue_pct
    FROM (
      SELECT p.p_type,
             CAST(round(l.l_extendedprice*100,0) AS BIGINT) AS pc,
             CAST(round(l.l_discount*100,0) AS BIGINT) AS d100
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    )
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share: broadcast dim join +
    conditional ratio of exact integer sums."""
    p = load_table(spark, "part", sf_dir)
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "p_type",
        _cents(F.col("l_extendedprice")).alias("pc"),
        _cents(F.col("l_discount")).alias("d100"),
    )
    disc = F.col("pc") * (100 - F.col("d100"))
    promo = F.sum(F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0)))
    return j.agg(
        (100.0 * promo / F.sum(disc)).alias("promo_revenue_pct")
    )


@query(
    "big_spenders_vs_nation",
    """
    WITH spend AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             CAST(SUM(CAST(round(o.o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS spend_c,
             COUNT(*) AS n_orders
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_name, n.n_name
    )
    SELECT c_custkey, c_name, n_name,
           spend_c / 100.0 AS total_spend,
           nation_avg_c / 100.0 / nation_customers AS nation_avg_spend
    FROM (
      SELECT *,
             CAST(SUM(spend_c) OVER (PARTITION BY n_name) AS BIGINT) AS nation_avg_c,
             COUNT(*) OVER (PARTITION BY n_name) AS nation_customers
      FROM spend
    )
    WHERE spend_c / 100.0 > 2.0 * (nation_avg_c / 100.0 / nation_customers)
    """,
)
def big_spenders_vs_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate semantics (customer spend vs their nation's
    average) — the decorrelated window form Catalyst would itself
    produce for the scalar subquery."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    o = load_table(spark, "orders", sf_dir).withColumn("tc", _cents(F.col("o_totalprice")))
    spend = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("tc").alias("spend_c"), F.count(F.lit(1)).alias("n_orders"))
    )
    wn = Window.partitionBy("n_name")
    spend = spend.withColumn("nation_avg_c", F.sum("spend_c").over(wn)).withColumn(
        "nation_customers", F.count(F.lit(1)).over(wn)
    )
    return spend.filter(
        F.col("spend_c") / 100.0
        > 2.0 * ((F.col("nation_avg_c") / 100.0) / F.col("nation_customers"))
    ).select(
        "c_custkey",
        "c_name",
        "n_name",
        (F.col("spend_c") / 100.0).alias("total_spend"),
        ((F.col("nation_avg_c") / 100.0) / F.col("nation_customers")).alias(
            "nation_avg_spend"
        ),
    )


@query(
    "top_returned_customers",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(round(l.l_extendedprice*100,0) AS BIGINT)
                    * (100 - CAST(round(l.l_discount*100,0) AS BIGINT))) AS BIGINT) / 10000.0
             AS returned_revenue,
           COUNT(*) AS n_returned_items
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY returned_revenue DESC, c_custkey
    LIMIT 20
    """,
)
def top_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: revenue of returned items per customer, top 20
    (global top-k after aggregation; cents-exact ordering with key
    tiebreak keeps the cut deterministic)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    rev = F.sum(
        _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            (rev / 10000.0).alias("returned_revenue"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
        .orderBy(F.col("returned_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "session_windows_30m",
    """
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
    FROM (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, session_id
    """,
)
def session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30min inactivity gap) — the window type the
    reference lacks (SURVEY T4 'session windows free extra'), via
    Spark's native session_window; the oracle derives the same sessions
    with gaps-and-islands SQL."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))) / 100.0).alias("total_value"),
        )
        .drop("w")
    )


def _orderbook_oracle(ev_sql: str, ops_sql: str) -> str:
    """Build the DuckDB oracle for an order-book reconstruction query.

    The book state machine IS SQL-expressible: segment each (symbol,
    side, price) level stream by the running count of full-book events
    (reset boundary), then prefix-fold the ops of each segment with
    `list_reduce` over a {present, size, inconsistencies} state struct
    — absent vs present matters because SUB/SET-0 on a missing level
    counts an inconsistency instead of mutating (reference
    l2_snapshot_fd/utils.py:21-89). Per emitted event, the book is the
    last state of every level in the current segment at or before the
    event's sequence number; depth/best-of-book aggregate over those,
    and the cumulative inconsistency counter is a windowed sum of
    per-op state deltas. ~quadratic in per-segment ops, fine at oracle
    scale; the distributed engine is the production path.
    """
    return f"""
WITH ev AS ({ev_sql}),
app AS (
  SELECT * FROM (
    SELECT *, COUNT(*) FILTER (WHERE event_type='signup')
                OVER (PARTITION BY symbol ORDER BY seq) AS snap_id
    FROM ev)
  WHERE snap_id >= 1
),
ops AS ({ops_sql}),
lvl AS (
  SELECT symbol, snap_id, side, price,
         list(struct_pack(seq := seq, op := op, sz := sz) ORDER BY seq) AS l
  FROM ops GROUP BY 1,2,3,4
),
pf AS (
  SELECT symbol, snap_id, side, price,
         list_extract(l, i).seq AS seq,
         list_reduce(
           list_prepend(
             {{'op': 'INIT', 'sz': 0.0e0, 'present': false, 'v': 0.0e0, 'inc': 0}},
             list_transform(list_slice(l, 1, i),
               o -> {{'op': o.op, 'sz': o.sz, 'present': false, 'v': 0.0e0, 'inc': 0}})),
           (acc, x) -> CASE
             WHEN x.op = 'SNAPSET'
               THEN {{'op': '', 'sz': 0.0e0, 'present': true, 'v': x.sz, 'inc': acc.inc}}
             WHEN x.op = 'ADD'
               THEN {{'op': '', 'sz': 0.0e0, 'present': true,
                     'v': (CASE WHEN acc.present THEN acc.v ELSE 0.0e0 END) + x.sz,
                     'inc': acc.inc}}
             WHEN x.op = 'SET' AND x.sz = 0
               THEN {{'op': '', 'sz': 0.0e0, 'present': false, 'v': 0.0e0,
                     'inc': acc.inc + (CASE WHEN acc.present THEN 0 ELSE 1 END)}}
             WHEN x.op = 'SET'
               THEN {{'op': '', 'sz': 0.0e0, 'present': true, 'v': x.sz, 'inc': acc.inc}}
             WHEN NOT acc.present
               THEN {{'op': '', 'sz': 0.0e0, 'present': false, 'v': 0.0e0, 'inc': acc.inc + 1}}
             WHEN acc.v - x.sz <= 0
               THEN {{'op': '', 'sz': 0.0e0, 'present': false, 'v': 0.0e0, 'inc': acc.inc}}
             ELSE {{'op': '', 'sz': 0.0e0, 'present': true, 'v': acc.v - x.sz, 'inc': acc.inc}}
           END) AS st
  FROM (SELECT *, unnest(generate_series(1, len(l))) AS i FROM lvl)
),
state_at AS (
  SELECT e.symbol, e.seq, p.side, p.price,
         arg_max((p.st).present, p.seq) AS present
  FROM app e JOIN pf p
    ON p.symbol = e.symbol AND p.snap_id = e.snap_id AND p.seq <= e.seq
  GROUP BY 1,2,3,4
),
book AS (
  SELECT symbol, seq,
         CAST(LEAST(COUNT(*) FILTER (WHERE side='bid' AND present), 10) AS INTEGER) AS bid_depth,
         CAST(LEAST(COUNT(*) FILTER (WHERE side='ask' AND present), 10) AS INTEGER) AS ask_depth,
         MAX(price) FILTER (WHERE side='bid' AND present) AS best_bid,
         MIN(price) FILTER (WHERE side='ask' AND present) AS best_ask
  FROM state_at GROUP BY 1,2
),
incs AS (
  SELECT symbol, seq,
         CAST(SUM(delta_sum) OVER (PARTITION BY symbol ORDER BY seq) AS BIGINT)
           AS inconsistencies
  FROM (
    SELECT symbol, seq, SUM(delta) AS delta_sum FROM (
      SELECT symbol, seq,
             (st).inc - COALESCE(LAG((st).inc) OVER (
                   PARTITION BY symbol, snap_id, side, price ORDER BY seq), 0)
               AS delta
      FROM pf)
    GROUP BY symbol, seq)
)
SELECT e.symbol, e.ts, b.best_bid, b.best_ask,
       b.bid_depth, b.ask_depth, i.inconsistencies
FROM app e
JOIN book b ON b.symbol = e.symbol AND b.seq = e.seq
JOIN incs i ON i.symbol = e.symbol AND i.seq = e.seq
"""


_OB_EV = """
  SELECT CAST(user_id AS VARCHAR) AS symbol, ts, event_type,
         value AS v, CAST(json_extract_string(props,'$.k') AS DOUBLE) AS k,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events
"""

_OB_EV_SHARDED = """
  SELECT 'SHARD-' || CAST(user_id % 8 AS VARCHAR) AS symbol, ts, event_type,
         value AS v, CAST(json_extract_string(props,'$.k') AS DOUBLE) AS k,
         ROW_NUMBER() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) AS seq
  FROM events
"""

_OB_OPS_CRYPTOTICK = """
  SELECT symbol, seq, snap_id, u.side, u.price, 'SNAPSET' AS op, u.sz
  FROM app, LATERAL (VALUES ('bid', round(v-1,2), k+1),
                            ('bid', round(v-2,2), k+2),
                            ('ask', round(v+1,2), k+1),
                            ('ask', round(v+2,2), k+2)) AS u(side, price, sz)
  WHERE event_type='signup'
  UNION ALL
  SELECT symbol, seq, snap_id,
         CASE WHEN event_type='click' THEN 'bid' ELSE 'ask' END,
         round(v,2), 'ADD', k+1
  FROM app WHERE event_type IN ('click','view')
  UNION ALL
  SELECT symbol, seq, snap_id, 'bid', round(v,2), 'SET', fmod(k,5)
  FROM app WHERE event_type='purchase'
  UNION ALL
  SELECT symbol, seq, snap_id, 'ask', round(v,2), 'SUB', k+1
  FROM app WHERE event_type='error'
"""

_OB_OPS_CRYPTOFEED = """
  SELECT symbol, seq, snap_id, u.side, u.price, 'SET' AS op, u.sz
  FROM app, LATERAL (VALUES ('bid', round(v-1,2), k+1),
                            ('bid', round(v-2,2), k+2),
                            ('ask', round(v+1,2), k+1),
                            ('ask', round(v+2,2), k+2)) AS u(side, price, sz)
  WHERE event_type='signup'
  UNION ALL
  SELECT symbol, seq, snap_id,
         CASE WHEN event_type='click' THEN 'bid' ELSE 'ask' END,
         round(v,2), 'SET', fmod(k,4)
  FROM app WHERE event_type <> 'signup'
"""


def _l2_updates_cryptotick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-keyed parsed cryptotick update stream — the _mh_pairs
    discipline applied to the order-book family: `orderbook_snapshots`
    and `orderbook_snapshots_bucketed` both start from the SAME events
    scan + JSON parse + order-struct build (synthetic_l2_updates with
    the event_id tie-break), so it is parsed and persisted once per
    (session, sf_dir) via the shared `_cached_chain` memo and each
    engine replays from the cached relation (the auto engine's key
    profile and the bucketed engine's segment/fold passes all hit
    cache too). The cryptofeed dialect builds different orders/flags
    and stays separate."""
    # lazy import: queries_llm imports from this module at package
    # init, so the reuse must dodge the cycle
    from svoe_spark.queries_llm import _cached_chain

    def build():
        from svoe_spark.operators.orderbook import synthetic_l2_updates
        from svoe_spark.operators.util import spread

        # spread BEFORE the parse: the single-file events fixture
        # arrives in a handful of partitions, serializing the per-row
        # JSON extract + struct build onto a few cores (the
        # kmv_vocab_overlap lesson); the replay engines shuffle by
        # symbol afterwards regardless, so layout is result-neutral
        return synthetic_l2_updates(
            spread(load_table(spark, "events", sf_dir)),
            passthrough=("event_id",),
        ).persist()

    return _cached_chain(spark, sf_dir, "l2-updates-cryptotick", build)


def _l2_updates_cryptofeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cryptofeed-dialect twin of `_l2_updates_cryptotick` (round
    10): `reconstruct_book_auto` evaluates its input lineage TWICE —
    once for the per-key dispatch profile, once for the replay — so
    the JSON parse + normalization used to run twice per call. Parsed
    and persisted once per (session, sf_dir); rows identical, so the
    replay (and the oracle hash) is unchanged."""
    from svoe_spark.queries_llm import _cached_chain

    def build():
        from svoe_spark.operators.orderbook import (
            cryptofeed_updates,
            synthetic_cryptofeed_updates,
        )
        from svoe_spark.operators.util import spread

        # spread before the parse — see _l2_updates_cryptotick
        events = spread(load_table(spark, "events", sf_dir))
        return cryptofeed_updates(
            synthetic_cryptofeed_updates(events, passthrough=("event_id",))
        ).persist()

    return _cached_chain(spark, sf_dir, "l2-updates-cryptofeed", build)


@query("orderbook_snapshots", _orderbook_oracle(_OB_EV, _OB_OPS_CRYPTOTICK), bench=True)
def orderbook_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 order-book reconstruction (reference T2, the flagship stateful
    op — l2_snapshot_fd.py:35-106): replays a deterministic update
    stream derived from `events`, emits depth-truncated snapshots.
    Oracle: see `_orderbook_oracle` — the full per-level fold expressed
    in DuckDB SQL (list_reduce prefix states + per-event aggregation),
    hash-exact because all sizes are integer-valued and prices exact
    2-decimal doubles. The pytest suite additionally differential-tests
    the engine against a single-process replay (tests/test_orderbook.py).

    Uses the auto-dispatching engine: a per-key profile selects the
    sequential per-instrument replay here (many cold instruments) and
    would select the time-parallel keys x buckets plan for hot
    instruments — the naive call is 100x-safe either way."""
    from svoe_spark.operators.orderbook import reconstruct_book_auto

    # event_id as seq tie-break: rows with equal (symbol, ts) would make
    # both engine and oracle independently nondeterministic otherwise.
    snaps = reconstruct_book_auto(
        _l2_updates_cryptotick(spark, sf_dir),
        depth=10,
        seq_col="event_id",
    )
    return snaps.select(
        "symbol",
        "ts",
        F.element_at("bids", 1)["price"].alias("best_bid"),
        F.element_at("asks", 1)["price"].alias("best_ask"),
        F.size("bids").alias("bid_depth"),
        F.size("asks").alias("ask_depth"),
        "inconsistencies",
    )


@query(
    "orderbook_snapshots_cryptofeed",
    _orderbook_oracle(_OB_EV, _OB_OPS_CRYPTOFEED),
    bench=True,
)
def orderbook_snapshots_cryptofeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 reconstruction, cryptofeed dialect (reference's second update
    format, l2_snapshot_fd/utils.py:66-89): full-book events reset the
    state, delta events set/delete levels (size 0 = delete; missing
    level = inconsistency). Normalized relationally to FULL/SET and
    replayed by the same engine. Oracle: `_orderbook_oracle` with every
    order running through the SET logic — a full event's levels are SET
    ops in the fresh segment, exactly the reference's reset-then-set;
    additionally differential-tested against a single-process
    transcription of the reference state machine
    (tests/test_orderbook.py)."""
    from svoe_spark.operators.orderbook import reconstruct_book_auto

    snaps = reconstruct_book_auto(
        _l2_updates_cryptofeed(spark, sf_dir), depth=10, seq_col="event_id"
    )
    return snaps.select(
        "symbol",
        "ts",
        F.element_at("bids", 1)["price"].alias("best_bid"),
        F.element_at("asks", 1)["price"].alias("best_ask"),
        F.size("bids").alias("bid_depth"),
        F.size("asks").alias("ask_depth"),
        "inconsistencies",
    )


@query(
    "live_book_features",
    f"""
    SELECT symbol, ts, best_bid, best_ask,
           (best_bid + best_ask) / 2.0 AS mid_price,
           best_ask - best_bid AS spread,
           bid_depth, ask_depth, inconsistencies
    FROM ({_orderbook_oracle(_OB_EV, _OB_OPS_CRYPTOFEED)})
    """,
    bench=False,
)
def live_book_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch shape of the live ingest pipeline (S6): cryptofeed
    dialect -> book reconstruction -> top-of-book feature projection
    (mid price / spread / depths — the reference's A7 scalars read off
    the live book). The SAME projection runs on the streaming leg over
    a TCP NDJSON feed consumed by the socket source
    (streaming/live.py; stream==batch equality in
    tests/test_live_source.py) — this row hash-verifies the shared
    lineage against the SQL book oracle extended with the feature
    expressions."""
    from svoe_spark.operators.orderbook import (
        cryptofeed_updates,
        reconstruct_book_auto,
        synthetic_cryptofeed_updates,
    )
    from svoe_spark.streaming.live import book_feature_stream

    events = load_table(spark, "events", sf_dir)
    updates = cryptofeed_updates(
        synthetic_cryptofeed_updates(events, passthrough=("event_id",))
    )
    return book_feature_stream(
        reconstruct_book_auto(updates, depth=10, seq_col="event_id")
    )


@query(
    "local_extrema",
    """
    SELECT event_id, ts, event_type, value, is_local_min, is_local_max
    FROM (
      SELECT event_id, ts, event_type, value,
             lag(value) OVER w AS pv, lead(value) OVER w AS nv,
             (lag(value) OVER w IS NOT NULL AND lead(value) OVER w IS NOT NULL
              AND value < lag(value) OVER w AND value < lead(value) OVER w) AS is_local_min,
             (lag(value) OVER w IS NOT NULL AND lead(value) OVER w IS NOT NULL
              AND value > lag(value) OVER w AND value > lead(value) OVER w) AS is_local_max
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    """,
)
def local_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-point local min/max (reference W4, buy_low_sell_high.py:28-48)."""
    e = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pv, nv = F.lag("value").over(w), F.lead("value").over(w)
    v = F.col("value")
    return e.select(
        "event_id",
        "ts",
        "event_type",
        "value",
        (pv.isNotNull() & nv.isNotNull() & (v < pv) & (v < nv)).alias("is_local_min"),
        (pv.isNotNull() & nv.isNotNull() & (v > pv) & (v > nv)).alias("is_local_max"),
    )


@query(
    "ewma_final_by_type",
    """
    SELECT event_type,
           list_reduce(list(value ORDER BY ts, event_id),
                       (acc, x) -> acc * 0.75e0 + x * 0.25e0) AS ewma_final,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def ewma_final_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA state per instrument (alpha=0.25): the exact left fold
    e_i = (1-a)*e_{i-1} + a*x_i seeded with the first value — the same
    recursion the Ewma FeatureDefinition and the streaming state machine
    run (reference stateful-accumulate class, SURVEY T1/A6). Expressed
    as array_sort + F.aggregate so the fold's float expression tree is
    IDENTICAL to the DuckDB list_reduce oracle (bit-exact parity).

    Scale note: this query form collects each key's series into one
    array — fine for bounded per-instrument cardinality; the unbounded
    production path is the Ewma FeatureDefinition (the per-key Arrow
    pass, ``per_key_map``) and the fused streaming operator, both
    constant memory per batch."""
    e = load_table(spark, "events", sf_dir)
    g = e.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("__arr"),
        F.count(F.lit(1)).alias("n_events"),
    )
    vals = F.transform(F.col("__arr"), lambda s: s["value"])
    fold = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(0.75) + x * F.lit(0.25),
    )
    return g.select("event_type", fold.alias("ewma_final"), "n_events")


@query(
    "ewma_trend_by_type",
    """
    SELECT event_type, ts,
           list_reduce(l, (acc, x) -> acc * 0.75e0 + x * 0.25e0) AS ewma
    FROM (
      SELECT event_type, ts,
             list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    """,
    bench=True,
)
def ewma_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row EWMA trend (alpha=0.25) over each instrument's price
    series via the Ewma FeatureDefinition (its recursion in the per-key
    Arrow pass, ``per_key_map``).

    Oracle: DuckDB windowed prefix `list()` + `list_reduce` fold — the
    fold `acc*0.75 + x*0.25` is bit-identical to pandas
    `ewm(alpha=0.25, adjust=False)` (both are the same float64
    recursion; verified empirically over 10k random values), and the
    ordering is deterministic because (event_type, ts) is unique in the
    events table (pandas' stable ts-sort and the oracle's
    `ORDER BY ts, event_id` then agree). Exactness is additionally
    covered by the batch==stream Kappa test
    (tests/test_featurizer_stream.py) and the final state by
    `ewma_final_by_type`'s bit-exact oracle."""
    from svoe_spark.plans.definitions import REGISTRY

    e = load_table(spark, "events", sf_dir).select("event_type", "ts", "value")
    return REGISTRY["ewma"].transform(
        {"upstream": e},
        {"value_col": "value", "alpha": 0.25},
        keys=["event_type"],
    )


@query(
    "q3_shipping_priority",
    """
    SELECT o_orderkey, o_orderdate,
           CAST(SUM(pc * (100 - d100)) AS BIGINT) / 10000.0 AS revenue
    FROM (
      SELECT o.o_orderkey, o.o_orderdate,
             CAST(round(l.l_extendedprice*100,0) AS BIGINT) AS pc,
             CAST(round(l.l_discount*100,0) AS BIGINT) AS d100
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    )
    GROUP BY o_orderkey, o_orderdate
    ORDER BY CAST(SUM(pc * (100 - d100)) AS BIGINT) DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: two joins narrowing to a top-10. The customer-segment
    side is a broadcast (dim filter first), orders/lineitem shuffle on
    the order key; the limit is an exact-integer-ordered top-k (rev_c is
    a bigint, ties broken by o_orderkey) so Spark's TakeOrdered and the
    oracle pick identical rows."""
    c = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    l = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            (_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))).alias("rc"),
        )
    )
    g = j.groupBy("o_orderkey", "o_orderdate").agg(F.sum("rc").alias("rev_c"))
    return (
        g.orderBy(F.col("rev_c").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_orderdate", (F.col("rev_c") / 10000.0).alias("revenue"))
    )


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT)
                      * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS BIGINT) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.rev_c / 10000.0 AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_c = (SELECT MAX(rev_c) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: quarterly revenue per supplier, keep the max. The
    'view + scalar subquery' becomes one aggregation reused via an
    unpartitioned window max (exact integer compare, so all engines
    agree on the winner set)."""
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = (
        l.select(
            "l_suppkey",
            (_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))).alias("rc"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("rc").alias("rev_c"))
    )
    top = rev.withColumn("__mx", F.max("rev_c").over(Window.partitionBy())).filter(
        F.col("rev_c") == F.col("__mx")
    )
    s = load_table(spark, "supplier", sf_dir)
    return top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", (F.col("rev_c") / 10000.0).alias("total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    """
    WITH pq AS (
      SELECT l_partkey, SUM(l_quantity) AS sq, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(round(l.l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
             / 100.0 / 7.0 AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < 0.2e0 * (pq.sq / pq.cnt)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated avg-quantity subquery as a self-aggregate
    join. Quantities are integer-valued doubles, so sum/count and the
    0.2x threshold compare identically across engines; the per-part
    aggregate is a map-side-combinable groupBy reused via join (no
    per-row subquery execution)."""
    l = load_table(spark, "lineitem", sf_dir)
    pq = l.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("sq"), F.count(F.lit(1)).alias("cnt")
    )
    p = load_table(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#3")
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pq, l.l_partkey == pq.l_partkey)
        .filter(F.col("l_quantity") < 0.2 * (F.col("sq") / F.col("cnt")))
    )
    return j.agg(
        (F.sum(_cents(F.col("l_extendedprice"))) / 100.0 / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q18_large_volume_customers",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 300 — the IN
    subquery becomes a left-semi join against the quantity aggregate
    (broadcast: the qualifying-key set is tiny by construction)."""
    l = load_table(spark, "lineitem", sf_dir)
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 300)
        .select("l_orderkey")
    )
    o = load_table(spark, "orders", sf_dir).join(
        F.broadcast(big), F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = load_table(spark, "customer", sf_dir)
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
    )


@query(
    "q19_discounted_revenue",
    """
    SELECT CAST(SUM(CAST(round(l.l_extendedprice*100,0) AS BIGINT)
                    * (100 - CAST(round(l.l_discount*100,0) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive (OR-of-ANDs) mixed-table predicate over a
    broadcast part join. Catalyst extracts the common l_quantity bounds
    where possible; the part-side conjuncts prune the broadcast build."""
    p = load_table(spark, "part", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#4") & sz.between(1, 15) & q.between(20, 30))
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).filter(cond)
    return j.agg(
        (
            F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
            / 10000.0
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "orderbook_snapshots_bucketed",
    _orderbook_oracle(_OB_EV_SHARDED, _OB_OPS_CRYPTOTICK),
    bench=True,
)
def orderbook_snapshots_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-parallel order-book reconstruction: identical emissions to
    `orderbook_snapshots` (differential-tested, tests/test_orderbook.py)
    but parallelism = keys x time-buckets via associative segment
    summaries — the scale path when instruments are few or hot. To
    exercise that regime (the sequential form already covers the
    many-instrument case), users shard onto 8 hot shard-instruments
    (`user_id % 8` — portable to the SQL oracle, unlike a hash), each
    carrying a long interleaved history that the sequential engine
    would replay on a single task. Oracle: `_orderbook_oracle` over the
    sharded stream with `event_id` as the equal-timestamp tie-break,
    matching the engine's seq_col sort."""
    from svoe_spark.operators.orderbook import reconstruct_book_bucketed

    updates = _l2_updates_cryptotick(spark, sf_dir).withColumn(
        "symbol",
        F.concat(F.lit("SHARD-"), F.pmod(F.col("symbol").cast("bigint"), F.lit(8))),
    )
    snaps = reconstruct_book_bucketed(
        updates,
        depth=10,
        bucket="3d",
        seq_col="event_id",
    )
    return snaps.select(
        "symbol",
        "ts",
        F.element_at("bids", 1)["price"].alias("best_bid"),
        F.element_at("asks", 1)["price"].alias("best_ask"),
        F.size("bids").alias("bid_depth"),
        F.size("asks").alias("ask_depth"),
        "inconsistencies",
    )


# ---------------------------------------------------------------------------
# TPC-H joins/aggregations, second batch (adapted to the fixture schema:
# no partsupp/commitdate/phone columns exist, so Q9 uses p_retailprice as
# the cost proxy, Q13 filters on o_orderpriority, Q16 counts distinct
# lineitem suppliers, Q22 keys country on c_nationkey)
# ---------------------------------------------------------------------------


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(vc) AS BIGINT) / 10000.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
             CAST(round(l.l_extendedprice*100,0) AS BIGINT)
               * (100 - CAST(round(l.l_discount*100,0) AS BIGINT)) AS vc
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bidirectional nation-pair shipping volume by year. The
    nation dimension broadcasts twice under two aliases; the pair filter
    prunes before the fact-side shuffle."""
    s = load_table(spark, "supplier", sf_dir)
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))).alias("vc"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("vc").alias("vc_sum"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            (F.col("vc_sum") / 10000.0).alias("revenue"),
        )
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           CASE WHEN CAST(SUM(den) AS BIGINT) <> 0
                THEN CAST(CAST(SUM(num) AS BIGINT) AS DOUBLE)
                     / CAST(CAST(SUM(den) AS BIGINT) AS DOUBLE)
                ELSE 0.0 END AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(round(l.l_extendedprice*100,0) AS BIGINT)
               * (100 - CAST(round(l.l_discount*100,0) AS BIGINT)) AS den,
             CASE WHEN n2.n_name = 'NATION_5'
                  THEN CAST(round(l.l_extendedprice*100,0) AS BIGINT)
                       * (100 - CAST(round(l.l_discount*100,0) AS BIGINT))
                  ELSE 0 END AS num
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1997-12-31 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_5 suppliers' share of PROMO-part revenue sold
    into ASIA, by order year. Conditional-sum ratio; both sums stay
    exact integers so the final double division is bit-identical."""
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO")
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rk"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    s = load_table(spark, "supplier", sf_dir)
    vc = (_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    g = (
        j.select(
            F.year("o_orderdate").alias("o_year"),
            vc.alias("den"),
            F.when(F.col("supp_nation") == "NATION_5", vc).otherwise(F.lit(0)).alias("num"),
        )
        .groupBy("o_year")
        .agg(F.sum("num").alias("num_sum"), F.sum("den").alias("den_sum"))
    )
    return g.select(
        "o_year",
        F.when(
            F.col("den_sum") != 0,
            F.col("num_sum").cast("double") / F.col("den_sum").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("mkt_share"),
    )


@query(
    "q9_product_profit",
    """
    SELECT n_name, o_year, CAST(SUM(amt) AS BIGINT) / 10000.0 AS profit
    FROM (
      SELECT n.n_name,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(round(l.l_extendedprice*100,0) AS BIGINT)
               * (100 - CAST(round(l.l_discount*100,0) AS BIGINT))
             - CAST(round(p.p_retailprice*100,0) AS BIGINT)
               * CAST(l.l_quantity AS BIGINT) * 100 AS amt
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%gear%'
    )
    GROUP BY n_name, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (cost proxy: p_retailprice — the fixtures ship no
    partsupp/ps_supplycost): profit per supplier nation per order year
    over parts matching a name pattern. Exercises a LIKE-filtered
    broadcast dim + 4-way fact join."""
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("%gear%"))
    l = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    amt = (
        _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
        - _cents(F.col("p_retailprice")) * F.col("l_quantity").cast("long") * 100
    )
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return (
        j.select("n_name", F.year("o_orderdate").alias("o_year"), amt.alias("amt"))
        .groupBy("n_name", "o_year")
        .agg(F.sum("amt").alias("amt_sum"))
        .select("n_name", "o_year", (F.col("amt_sum") / 10000.0).alias("profit"))
    )


@query(
    "q10_returned_item",
    """
    SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(rev_c AS BIGINT) / 10000.0 AS revenue
    FROM (
      SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
             CAST(SUM(CAST(round(l.l_extendedprice*100,0) AS BIGINT)
                      * (100 - CAST(round(l.l_discount*100,0) AS BIGINT))) AS BIGINT) AS rev_c
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        AND l.l_returnflag = 'R'
      GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    )
    ORDER BY rev_c DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter. Exact-integer ordering key + custkey tie-break keeps the
    top-k deterministic across engines."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    n = load_table(spark, "nation", sf_dir)
    g = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "n_name",
            (_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))).alias("rc"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum("rc").alias("rev_c"))
    )
    return (
        g.orderBy(F.col("rev_c").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "n_name",
            (F.col("rev_c") / 10000.0).alias("revenue"),
        )
    )


@query(
    "q13_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (filter adapted to o_orderpriority — no o_comment in
    the fixtures): customers-per-order-count histogram via left outer
    join preserving zero-order customers, then a double aggregation."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q16_supplier_count",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (over lineitem — no partsupp in the fixtures): distinct
    supplier count per (brand, type, size). Spark plans count-distinct
    as a two-phase expand+partial agg, no driver involvement."""
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q22_global_sales_opportunity",
    """
    WITH pool AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal*100,0) AS BIGINT) AS ac
      FROM customer WHERE c_nationkey IN (1, 3, 5, 7)
    ),
    avg_pos AS (
      SELECT CAST(SUM(ac) AS BIGINT) AS s, COUNT(*) AS n
      FROM pool WHERE ac > 0
    )
    SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           CAST(SUM(ac) AS BIGINT) / 100.0 AS totacctbal
    FROM pool, avg_pos
    WHERE pool.ac * avg_pos.n > avg_pos.s
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = pool.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (country code = c_nationkey — no c_phone in the
    fixtures): wealthy customers per country with no orders since
    2000-01-01. The average
    compares as an exact cross-multiplied integer (ac*n > s, never a
    float mean); the no-orders condition is a left-anti join."""
    pool = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_nationkey").isin(1, 3, 5, 7))
        .select(
            "c_custkey",
            "c_nationkey",
            _cents(F.col("c_acctbal")).alias("ac"),
        )
    )
    avg_pos = pool.filter(F.col("ac") > 0).agg(
        F.sum("ac").alias("s"), F.count(F.lit(1)).alias("n")
    )
    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    rich = (
        pool.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("ac") * F.col("n") > F.col("s"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
    )
    return (
        rich.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), F.sum("ac").alias("ac_sum"))
        .select(
            F.col("c_nationkey").alias("cntrycode"),
            "numcust",
            (F.col("ac_sum") / 100.0).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Grid resampling, multidimensional aggregates, ranking, exact median
# ---------------------------------------------------------------------------


@query(
    "resample_1h_ffill",
    _TICKS_SQL
    + """
    , d AS (
      SELECT event_type, ts, arg_max(value, event_id) AS value
      FROM ticks GROUP BY event_type, ts
    ),
    b AS (
      SELECT event_type, date_trunc('hour', MIN(ts)) AS mn, MAX(ts) AS mx
      FROM d GROUP BY event_type
    ),
    g AS (
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 3600 SECOND)) AS ts
      FROM b
    )
    SELECT g.event_type, g.ts, d.value
    FROM g ASOF LEFT JOIN d
      ON g.event_type = d.event_type AND g.ts >= d.ts
    """,
)
def resample_1h_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly grid per instrument with last-observation-
    carried-forward (operators/resample.py): the regular-rate series a
    training pipeline joins features on. Grid bounds come from one tiny
    per-key agg; the fill is the library as-of join (one shuffle).
    Duplicate-ts rows collapse by greatest event_id first so the
    forward-fill is deterministic on both engines."""
    from svoe_spark.operators.resample import resample_ffill

    t = ticks(spark, sf_dir)
    d = t.groupBy("event_type", "ts").agg(
        F.max_by("value", "event_id").alias("value")
    )
    return resample_ffill(
        d, on="ts", by="event_type", every="1h", value_cols=["value"]
    )


@query(
    "cube_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(pc) AS BIGINT) / 100.0 AS gross,
           COUNT(*) AS n_items
    FROM (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_extendedprice*100,0) AS BIGINT) AS pc
      FROM lineitem
    )
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping levels in
    one pass via Expand — grand total, both margins, and the full
    cross, identical null-marker semantics to the oracle. (SURVEY
    §2.4: the reference has no multidim aggregates; Spark natively.)"""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        "l_linestatus",
        _cents(F.col("l_extendedprice")).alias("pc"),
    )
    return li.cube("l_returnflag", "l_linestatus").agg(
        (F.sum("pc") / 100.0).alias("gross"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "supplier_balance_ranks",
    """
    SELECT s_nationkey, s_suppkey, s_acctbal,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def supplier_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking analytics per nation (rank / dense_rank / ntile). Ties
    broken by supplier key so every engine assigns identical row order.
    (SURVEY §2.5: ranking functions absent in the reference, native
    here — one hash shuffle on the partition key, in-partition sort.)"""
    s = load_table(spark, "supplier", sf_dir)
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), "s_suppkey"
    )
    return s.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "median_order_value",
    """
    WITH o AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice*100,0) AS BIGINT) AS c
      FROM orders
    ),
    r AS (
      SELECT o_orderpriority, c,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY c) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM o
    )
    SELECT o_orderpriority,
           (CAST(SUM(c) AS DOUBLE) / COUNT(*)) / 100.0 AS median_value
    FROM r
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY o_orderpriority
    """,
)
def median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed median per group — a holistic aggregate
    computed without any single-node sort: rank within group, keep the
    middle one/two rows, average them. All arithmetic on exact cents
    until the final division, so it hash-matches across engines (a
    percentile_cont call would not: interpolation trees differ)."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderpriority", _cents(F.col("o_totalprice")).alias("c")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("c")
    r = o.select(
        "o_orderpriority",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("o_orderpriority")
        ).alias("n"),
    )
    mid = r.filter(
        (F.col("rn") == F.expr("(n + 1) div 2")) | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return mid.groupBy("o_orderpriority").agg(
        ((F.sum("c").cast("double") / F.count(F.lit(1))) / 100.0).alias("median_value")
    )


from svoe_spark.operators.sketches import (  # noqa: E402
    HLLParams,
    hll_build,
    hll_estimate,
    hll_sql,
)

_HLL_USERS = HLLParams(p=9)
# gate for the sketch-resident estimate tail of approx_distinct_daily:
# the register relation is <= days x m rows whatever the event volume;
# 0 forces the relational cascade (tests pin bit-identity across both)
_HLL_DRIVER_ROWS = 1 << 20


def _hll_daily_driver_rel(spark, pdf, params):
    """In-process twin of approx_distinct_daily's estimate tail over
    the pulled register relation (day, bucket, rho): per-day estimate
    + zero_registers and the running-union re-estimate, as the
    IDENTICAL IEEE operations the relational form performs. Returns a
    tiny (days)-row DataFrame."""
    import pandas as pd
    from pyspark.sql import types as T

    m = params.m
    lc = params.lc_table()

    def est(rhos: dict) -> tuple[float, int]:
        # rhos: bucket -> register (max rho); absent buckets are zero
        # registers contributing 2^62 each to the mass. Exact int sum;
        # float(S) rounds to nearest like Decimal(38,0) -> double.
        s = sum(1 << (62 - r) for r in rhos.values())
        s += (m - len(rhos)) * (1 << 62)
        raw = params.numerator / float(s)
        zr = m - len(rhos)
        if zr > 0 and raw <= params.lc_threshold:
            return lc[zr - 1], zr
        return raw, zr

    by_day: dict = {}
    for day, bucket, rho in pdf.itertuples(index=False):
        by_day.setdefault(day, {})[int(bucket)] = int(rho)
    rows = []
    running: dict = {}
    for day in sorted(by_day):
        e_d, zr = est(by_day[day])
        for b, r in by_day[day].items():
            if r > running.get(b, -1):
                running[b] = r
        e_c, _ = est(running)
        rows.append((day, e_d, zr, e_c))
    schema = T.StructType(
        [
            T.StructField("day", T.StringType()),
            T.StructField("est_users", T.DoubleType()),
            T.StructField("zero_registers", T.IntegerType()),
            T.StructField("est_users_to_date", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["day", "est_users", "zero_registers",
                     "est_users_to_date"],
        ),
        schema=schema,
    )


@query(
    "approx_distinct_daily",
    f"""
    WITH {hll_sql('events', 'user_id', _HLL_USERS,
                  group_expr="strftime(ts, '%Y-%m-%d')",
                  out='est_users', correct_small=True)},
    days AS (SELECT DISTINCT g AS day FROM hll_reg),
    cum_reg AS (
      SELECT d.day, r.bucket, max(r.rho) AS rho
      FROM days d JOIN hll_reg r ON r.g <= d.day
      GROUP BY d.day, r.bucket
    ),
    cum_raw AS (
      SELECT day,
             {_HLL_USERS.numerator!r} / CAST(
               sum(CAST(1 AS BIGINT) << (62 - rho))
               + ({_HLL_USERS.m} - count(*)) * CAST(1 AS HUGEINT)
                 * (CAST(1 AS BIGINT) << 62)
               AS DOUBLE) AS raw,
             CAST({_HLL_USERS.m} - count(*) AS INTEGER) AS zr
      FROM cum_reg GROUP BY day
    ),
    cum_est AS (
      SELECT day,
             CASE WHEN zr > 0 AND raw <= {_HLL_USERS.lc_threshold!r}
                  THEN list_extract(lcs, zr) ELSE raw END AS est_users_to_date
      FROM cum_raw CROSS JOIN hll_lc
    ),
    tru AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
            FROM events GROUP BY 1)
    SELECT t.day, h.est_users, h.zero_registers, t.exact_users,
           c.est_users_to_date
    FROM hll_est h JOIN tru t ON h.g = t.day JOIN cum_est c ON c.day = t.day
    """,
)
def approx_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per day via MERGEABLE relational HLL
    sketches (operators/sketches.py) — the 100 TB cardinality pattern:
    each partition contributes partial register maxima (constant-size
    state), registers merge associatively, and nothing holistic crosses
    the shuffle. est_users_to_date demonstrates the merge property as a
    RUNNING UNION: day D's registers are the register-wise max of every
    day <= D, re-estimated — a days x m sketch-sized join, independent
    of data volume (estimates are exactly monotone within a regime: the
    register mass only grows and zero registers only fill; on these
    fixtures the series never crosses the LC/raw switch). p=9 (m=512,
    sigma ~4.6% large-range) with the SMALL-RANGE CORRECTION
    (correct_small): when zero registers remain and the raw estimate is
    <= 2.5m, linear counting m*ln(m/V) replaces it — the LC values are
    m Python-computed literals (HLLParams.lc_table) shared verbatim by
    both engines, because ln()'s last ulp is engine-specific while a
    literal is not. Deterministic end-to-end, so the DuckDB oracle
    reproduces every estimate bit-for-bit — unlike engine-native HLLs
    (Spark's hll_sketch_agg / approx_count_distinct), whose HLL++
    internals are implementation-defined; the native forms live in
    tests/test_window_ops.py::test_native_hll_matches_relational as the
    documented example. exact_users is computed alongside so the
    error-bound test is self-contained."""
    e = load_table(spark, "events", sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    # persisted: the sketch relation (<= m rows/day whatever the data
    # volume) feeds the per-day estimate, the day axis, AND the running
    # union — one events scan builds all three subtrees
    reg = hll_build(e, "user_id", _HLL_USERS, group_cols=["day"]).persist()
    tru = e.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    # Sketch-resident estimate tail (round 11, the kmv_set_ops tier
    # precedent): the persisted register relation is bounded at
    # days x m rows by construction, so at or under _HLL_DRIVER_ROWS
    # (count probe doubles as the materialization the first consumer
    # paid anyway) with non-NULL keys, one Arrow pull computes every
    # per-day AND running-union estimate in-process — the register
    # mass is an exact Python int, float(S) and Decimal(38,0)->double
    # both round to nearest, the numerator/LC literals are the very
    # Python floats the relational literals are built from, and the
    # one division is the identical IEEE op, so results equal the
    # relational cascade bit for bit (pinned by
    # test_hll_driver_tail_matches_relational). The exact-count leg —
    # the query's error-bound contract — stays relational either way.
    if 0 < reg.count() <= _HLL_DRIVER_ROWS:
        pdf = reg.toPandas()
        if not pdf.isna().any().any():
            # the register cache served its two reads (count probe +
            # Arrow pull); the returned plan no longer references it
            reg.unpersist()
            out = _hll_daily_driver_rel(spark, pdf, _HLL_USERS)
            return tru.join(F.broadcast(out), "day").select(
                "day", "est_users", "zero_registers", "exact_users",
                "est_users_to_date",
            )
    est = hll_estimate(
        reg, _HLL_USERS, group_cols=["day"], out="est_users",
        correct_small=True,
    )
    days = reg.select("day").distinct()
    cum_reg = (
        days.withColumnRenamed("day", "__d")
        .join(F.broadcast(reg), F.col("day") <= F.col("__d"))
        .groupBy(F.col("__d").alias("day"), "bucket")
        .agg(F.max("rho").cast("int").alias("rho"))
    )
    cum = hll_estimate(
        cum_reg, _HLL_USERS, group_cols=["day"], out="est_users_to_date",
        correct_small=True,
    ).drop("zero_registers")
    return (
        est.join(tru, "day")
        .join(F.broadcast(cum), "day")
        .select(
            "day", "est_users", "zero_registers", "exact_users",
            "est_users_to_date",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H batch 3: the remaining plan shapes — correlated-min subquery (Q2),
# global-scalar HAVING (Q11), nested semi-join chain (Q20), and the
# EXISTS/NOT-EXISTS double self-join (Q21) rewritten as one aggregation.
# partsupp does not exist in the fixtures; lineitem plays its role.
# ---------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    """
    WITH cand AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(round(l.l_extendedprice*100,0) AS BIGINT) AS pc,
             CAST(l.l_quantity AS BIGINT) AS qty
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 15)
    ),
    best AS (
      SELECT l_partkey, l_suppkey,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY CAST(pc AS DOUBLE)/qty, l_suppkey) AS rn
      FROM cand
    )
    SELECT p.p_partkey, p.p_type, s.s_name, n.n_name, s.s_acctbal
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE b.rn = 1
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part; unit price from
    lineitem since the fixtures have no partsupp). The correlated
    MIN subquery becomes a row_number window partitioned by part —
    but only AFTER the broadcast semi-filter on part prunes the fact
    table ~50x, so the window shuffle carries 2% of lineitem. Ties
    broken by (unit_price, suppkey): exact and engine-independent
    (identical IEEE division of identical exact ints on both sides)."""
    p = load_table(spark, "part", sf_dir).filter(F.col("p_size") == 15)
    l = load_table(spark, "lineitem", sf_dir)
    cand = l.join(
        F.broadcast(p.select("p_partkey")),
        l.l_partkey == F.col("p_partkey"),
        "left_semi",
    ).select(
        "l_partkey",
        "l_suppkey",
        _cents(F.col("l_extendedprice")).alias("pc"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        (F.col("pc").cast("double") / F.col("qty")).asc(), F.col("l_suppkey").asc()
    )
    best = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("p_partkey", "p_type", "s_name", "n_name", "s_acctbal")
    )


@query(
    "q11_valuable_parts",
    """
    WITH v AS (
      SELECT l.l_partkey AS p_partkey,
             CAST(SUM(CAST(round(l.l_extendedprice*100,0) AS BIGINT)
                      * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS val_c
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey IN (1, 2, 3)
      GROUP BY l.l_partkey
    ),
    t AS (SELECT CAST(SUM(val_c) AS BIGINT) AS total FROM v)
    SELECT v.p_partkey, v.val_c / 100.0 AS part_value
    FROM v, t
    WHERE v.val_c * 1000 > t.total
    """,
)
def q11_valuable_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value filtered against a
    fraction of the GLOBAL total. The global scalar is its own tiny
    aggregate crossJoin-broadcast back onto the grouped rows — no
    second pass over the fact table, no single-partition shuffle of
    the grouped set. The comparison cross-multiplies in int64
    (val*1000 > total) so no float threshold is involved."""
    s = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_nationkey").isin(1, 2, 3)
    )
    l = load_table(spark, "lineitem", sf_dir)
    v = (
        l.join(F.broadcast(s.select("s_suppkey")), l.l_suppkey == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (_cents(F.col("l_extendedprice")) * F.col("l_quantity").cast("long")).alias(
                "x"
            ),
        )
        .groupBy("p_partkey")
        .agg(F.sum("x").alias("val_c"))
    )
    total = v.agg(F.sum("val_c").alias("total"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("val_c") * 1000 > F.col("total"))
        .select("p_partkey", (F.col("val_c") / 100.0).alias("part_value"))
    )


@query(
    "q20_part_promotion_suppliers",
    """
    WITH heavy AS (
      SELECT l_suppkey
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 60
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
)
def q20_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain. Evaluation order is the
    scale-critical choice: date filter (parquet-pushed) -> broadcast
    semi on the part subset -> partial-agg HAVING -> the resulting
    supplier set is tiny, so IT is broadcast into the supplier scan as
    a semi join. The fact table is touched once, never shuffled wider
    than (suppkey, partkey) partial sums."""
    part_sub = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    heavy = (
        l.join(F.broadcast(part_sub), l.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"))
        .filter(F.col("sq") > 60)
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        s.join(F.broadcast(heavy), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", "n_name")
    )


@query(
    "q21_waiting_supplier",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
    GROUP BY s.s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (commit/receipt dates proxied by shipdate >
    orderdate+45d). The classic formulation self-joins the fact table
    twice (EXISTS + NOT EXISTS) — three wide shuffles. Rewritten here
    as ONE aggregation per order: supplier_count > 1 AND
    late_supplier_count == 1 identifies orders held up by exactly one
    supplier; that supplier's late-line count is the Q21 contribution.
    One shuffle on l_orderkey plus a tiny supplier-level agg — the
    1x-vs-3x fact-shuffle rewrite that matters at 100 TB. The oracle
    runs the classic EXISTS form, proving equivalence."""
    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = l.join(o, l.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
        ).cast("long"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
        F.sum("is_late").alias("late_lines"),
    )
    s = load_table(spark, "supplier", sf_dir)
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy("late_supp")
        .agg(F.sum("late_lines").alias("numwait"))
        .join(F.broadcast(s), F.col("late_supp") == s.s_suppkey)
        .select("s_name", F.col("numwait").cast("long").alias("numwait"))
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (commit/receipt lateness proxied by shipdate >
    orderdate+45d, the same proxy as q21 — this fixture's lineitem has
    no commit/receipt dates). The EXISTS becomes a LEFT SEMI join with
    the lateness predicate in the join condition, so the fact table is
    touched once and only the quarter's orders shuffle; the count per
    priority is a 5-group aggregate."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 45 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(round(l.l_extendedprice*100,0) AS BIGINT)
                    * (100 - CAST(round(l.l_discount*100,0) AS BIGINT)))
                AS BIGINT) / 10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: the six-table local-supplier-volume join. Plan shape
    for scale: region->nation is folded driver-free into one broadcast
    dim (nation keys of the region), customer and supplier broadcast
    with their nationkeys, and the only wide shuffle is
    orders><lineitem on the order key; the c_nationkey = s_nationkey
    'local' constraint is a post-join filter on two small attached
    columns. Revenue uses the exact-cents pattern so the 5-row result
    hashes identically on both engines."""
    asia_nations = (
        load_table(spark, "nation", sf_dir)
        .join(
            F.broadcast(
                load_table(spark, "region", sf_dir).filter(
                    F.col("r_name") == "ASIA"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    s = (
        load_table(spark, "supplier", sf_dir)
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .select(
            "n_name",
            (
                _cents(F.col("l_extendedprice"))
                * (100 - _cents(F.col("l_discount")))
            ).alias("rc"),
        )
    )
    return j.groupBy("n_name").agg(
        (F.sum("rc") / 10000.0).alias("revenue")
    )


@query(
    "distinct_until_changed_events",
    """
    WITH w AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, ts, event_type FROM w
    WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    """,
)
def distinct_until_changed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-emission dedup (reference `unique(maxsize=1)`,
    l2_snapshot_fd.py:64-77): per user, keep an event only when its
    type differs from the previous emission."""
    from svoe_spark.operators.sampling import distinct_until_changed

    e = load_table(spark, "events", sf_dir)
    out = distinct_until_changed(
        e, ["event_type"], key="user_id", on="ts", tie_col="event_id"
    )
    return out.select("user_id", "ts", "event_type")


@query(
    "asof_multi_feature",
    """
    WITH p AS (
      SELECT event_id, ts, user_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts, arg_max(value, event_id) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    c AS (
      SELECT user_id, ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    s AS (
      SELECT user_id, ts, arg_max(value, event_id) AS signup_value
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
    )
    SELECT p.event_id, p.ts, p.user_id, p.purchase_value,
           v.view_value, c.click_value, s.signup_value
    FROM p
    ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def asof_multi_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way point-in-time join (reference J1's true shape: the
    FeatureLabelSet is a CHAIN of merge_asofs, blocks.py:212-219) in
    ONE shuffle: all three feature series union with the label series
    and fill via running last(ignorenulls) — vs the oracle's three
    sequential ASOF joins (three passes)."""
    from svoe_spark.operators.asof import asof_join_multi

    e = load_table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", F.col("value").alias("purchase_value")
    )

    def series(etype: str, out: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .groupBy("user_id", "ts")
            .agg(F.max_by("value", "event_id").alias(out))
        )

    return asof_join_multi(
        p,
        {"": series("view", "view_value"),
         "c": series("click", "click_value"),
         "s": series("signup", "signup_value")},
        on="ts",
        by="user_id",
        right_cols={"": ["view_value"], "c": ["click_value"], "s": ["signup_value"]},
    ).select(
        "event_id", "ts", "user_id", "purchase_value",
        "view_value",
        F.col("cclick_value").alias("click_value"),
        F.col("ssignup_value").alias("signup_value"),
    )


@query(
    "unpivot_lineitem_measures",
    """
    WITH long AS (
      SELECT l_returnflag, 'l_quantity' AS measure,
             CAST(round(l_quantity*100, 0) AS BIGINT) AS value_c FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice',
             CAST(round(l_extendedprice*100, 0) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount',
             CAST(round(l_discount*100, 0) AS BIGINT) FROM lineitem
    )
    SELECT l_returnflag, measure, count(*) AS n,
           CAST(sum(value_c) AS BIGINT) AS sum_c
    FROM long GROUP BY l_returnflag, measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape with the native unpivot operator (an Expand
    node: no join, no shuffle beyond the final agg) — the melt step
    feeding any long-format feature store."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        *[
            _cents(F.col(c)).alias(c)
            for c in ("l_quantity", "l_extendedprice", "l_discount")
        ],
    )
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value_c",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("sum_c")
    )


@query(
    "pivot_priority_by_year",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium
    FROM orders
    GROUP BY year(o_orderdate)
    """,
)
def pivot_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide reshape with the native pivot operator (map-side
    partial agg per pivot value; explicit value list avoids the extra
    distinct-values job)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.withColumn("order_year", F.year("o_orderdate").cast("long"))
        .groupBy("order_year")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .agg(F.count(F.lit(1)))
        .select(
            "order_year",
            F.coalesce(F.col("1-URGENT"), F.lit(0)).alias("urgent"),
            F.coalesce(F.col("2-HIGH"), F.lit(0)).alias("high"),
            F.coalesce(F.col("3-MEDIUM"), F.lit(0)).alias("medium"),
        )
    )


# (config_id, initial_balance_cents, commission*1024, position_size)
# for the ORACLED buy_low_sell_high grid: dyadic commissions (k/1024),
# integer-cent prices, and a wallet deep enough that the BALANCE gate
# never binds (b0 = 10^12 cents vs a worst-case inventory drawdown of
# n*px_max*q ~ 2e9*1029/1024 at sf0.1 — four orders of headroom; every
# balance double stays an exact multiple of 2^-10 below 2^53/1024).
# The POSITION gate (sell only when position >= size) DOES bind — that
# is the sequential part the oracle reproduces in closed form.
_GRID_BLSH = [(0, 10**12, 0, 1), (1, 10**12, 1, 1), (2, 10**12, 1, 2),
              (3, 10**12, 5, 1)]


@query(
    "backtest_param_grid",
    _TICKS_SQL
    + f""",
    cfg(config_id, b0, comm_k, q) AS (
      VALUES {", ".join(f"({c}, {b}, {ck}, {q})" for c, b, ck, q in _GRID_BLSH)}
    ),
    r AS (
      SELECT event_type AS symbol, CAST(value_c AS BIGINT) AS px,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM ticks
    ),
    s AS (
      SELECT symbol, rn, px,
             CASE WHEN px < lag(px) OVER w AND px < lead(px) OVER w THEN 1
                  WHEN px > lag(px) OVER w AND px > lead(px) OVER w THEN -1
                  ELSE 0 END AS sig
      FROM r WINDOW w AS (PARTITION BY symbol ORDER BY rn)
    ),
    walk AS (
      SELECT symbol, rn, px, sig,
             SUM(sig) OVER (PARTITION BY symbol ORDER BY rn) AS ps
      FROM s
    ),
    fills AS (
      SELECT symbol, rn, px, sig, ps,
             LEAST(0, MIN(ps) OVER (PARTITION BY symbol ORDER BY rn)) AS m,
             LEAST(0, COALESCE(MIN(ps) OVER (
               PARTITION BY symbol ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS mp
      FROM walk
    ),
    lastrow AS (
      SELECT symbol, px AS last_px, ps - m AS end_pos FROM fills
      QUALIFY row_number() OVER (PARTITION BY symbol ORDER BY rn DESC) = 1
    ),
    agg AS (
      SELECT f.symbol, cfg.config_id, cfg.b0, cfg.comm_k, cfg.q,
             count(*) AS n,
             SUM(CASE WHEN f.sig = 1 THEN 1
                      WHEN f.sig = -1 AND f.m = f.mp THEN 1
                      ELSE 0 END) AS n_fills,
             SUM(CASE WHEN f.sig = 1
                      THEN -(f.px*cfg.q*1024 + f.px*cfg.q*cfg.comm_k)
                      WHEN f.sig = -1 AND f.m = f.mp
                      THEN  (f.px*cfg.q*1024 - f.px*cfg.q*cfg.comm_k)
                      ELSE 0 END) AS dbal_k,
             SUM(CASE WHEN f.sig = 1 OR (f.sig = -1 AND f.m = f.mp)
                      THEN f.px*cfg.q*cfg.comm_k ELSE 0 END) AS comm_k_sum
      FROM fills f CROSS JOIN cfg
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT a.config_id,
           CAST(a.b0 AS DOUBLE) AS initial_balance,
           CAST(a.comm_k AS DOUBLE) / 1024.0 AS commission,
           CAST(a.q AS DOUBLE) AS position_size,
           a.symbol,
           CAST(a.n AS BIGINT) AS n_events,
           CAST(a.n_fills AS BIGINT) AS n_trades,
           CAST(a.b0 * 1024 + a.dbal_k AS DOUBLE) / 1024.0 AS final_balance,
           CAST(l.end_pos * a.q AS DOUBLE) AS final_position,
           CAST(a.b0 * 1024 + a.dbal_k
                + l.end_pos * a.q * l.last_px * 1024 AS DOUBLE) / 1024.0
             AS final_equity,
           CAST(a.comm_k_sum AS DOUBLE) / 1024.0 AS total_commission
    FROM agg a JOIN lastrow l ON l.symbol = a.symbol
    """,
    bench=False,
)
def backtest_param_grid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed strategy-parameter sweep (reference X4 fan-out,
    backtester/runner.py:132-180): 4 SimConfigs x every tick instrument
    in one Spark job, one PnL row per (config, instrument), running the
    REAL reference strategy (buy at 3-point local minima, sell at local
    maxima — backtester/strategy/buy_low_sell_high.py:28-48).

    HASH-GREEN since round 8 (formerly rows-only): the sequential part
    that survives a deep wallet is the POSITION gate — a sell fills
    only when inventory covers it — and that state machine is a
    Lindley-reflected random walk with the closed form
    pos_i = S_i - min(0, min_{k<=i} S_k) over the signal prefix sums
    S, so a sell at step i fills iff the running minimum does NOT drop
    (m_i == m_{i-1}). The oracle reproduces fills, PnL, inventory and
    commissions from that identity with pure window functions; prices
    are integer cents and commissions dyadic (k/1024), so the Python
    simulator's doubles equal the oracle's BIGINT 1024ths arithmetic
    bit-for-bit (same discipline as backtest_grid_cents). The
    balance-gated branch (wallet too shallow to buy) stays pinned by
    the sequential-equivalence tests
    (tests/test_consumers.py::test_backtest_param_grid_equals_sequential_runs
    and the profits-on-sine semantics tests); not benched — the benched
    family member is backtest_grid_cents."""
    from svoe_spark.consumers.backtest import SimConfig, run_backtest_grid

    t = ticks(spark, sf_dir).select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        F.col("value_c").cast("double").alias("px"),
    )
    grid = [
        SimConfig(initial_balance=float(b), commission=ck / 1024.0,
                  position_size=float(q))
        for _, b, ck, q in _GRID_BLSH
    ]
    return run_backtest_grid(
        t, price_col="px", grid=grid, order_cols=("ts", "event_id")
    )


# (config_id, initial_balance_cents, commission*1024, position_size) —
# commissions are DYADIC (k/1024) and prices integer cents, so every
# float op in the simulator is exact and the state machine collapses
# to integer arithmetic the oracle reproduces (see alternate_signals).
_GRID_CENTS = [(0, 10**12, 0, 1), (1, 10**12, 1, 1), (2, 10**12, 1, 2),
               (3, 10**12, 2, 1)]


@query(
    "backtest_grid_cents",
    _TICKS_SQL
    + f""",
    cfg(config_id, b0, comm_k, q) AS (
      VALUES {", ".join(f"({c}, {b}, {ck}, {q})" for c, b, ck, q in _GRID_CENTS)}
    ),
    r AS (
      SELECT event_type AS symbol, CAST(value_c AS BIGINT) AS px,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM ticks
    ),
    lastpx AS (
      SELECT symbol, px FROM (
        SELECT symbol, px, rn, max(rn) OVER (PARTITION BY symbol) AS mx
        FROM r
      ) WHERE rn = mx
    ),
    agg AS (
      SELECT r.symbol, cfg.config_id, cfg.b0, cfg.comm_k, cfg.q,
             count(*) AS n,
             SUM(CASE WHEN rn % 2 = 1
                      THEN -(px*q*1024 + px*q*comm_k)
                      ELSE  (px*q*1024 - px*q*comm_k) END) AS dbal_k,
             SUM(px*q*comm_k) AS comm_k_sum
      FROM r CROSS JOIN cfg
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT a.config_id,
           CAST(a.b0 AS DOUBLE) AS initial_balance,
           CAST(a.comm_k AS DOUBLE) / 1024.0 AS commission,
           CAST(a.q AS DOUBLE) AS position_size,
           a.symbol,
           CAST(a.n AS BIGINT) AS n_events,
           CAST(a.n AS BIGINT) AS n_trades,
           CAST(a.b0 * 1024 + a.dbal_k AS DOUBLE) / 1024.0 AS final_balance,
           CAST(a.q * (a.n % 2) AS DOUBLE) AS final_position,
           CAST(a.b0 * 1024 + a.dbal_k
                + a.q * (a.n % 2) * l.px * 1024 AS DOUBLE) / 1024.0
             AS final_equity,
           CAST(a.comm_k_sum AS DOUBLE) / 1024.0 AS total_commission
    FROM agg a JOIN lastpx l ON l.symbol = a.symbol
    """,
)
def backtest_grid_cents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The backtester family's HASH-GREEN row (the general
    `backtest_param_grid` stays rows-only by design): the SAME
    `run_backtest_grid` state machine, driven so exactness is provable
    — integer-cent prices, dyadic (k/1024) commissions, a wallet deep
    enough that the balance gate never binds, and the degenerate
    `alternate_signals` strategy whose fills are a closed-form
    aggregation. Every simulator double is a dyadic rational well under
    2^53, so the sequential Python loop and the oracle's BIGINT
    1024ths-of-a-cent arithmetic agree bit-for-bit."""
    from svoe_spark.consumers.backtest import (
        SimConfig,
        alternate_signals,
        run_backtest_grid,
    )

    t = ticks(spark, sf_dir).select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        F.col("value_c").cast("double").alias("px"),
    )
    grid = [
        SimConfig(initial_balance=float(b), commission=ck / 1024.0,
                  position_size=float(q))
        for _, b, ck, q in _GRID_CENTS
    ]
    return run_backtest_grid(
        t,
        price_col="px",
        grid=grid,
        signal_fn=alternate_signals,
        order_cols=("ts", "event_id"),
    )


@query(
    "ohlcv_1h_rollup",
    _TICKS_SQL
    + """
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           arg_min(value, event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, event_id) AS close,
           CAST(SUM(qty) AS BIGINT) AS volume,
           CAST(count(*) AS BIGINT) AS num_trades,
           CASE WHEN SUM(qty) <> 0
                THEN CAST(SUM(value_c * qty) AS BIGINT) / (100.0 * CAST(SUM(qty) AS BIGINT))
                ELSE NULL END AS vwap
    FROM ticks
    GROUP BY event_type, window_start
    """,
)
def ohlcv_1h_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style two-level rollup: ticks -> associative 1m bars
    -> 1h bars (operators/rollup.py), finished with the exact-integer
    vwap. The oracle aggregates the ticks at 1h DIRECTLY, so the green
    row proves the rollup algebra (min_by/max_by over arg keys +
    additive sums) is lossless — the property that makes incremental
    refresh (RollupStore) safe at any batching."""
    from svoe_spark.operators.rollup import (
        bars_from_ticks,
        finish_bars,
        rollup_bars,
    )

    t = ticks(spark, sf_dir)
    h1 = rollup_bars(bars_from_ticks(t, window="1m"), window="1h")
    return finish_bars(h1)


# ---------------------------------------------------------------------------
# PageRank over the supply graph (fixed-point integer iterations)
# ---------------------------------------------------------------------------

_PR_SCALE = 10**15
# 6 demo rounds (was 10): the oracle unrolls the SAME constant, so the
# hash match is preserved by construction at any count; 6 keeps the
# iterative-algorithm class exercised while the bench pays 40% less
# fixed per-round job latency (the operator itself supports any count
# and until_converged for production fixpoints).
_PR_ITERS = 6
_PR_DAMP = 85


# Session-keyed cache of the shared supply-graph edge relation: the
# four graph queries (pagerank / ppr / hits / bfs) all rank the SAME
# distinct supplier->customer edges — build and persist them once per
# (session, sf_dir) instead of re-running the lineitem x orders join
# per query (the _ANN_CHAIN_CACHE precedent: a derived artifact reused
# across the query family; a session change invalidates the entry).
_SUPPLY_EDGE_CACHE: dict = {}


def _supply_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-keyed RAW (src, dst) pair stream — one row per
    (lineitem x orders) match, persisted once. Both graph edge forms
    derive from it: the DISTINCT pairs (`_supply_edges`, the
    unweighted ranking family + BFS) and the w=1 rows whose per-pair
    sum is the lineitem-multiplicity weight (`_supply_edges_weighted`)
    — so the weighted query no longer re-runs the lineitem x orders
    join the unweighted family already paid for (round 10, VERDICT r9
    ask 3). The projection is token-identical to the former inline
    one, so every derived relation is unchanged."""
    got = _SUPPLY_EDGE_CACHE.get(("pairs", sf_dir))
    if got is not None and got[0] is spark:
        return got[1]
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("src"),
            (F.col("o_custkey") * 2).alias("dst"),
        )
        .persist()
    )
    _SUPPLY_EDGE_CACHE[("pairs", sf_dir)] = (spark, pairs)
    return pairs


def _supply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    got = _SUPPLY_EDGE_CACHE.get(sf_dir)
    if got is not None and got[0] is spark:
        return got[1]
    edges = _supply_pairs(spark, sf_dir).distinct().persist()
    _SUPPLY_EDGE_CACHE[sf_dir] = (spark, edges)
    return edges


def _supply_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The w=1-decorated raw pair relation (NOT pre-aggregated: the
    pagerank operator's GraphAux sums duplicate (src, dst) weights
    itself, token-for-token the former inline path, so the aggregated
    weights — and the oracle hash — are identical by construction)."""
    got = _SUPPLY_EDGE_CACHE.get(("weighted", sf_dir))
    if got is not None and got[0] is spark:
        return got[1]
    edges = _supply_pairs(spark, sf_dir).withColumn(
        "w", F.lit(1).cast("long")
    )
    _SUPPLY_EDGE_CACHE[("weighted", sf_dir)] = (spark, edges)
    return edges


def _supply_seed_pulls(spark: SparkSession, sf_dir: str):
    """ONE Arrow pull of the RAW (src, dst) pair stream serving every
    micro-tier graph decoration driver-side (round 10 day 3): distinct
    pairs = np.unique rows, multiplicity weights = the unique counts —
    exactly the values the Spark-side distinct / groupBy-sum produce
    (integer, order-free), so the seeded GraphAux decorations are
    bit-identical to the unseeded ones (pinned by
    test_seeded_aux_matches_unseeded). Before this, the session paid
    three separate evaluate+count+pull chains over the same pair
    relation: the unweighted aux (distinct), the weighted aux
    (groupBy-sum), and the BFS tier (distinct again). Returns None
    when the raw count exceeds the micro gate or a NULL endpoint
    appears — every consumer then builds through its normal Spark
    path unchanged."""
    from svoe_spark.operators.graph import DRIVER_EDGES_DEFAULT
    from svoe_spark.queries_llm import _cached_chain

    def build():
        import numpy as np

        pairs = _supply_pairs(spark, sf_dir)
        if pairs.count() > DRIVER_EDGES_DEFAULT:
            return None
        pdf = pairs.toPandas()
        if bool(pdf["src"].isna().any()) or bool(pdf["dst"].isna().any()):
            return None
        s = pdf["src"].to_numpy()
        d = pdf["dst"].to_numpy()
        if (
            len(s)
            and s.dtype.kind in "iu"
            and d.dtype.kind in "iu"
            and s.min() >= 0
            and d.min() >= 0
            and s.max() < (1 << 32)
            and d.max() < (1 << 32)
        ):
            # pack-then-unique: one uint64 sort instead of np.unique's
            # axis=0 void-view sort (measured 1.53 s -> 0.08 s on the
            # 600k sf0.1 pull). Non-negative sub-2^32 ids pack
            # losslessly and the packed order IS the (src, dst)
            # lexicographic order, so uniques and counts are identical.
            key = (s.astype("uint64") << np.uint64(32)) | d.astype(
                "uint64"
            )
            uk, counts = np.unique(key, return_counts=True)
            return (
                (uk >> np.uint64(32)).astype(s.dtype),
                (uk & np.uint64(0xFFFFFFFF)).astype(d.dtype),
                counts.astype("int64", copy=False),
            )
        arr = np.stack([s, d], axis=1)
        uniq, counts = np.unique(arr, axis=0, return_counts=True)
        return (
            np.ascontiguousarray(uniq[:, 0]),
            np.ascontiguousarray(uniq[:, 1]),
            counts.astype("int64", copy=False),
        )

    return _cached_chain(spark, sf_dir, "supply-seed-pulls", build)


def _supply_graph_aux(spark: SparkSession, sf_dir: str):
    """Session-keyed shared GraphAux over the cached supply edges: the
    unweighted rankings (pagerank_supply_graph, ppr_trusted_suppliers,
    hits_supply_graph) repeat the same node-set distinct + count,
    degree aggregate, and degree-pre-joined edge build — decorate the
    graph once per (session, sf_dir) and hand each operator the
    prebuilt relations (operators/graph.py GraphAux; construction is
    token-for-token the operators' own inline setup, so hashes are
    unchanged). The weighted ranking borrows this aux's node relation
    through `_supply_graph_aux_weighted`; the undirected BFS decorates
    per-call, but from the cached distinct pairs and only a cheap
    union deep in micro mode (operators/graph.py:bfs_distances)."""
    from svoe_spark.operators.graph import GraphAux
    from svoe_spark.queries_llm import _cached_chain

    def build():
        seeds = _supply_seed_pulls(spark, sf_dir)
        if seeds is None:
            return GraphAux(
                _supply_edges(spark, sf_dir),
                assume_distinct=True,  # _supply_edges is already distinct
            )
        s, d, _w = seeds
        return GraphAux(
            _supply_edges(spark, sf_dir),
            assume_distinct=True,
            seed_pull=(s, d, None),
            seed_edge_count=len(s),
        )

    return _cached_chain(spark, sf_dir, "supply-graph-aux", build)


def _supply_graph_aux_weighted(spark: SparkSession, sf_dir: str):
    """The weighted decoration (round 10, VERDICT r9 ask 3): w-summed
    edges + weighted degrees over the SAME raw pair relation, built
    once per (session, sf_dir). The node set (and the dangling flag)
    of the w-summed pair relation provably equals the distinct pair
    relation's — weights change degrees, never which (src, dst) pairs
    exist — so the persisted node relation is BORROWED from the
    unweighted aux instead of re-derived (GraphAux reuse_nodes;
    bit-identity pinned by test_shared_aux_equals_per_call_setup's
    weighted leg)."""
    from svoe_spark.operators.graph import GraphAux
    from svoe_spark.queries_llm import _cached_chain

    def build():
        seeds = _supply_seed_pulls(spark, sf_dir)
        if seeds is None:
            return GraphAux(
                _supply_edges_weighted(spark, sf_dir),
                weight="w",
                reuse_nodes=_supply_graph_aux(spark, sf_dir),
            )
        s, d, w = seeds
        return GraphAux(
            _supply_edges_weighted(spark, sf_dir),
            weight="w",
            reuse_nodes=_supply_graph_aux(spark, sf_dir),
            seed_pull=(s, d, w),
            seed_edge_count=len(s),
        )

    return _cached_chain(spark, sf_dir, "supply-graph-aux-weighted", build)


def _pagerank_core_sql(
    edges_cte: str,
    pred: str,
    iterations: int,
    weighted: bool,
) -> str:
    """The engine-mirroring CTE chain of the integer PageRank oracle —
    ``edges, nodes, deg, nn, r0 .. r{iterations}`` — WITHOUT the WITH
    keyword or an output tail, so any query ranking a DIFFERENT edge
    relation can splice it into its own WITH list (queries_llm's
    curation gate personalizes over a document-source near-dup graph;
    the supply-graph queries below wrap it with their tail). Every
    arithmetic step (truncating `//` division, exact integer sums)
    mirrors operators/graph.py:pagerank token for token. ``edges_cte``
    must yield (src, dst) — plus BIGINT ``w`` when ``weighted`` — and
    may reference CTEs defined earlier in the caller's WITH list;
    ``pred`` is a SQL boolean over ``node`` selecting the personalized
    restart set."""
    if weighted:
        deg_expr = "CAST(SUM(w) AS BIGINT)"
        share = "(CAST(p.rank_fp AS HUGEINT) * e.w) // d.outdeg"
    else:
        deg_expr = "CAST(COUNT(*) AS BIGINT)"
        share = "p.rank_fp // d.outdeg"
    head = f"""
    edges AS MATERIALIZED ({edges_cte}
    ),
    nodes AS MATERIALIZED (
      SELECT node, ({pred}) AS is_src FROM (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
      )
    ),
    deg AS MATERIALIZED (
      SELECT src AS node, {deg_expr} AS outdeg
      FROM edges GROUP BY src
    ),
    nn AS MATERIALIZED (
      SELECT CAST(COUNT(*) FILTER (WHERE is_src) AS BIGINT) AS n FROM nodes
    ),
    r0 AS MATERIALIZED (
      SELECT node, is_src,
             CAST(CASE WHEN is_src THEN {_PR_SCALE} // nn.n ELSE 0 END
                  AS BIGINT) AS rank_fp
      FROM nodes, nn
    )"""
    its = []
    for i in range(1, iterations + 1):
        its.append(f""",
    r{i} AS MATERIALIZED (
      SELECT nodes.node, nodes.is_src,
             CAST(CASE WHEN nodes.is_src THEN
                    (SELECT ({100 - _PR_DAMP} * {_PR_SCALE}) // (100 * n) FROM nn)
                  ELSE 0 END
                  + ({_PR_DAMP} * (COALESCE(c.in_sum, 0)
                     + CASE WHEN nodes.is_src THEN dg.d_each ELSE 0 END)) // 100
                  AS BIGINT) AS rank_fp
      FROM nodes
      CROSS JOIN (
        SELECT CAST(COALESCE(SUM(p.rank_fp), 0) // (SELECT n FROM nn) AS BIGINT)
               AS d_each
        FROM r{i - 1} p LEFT JOIN deg ON p.node = deg.node
        WHERE deg.node IS NULL
      ) dg
      LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM({share}) AS BIGINT) AS in_sum
        FROM edges e
        JOIN r{i - 1} p ON e.src = p.node
        JOIN deg d ON e.src = d.node
        GROUP BY e.dst
      ) c ON nodes.node = c.node
    )"""
        )
    return head + "".join(its)


def _pagerank_sql(
    iterations: int = _PR_ITERS,
    sources_pred: str | None = None,
    weighted: bool = False,
) -> str:
    """Oracle for the supply-graph PageRank queries: the shared core
    chain (unrolled MATERIALIZED CTEs — DuckDB's inlining default
    would re-scan the base join per reference and exhaust file
    handles) over the supplier->customer edge relation, plus the
    supply-specific output tail. ``sources_pred``: SQL boolean over
    ``node`` selecting the personalized restart set (None =
    uniform)."""
    pred = sources_pred or "TRUE"
    if weighted:
        edges_cte = """
      SELECT l.l_suppkey * 2 + 1 AS src, o.o_custkey * 2 AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY src, dst"""
    else:
        edges_cte = """
      SELECT DISTINCT l.l_suppkey * 2 + 1 AS src, o.o_custkey * 2 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""
    core = _pagerank_core_sql(edges_cte, pred, iterations, weighted)
    tail = f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
           CAST(node // 2 AS BIGINT) AS entity_key,
           rank_fp,
           rank_fp / 1000000000000000.0 AS rank
    FROM r{iterations}
    ORDER BY rank_fp DESC, entity, entity_key
    LIMIT 20
    """
    return "WITH " + core + tail


@query("pagerank_supply_graph", _pagerank_sql())
def pagerank_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank top-20 over the supplier->customer supply graph
    (distinct (l_suppkey, o_custkey) edges; suppliers odd node ids,
    customers even). Exercises the iterative-algorithm class the rest
    of the registry lacks: 10 fixed-point integer iterations, each one
    edges x ranks shuffle join + one map-side-combined integer sum +
    one broadcast scalar (dangling mass), lineage truncated per round
    with lazy localCheckpoints. Integer arithmetic makes the result
    bit-stable under any partitioning — the oracle unrolls the same
    recurrence relationally. The curation-scale story: rank web
    domains by link structure before sampling training data (the
    customers here stand in for link targets; all of them are dangling
    nodes, so the dangling-mass redistribution is load-bearing, not
    decorative)."""
    from svoe_spark.operators.graph import pagerank

    edges = _supply_edges(spark, sf_dir)
    pr = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping_pct=_PR_DAMP,
        scale=_PR_SCALE,
        assume_distinct=True,  # _supply_edges is already distinct
        aux=_supply_graph_aux(spark, sf_dir),
    )
    return (
        pr.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("entity"),
            F.expr("node div 2").cast("long").alias("entity_key"),
            "rank_fp",
            (F.col("rank_fp") / F.lit(1000000000000000.0)).alias("rank"),
        )
        .orderBy(F.desc("rank_fp"), "entity", "entity_key")
        .limit(20)
    )


@query(
    "scd2_user_state",
    """
    WITH ord AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    starts AS (
      SELECT user_id, ts, event_id, event_type FROM ord
      WHERE rn = 1 OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type AS state,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS INTEGER) AS version,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM starts
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from a change log: each user's
    event_type observations collapse into [valid_from, valid_to)
    validity intervals with a version counter and current flag —
    the lakehouse dimension-maintenance primitive (operators/scd.py),
    two per-key window passes, no self-joins. The companion
    `scd2_merge` incrementally splices new observation batches into an
    existing history touching only the batch's keys (equivalence to
    full recompression is pytest-pinned)."""
    from svoe_spark.operators.scd import scd2_compress

    e = load_table(spark, "events", sf_dir)
    h = scd2_compress(e, "user_id", ["event_type"], ts="ts", tie_col="event_id")
    return h.select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
        "version",
        "is_current",
    )


_Z_BITS = 8


def _zorder_sql() -> str:
    from svoe_spark.operators.layout import sql_zvalue

    span = 1 << _Z_BITS
    return f"""
    WITH b AS MATERIALIZED (
      SELECT min(o_custkey) AS lo1, max(o_custkey) AS hi1,
             min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS lo2,
             max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS hi2
      FROM orders
    ),
    r AS (
      SELECT o_orderkey,
             CAST((o_custkey - b.lo1)
                  // greatest(1, (b.hi1 - b.lo1 + {span}) // {span})
                  AS BIGINT) AS x,
             CAST((CAST(round(o_totalprice * 100, 0) AS BIGINT) - b.lo2)
                  // greatest(1, (b.hi2 - b.lo2 + {span}) // {span})
                  AS BIGINT) AS y
      FROM orders, b
    ),
    z AS (SELECT o_orderkey, {sql_zvalue(['x', 'y'], _Z_BITS)} AS zval FROM r)
    SELECT CAST(zval // {span} AS BIGINT) AS zcell,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM z
    GROUP BY zcell
    """


@query("zorder_cells", _zorder_sql())
def zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over orders: customer key and
    order value interleaved bit-by-bit into one locality-preserving
    code, aggregated per 256-cell bucket. The bit math is the exact
    interleave `operators/layout.py:zorder_write` clusters files by —
    hash-matching it here pins the layout operator's arithmetic
    cross-engine (the write path itself is plan/footer-gated in
    tests/test_layout.py: every output file bounded in BOTH dimensions,
    so selective filters on either column skip files via parquet
    min/max stats alone — the Delta/Iceberg OPTIMIZE ZORDER technique).
    Pure codegen'd integer shift/mask expressions, one bounds agg, one
    shuffle."""
    from svoe_spark.operators.layout import _rank_cols, zvalue

    span = 1 << _Z_BITS
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.col("o_custkey").cast("long").alias("ck"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    ranked = _rank_cols(o, ["ck", "cents"], _Z_BITS)
    z = o.select("o_orderkey", zvalue(ranked, _Z_BITS).alias("zval"))
    return z.groupBy(
        F.expr(f"zval div {span}").cast("long").alias("zcell")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "ofi_1h",
    _TICKS_SQL
    + """
    , top AS (
      SELECT event_type, ts, event_id,
             value_c - (1 + event_id % 3) AS bid_px,
             qty AS bid_sz,
             value_c + (1 + event_id % 5) AS ask_px,
             1 + event_id % 9 AS ask_sz
      FROM ticks
    ),
    e AS (
      SELECT event_type, ts,
             CASE WHEN bid_px >= lag(bid_px) OVER w THEN bid_sz ELSE 0 END
           - CASE WHEN bid_px <= lag(bid_px) OVER w
                  THEN lag(bid_sz) OVER w ELSE 0 END
           - CASE WHEN ask_px <= lag(ask_px) OVER w THEN ask_sz ELSE 0 END
           + CASE WHEN ask_px >= lag(ask_px) OVER w
                  THEN lag(ask_sz) OVER w ELSE 0 END AS e_ofi
      FROM top
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
           CAST(SUM(COALESCE(e_ofi, 0)) AS BIGINT) AS ofi,
           CAST(COUNT(*) AS BIGINT) AS n_updates
    FROM e
    GROUP BY event_type, window_start
    """,
)
def ofi_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-flow imbalance per instrument-hour (Cont/Kukanov/Stoikov
    2014) — the microstructure feature class on top of the book-top
    stream (here a deterministic synthetic top derived from ticks, the
    same construction idiom as synthetic_l2_updates): one lag-window
    pass computes each update's signed size contribution, a bucketed
    integer sum yields the regressor. Exact int64 end-to-end."""
    from svoe_spark.operators.quant import order_flow_imbalance

    t = ticks(spark, sf_dir)
    top = t.select(
        "event_type",
        "ts",
        "event_id",
        (F.col("value_c") - (F.lit(1) + F.col("event_id") % 3)).alias("bid_px"),
        F.col("qty").alias("bid_sz"),
        (F.col("value_c") + (F.lit(1) + F.col("event_id") % 5)).alias("ask_px"),
        (F.lit(1) + F.col("event_id") % 9).alias("ask_sz"),
    )
    e = order_flow_imbalance(
        top, "event_type", "ts", "bid_px", "bid_sz", "ask_px", "ask_sz",
        tie_col="event_id",
    )
    return e.groupBy(
        "event_type", F.window("ts", "1 hour")["start"].alias("window_start")
    ).agg(
        F.sum("e_ofi").cast("long").alias("ofi"),
        F.count(F.lit(1)).cast("long").alias("n_updates"),
    )


@query(
    "asof_purchase_next_view",
    """
    WITH p AS (
      SELECT event_id, ts, user_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts, arg_max(value, event_id) AS next_view_value
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    )
    SELECT p.event_id, p.ts, p.user_id, p.purchase_value, v.next_view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts
    """,
)
def asof_purchase_next_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (pd.merge_asof direction='forward'): for each
    purchase, the user's EARLIEST subsequent view — the same
    one-shuffle union+fill plan run on the negated time axis
    (operators/asof.py direction param), bucketed scale path included.
    Oracle: DuckDB ASOF with the inequality flipped."""
    e = load_table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", F.col("value").alias("purchase_value")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("next_view_value"))
    )
    return asof_join(
        p, v, on="ts", by="user_id", right_cols=["next_view_value"],
        direction="forward",
    )


@query(
    "asof_purchase_nearest_view",
    """
    WITH p AS (
      SELECT event_id, ts, user_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts, arg_max(value, event_id) AS vv
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    ),
    b AS (
      SELECT p.event_id, v.ts AS bts, v.vv AS bv
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    ),
    f AS (
      SELECT p.event_id, v.ts AS fts, v.vv AS fv
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts
    )
    SELECT p.event_id, p.ts, p.user_id, p.purchase_value,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                     epoch_us(p.ts) - epoch_us(bts)
                     <= epoch_us(fts) - epoch_us(p.ts))
                THEN bv ELSE fv END AS nearest_view_value
    FROM p JOIN b USING (event_id) JOIN f USING (event_id)
    """,
)
def asof_purchase_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (pd.merge_asof direction='nearest', whole-row,
    tie -> backward): for each purchase the temporally closest view.
    One shuffle computes BOTH directional fills in the same sorted
    window (running last + window first); the oracle composes two
    DuckDB ASOF joins and picks by distance."""
    from svoe_spark.operators.asof import asof_join_nearest

    e = load_table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", F.col("value").alias("purchase_value")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("nearest_view_value"))
    )
    out = asof_join_nearest(
        p, v, on="ts", by="user_id", right_cols=["nearest_view_value"]
    )
    return out.select(
        "event_id", "ts", "user_id", "purchase_value", "nearest_view_value"
    )


_PPR_SEEDS = 5  # suppliers 1..5 form the trusted restart set


@query(
    "ppr_trusted_suppliers",
    _pagerank_sql(
        sources_pred=f"node % 2 = 1 AND node // 2 BETWEEN 1 AND {_PPR_SEEDS}"
    ),
)
def ppr_trusted_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: restart AND dangling mass confined to a
    trusted seed set (suppliers 1..5) — the seed-expansion primitive
    for corpus curation (rank domains by random-walk proximity to an
    allowlist, Haveliwala 2002). Same fixed-point integer recurrence
    as pagerank_supply_graph with the teleport made conditional; the
    oracle unrolls the identical conditional arithmetic."""
    from svoe_spark.operators.graph import pagerank

    edges = _supply_edges(spark, sf_dir)
    seeds = [2 * k + 1 for k in range(1, _PPR_SEEDS + 1)]
    pr = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping_pct=_PR_DAMP,
        scale=_PR_SCALE,
        sources=seeds,
        assume_distinct=True,  # _supply_edges is already distinct
        aux=_supply_graph_aux(spark, sf_dir),
    )
    return (
        pr.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("entity"),
            F.expr("node div 2").cast("long").alias("entity_key"),
            "rank_fp",
            (F.col("rank_fp") / F.lit(1000000000000000.0)).alias("rank"),
        )
        .orderBy(F.desc("rank_fp"), "entity", "entity_key")
        .limit(20)
    )


_HITS_ITERS = 3  # 2 half-steps each; oracle unrolls the same count


def _hits_sql(iterations: int = _HITS_ITERS) -> str:
    """Oracle for the HITS query: unrolled MATERIALIZED CTE pairs, one
    (auth, hub) rescale per iteration — decimal/HUGEINT sums and the
    truncating integral division mirror operators/graph.py:hits."""
    head = f"""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT l.l_suppkey * 2 + 1 AS src, o.o_custkey * 2 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    h0 AS MATERIALIZED (
      SELECT node,
             CAST({_PR_SCALE} // (SELECT COUNT(*) FROM nodes) AS BIGINT)
               AS hub_fp
      FROM nodes
    )"""
    its = []
    for i in range(1, iterations + 1):
        its.append(f""",
    a{i}_raw AS MATERIALIZED (
      SELECT e.dst AS node, SUM(CAST(h.hub_fp AS HUGEINT)) AS raw
      FROM edges e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst
    ),
    a{i} AS MATERIALIZED (
      SELECT nodes.node,
             CAST(CASE WHEN t.t > 0
                  THEN (COALESCE(r.raw, 0) * {_PR_SCALE}) // t.t
                  ELSE 0 END AS BIGINT) AS auth_fp
      FROM nodes
      LEFT JOIN a{i}_raw r ON nodes.node = r.node
      CROSS JOIN (SELECT COALESCE(SUM(raw), 0) AS t FROM a{i}_raw) t
    ),
    h{i}_raw AS MATERIALIZED (
      SELECT e.src AS node, SUM(CAST(a.auth_fp AS HUGEINT)) AS raw
      FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
    ),
    h{i} AS MATERIALIZED (
      SELECT nodes.node,
             CAST(CASE WHEN t.t > 0
                  THEN (COALESCE(r.raw, 0) * {_PR_SCALE}) // t.t
                  ELSE 0 END AS BIGINT) AS hub_fp
      FROM nodes
      LEFT JOIN h{i}_raw r ON nodes.node = r.node
      CROSS JOIN (SELECT COALESCE(SUM(raw), 0) AS t FROM h{i}_raw) t
    )"""
        )
    tail = f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
           CAST(node // 2 AS BIGINT) AS entity_key,
           h.hub_fp, a.auth_fp
    FROM nodes
    JOIN h{iterations} h USING (node)
    JOIN a{iterations} a USING (node)
    ORDER BY h.hub_fp + a.auth_fp DESC, entity, entity_key
    LIMIT 20
    """
    return head + "".join(its) + tail


@query("hits_supply_graph", _hits_sql())
def hits_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the bipartite
    supplier->customer graph: suppliers earn hub mass by serving
    high-authority customers and vice versa — the mutual-reinforcement
    ranking PageRank's random surfer doesn't express. Fixed-point
    integer power method with L1 rescaling (operators/graph.py:hits):
    decimal-exact sums, truncating integral division, so the unrolled
    oracle hash-matches the distributed trajectory. Top 20 by combined
    mass."""
    from svoe_spark.operators.graph import hits

    edges = _supply_edges(spark, sf_dir)
    hs = hits(
        edges, iterations=_HITS_ITERS, scale=_PR_SCALE,
        # _supply_edges is already distinct
        assume_distinct=True,
        aux=_supply_graph_aux(spark, sf_dir),
    )
    return (
        hs.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("entity"),
            F.expr("node div 2").cast("long").alias("entity_key"),
            "hub_fp",
            "auth_fp",
        )
        .orderBy(
            F.desc(F.col("hub_fp") + F.col("auth_fp")), "entity", "entity_key"
        )
        .limit(20)
    )


_BFS_HOPS = 4


def _bfs_sql(hops: int = _BFS_HOPS) -> str:
    seeds = ", ".join(f"({2 * k + 1})" for k in range(1, _PPR_SEEDS + 1))
    head = f"""
    WITH ed AS MATERIALIZED (
      SELECT DISTINCT l.l_suppkey * 2 + 1 AS src, o.o_custkey * 2 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    und AS MATERIALIZED (
      SELECT src, dst FROM ed UNION SELECT dst, src FROM ed
    ),
    d0 AS MATERIALIZED (
      SELECT node, CAST(0 AS INTEGER) AS dist
      FROM (VALUES {seeds}) t(node)
    )"""
    its = []
    for i in range(1, hops + 1):
        its.append(f""",
    d{i} AS MATERIALIZED (
      SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.dist + 1 AS dist
        FROM und e JOIN d{i - 1} p ON e.src = p.node
      ) GROUP BY node
    )"""
        )
    tail = f"""
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM d{hops}
    GROUP BY dist
    """
    return head + "".join(its) + tail


@query("bfs_hops_trusted", _bfs_sql())
def bfs_hops_trusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the UNDIRECTED supply graph: hop distance
    from the trusted seed suppliers (the hard-cutoff counterpart of
    ppr_trusted_suppliers' soft score), histogrammed per hop. Each
    round is one edges x frontier join + an exact integer min —
    monotone, so the engine's digest early-stop and the oracle's fixed
    unroll agree at any round count >= convergence."""
    from svoe_spark.operators.graph import bfs_distances

    edges = _supply_edges(spark, sf_dir)
    seeds = [2 * k + 1 for k in range(1, _PPR_SEEDS + 1)]
    pulls = _supply_seed_pulls(spark, sf_dir)
    kwargs = (
        {"seed_pull": (pulls[0], pulls[1]), "seed_edge_count": len(pulls[0])}
        if pulls is not None
        else {}
    )
    d = bfs_distances(
        edges,
        seeds,
        max_hops=_BFS_HOPS,
        directed=False,
        early_stop=False,
        # _supply_edges is distinct AND bipartite (odd/even node ids),
        # so the undirected union has no reciprocal duplicates either
        assume_distinct=True,
        **kwargs,
    )
    return d.groupBy("dist").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


@query("pagerank_weighted_supply", _pagerank_sql(weighted=True))
def pagerank_weighted_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: the supply walk split across out-edges
    proportional to ORDER VOLUME (lineitem multiplicity as the edge
    weight) instead of uniformly over distinct partners — the
    volume-aware domain ranking. Per-edge share = (rank * w) div W_u,
    the rank*w product in decimal(38,0) (int64 overflows past w~9e3),
    truncating integral division identical across engines."""
    from svoe_spark.operators.graph import pagerank

    edges = _supply_edges_weighted(spark, sf_dir)
    pr = pagerank(
        edges, iterations=_PR_ITERS, damping_pct=_PR_DAMP, scale=_PR_SCALE,
        weight="w",
        aux=_supply_graph_aux_weighted(spark, sf_dir),
    )
    return (
        pr.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("entity"),
            F.expr("node div 2").cast("long").alias("entity_key"),
            "rank_fp",
            (F.col("rank_fp") / F.lit(1000000000000000.0)).alias("rank"),
        )
        .orderBy(F.desc("rank_fp"), "entity", "entity_key")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Supplier co-occurrence graph: k-NN sparsify + triangle counting
# ---------------------------------------------------------------------------

_TRI_K = 8

_TRI_SQL = f"""
WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
cop AS MATERIALIZED (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, CAST(count(*) AS BIGINT) AS w
  FROM os a JOIN os b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY u, v),
directed AS (
  SELECT u AS s, v AS d, w FROM cop
  UNION ALL SELECT v AS s, u AS d, w FROM cop),
topk AS (
  SELECT s, d, w FROM (
    SELECT s, d, w,
           row_number() OVER (PARTITION BY s ORDER BY w DESC, d ASC) AS rn
    FROM directed) WHERE rn <= {_TRI_K}),
mut AS MATERIALIZED (
  SELECT least(s, d) AS a, greatest(s, d) AS b, w
  FROM topk GROUP BY 1, 2, 3 HAVING count(*) = 2),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS node FROM mut UNION ALL SELECT b FROM mut) GROUP BY node),
wedge AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM mut e1 JOIN mut e2 ON e1.a = e2.a AND e1.b < e2.b),
tri AS MATERIALIZED (
  SELECT x, y, z FROM wedge JOIN mut m ON wedge.y = m.a AND wedge.z = m.b),
pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles
  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY node)
SELECT deg.node AS supplier, deg.deg AS deg,
       CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.deg >= 2
            THEN (COALESCE(pn.triangles, 0) * 2) / (deg.deg * (deg.deg - 1))
       END AS clustering
FROM deg LEFT JOIN pn ON deg.node = pn.node
ORDER BY triangles DESC, supplier ASC
LIMIT 20
"""


@query("supplier_cograph_triangles", _TRI_SQL)
def supplier_cograph_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle structure of the supplier CO-OCCURRENCE graph (two
    suppliers linked when they serve the same order — the supply graph
    itself is bipartite and triangle-free, so community signal lives in
    this projection). The raw projection is near-complete at any scale
    (every order links all its suppliers pairwise), so the operator
    pipeline is the honest 100 TB shape: `knn_sparsify` keeps each
    node's top-8 strongest partners (_TRI_K is the knob; mutual — degree <= k by
    CONSTRUCTION, wedge work bounded N*k^2), then `triangle_counts`
    enumerates each triangle exactly once via id-oriented wedges
    closed by one equi-join. Top-20 by (triangles DESC, supplier ASC)
    — a total order. Clustering coefficient = 2T/(deg*(deg-1)), one
    float division over exact integers, NULL when deg < 2."""
    from svoe_spark.operators.graph import knn_sparsify, triangle_counts

    li = load_table(spark, "lineitem", sf_dir)
    # one grouped pass instead of distinct + self-join + groupBy (4
    # exchanges -> 2): collect_set per order IS the distinct, and the
    # sorted-array pair expansion IS the a.suppkey < b.suppkey
    # self-join — per-order supplier sets are tiny (<= 7), so the
    # interpreted HOF touches <= 21 pairs per row. Pair multiset, and
    # therefore every downstream count, is identical by construction.
    from svoe_spark.operators.util import sorted_pair_expand

    oss = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        .select("ss")
    )
    cop = (
        oss.select(
            F.explode(F.expr(sorted_pair_expand("ss", "u", "v"))).alias("p")
        )
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # cop is grouped on (u, v) with u < v by the sorted-pair expansion
    # — already canonical, so the sparsifier skips its re-aggregation
    edges = knn_sparsify(
        cop, k=_TRI_K, src="u", dst="v", w="w", assume_canonical=True
    )
    rep = triangle_counts(edges)
    return (
        rep.orderBy(F.col("triangles").desc(), F.col("node").asc())
        .limit(20)
        .select(
            F.col("node").alias("supplier"), "deg", "triangles", "clustering"
        )
    )


# ---------------------------------------------------------------------------
# Round 8: the streaming as-of twin as a DRIVER-CHECKED query — the fn
# runs a REAL Structured Streaming job (parquet replay -> availableNow
# -> memory sink) and the oracle re-derives both the nearest-as-of
# choice AND the stream's emission horizon relationally.
# ---------------------------------------------------------------------------

_ASOF_STREAM_SHIFT_US = 420_000_000  # left instants = right + 7 min
_ASOF_STREAM_TOL_US = 300_000_000  # tolerance 5 min


@query(
    "asof_nearest_stream_events",
    _TICKS_SQL
    + f""",
    r AS (
      SELECT event_type, (epoch_us(ts) // 1000) * 1000 AS us,
             max(value) AS value
      FROM ticks GROUP BY 1, 2
    ),
    l AS (SELECT event_type, us + {_ASOF_STREAM_SHIFT_US} AS us FROM r),
    u AS (
      SELECT event_type, us, 0 AS side, value FROM r
      UNION ALL
      SELECT event_type, us, 1, CAST(NULL AS DOUBLE) FROM l
    ),
    w AS (
      SELECT event_type, us, side,
        LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS)
          OVER wb AS bv,
        LAST_VALUE(CASE WHEN side = 0 THEN us END IGNORE NULLS)
          OVER wb AS bt,
        FIRST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS)
          OVER wf AS fv,
        FIRST_VALUE(CASE WHEN side = 0 THEN us END IGNORE NULLS)
          OVER wf AS ft
      FROM u
      WINDOW
        wb AS (PARTITION BY event_type ORDER BY us, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY event_type ORDER BY us, side
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    gm AS (SELECT max(us) AS wmax FROM u)
    SELECT w.event_type, make_timestamp(w.us) AS ts,
           CASE WHEN bt IS NOT NULL AND (ft IS NULL OR w.us - bt <= ft - w.us)
                THEN CASE WHEN w.us - bt <= {_ASOF_STREAM_TOL_US}
                          THEN bv END
                ELSE CASE WHEN ft - w.us <= {_ASOF_STREAM_TOL_US}
                          THEN fv END
           END AS v
    FROM w, gm
    WHERE side = 1
      AND (bt = w.us OR ft IS NOT NULL
           OR w.us + {_ASOF_STREAM_TOL_US} < gm.wmax)
    """,
    bench=False,
)
def asof_nearest_stream_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming nearest as-of twin (streaming/asof_stream.py),
    DRIVER-CHECKED end-to-end: the fn writes the two fixture-derived
    sides to a temp replay dir, runs the REAL applyInPandasWithState
    stream (availableNow, memory sink) with tolerance=5m, and returns
    the drained rows. Right = the unique-instant tick series truncated
    to the MILLISECOND grid (Spark's event-time watermark is tracked in
    ms, so ms-aligned instants make the emission horizon — and hence
    the row SET — exactly reproducible); left = the same instants
    shifted +7 min. The oracle replays the identical decision
    relationally: nearest candidate with backward-wins tie-break and
    tolerance-NULL fill, emitted iff the row is CLOSED by a right at or
    after it OR its t + tolerance deadline expired against the stream's
    final horizon — with ms-aligned instants the data-driven per-key
    horizon is always <= the final global watermark, so the oracle's
    horizon is simply the global max instant (the round-8
    state-bounding semantics). Not benched: throughput is
    the 100M-row scale smoke's job (scripts/scale_smoke.py round8);
    this row pins stream==oracle through the driver gate."""
    import shutil
    import tempfile

    from svoe_spark.streaming.asof_stream import asof_nearest_stream
    from svoe_spark.streaming.sinks import run_available_to_memory

    right = (
        ticks(spark, sf_dir)
        .select(
            "event_type",
            F.timestamp_millis(
                F.expr("unix_micros(ts) div 1000")
            ).alias("ts"),
            "value",
        )
        .groupBy("event_type", "ts")
        .agg(F.max("value").alias("value"))
    )
    left = right.select(
        "event_type",
        F.timestamp_micros(
            F.unix_micros("ts") + _ASOF_STREAM_SHIFT_US
        ).alias("ts"),
    )
    from svoe_spark.streaming.sources import replay_parquet

    base = tempfile.mkdtemp(prefix="asof_stream_q_")
    try:
        rp, lp = base + "/r", base + "/l"
        right.coalesce(1).write.parquet(rp)
        left.coalesce(1).write.parquet(lp)

        def replay(p):
            return replay_parquet(spark, p)

        out = run_available_to_memory(
            asof_nearest_stream(
                replay(lp),
                replay(rp),
                on="ts",
                by="event_type",
                value_col="value",
                out="v",
                tolerance="5m",
            )
        )
        # the memory sink holds the rows; detach from the temp files
        # before they are removed
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
