"""Event-driven backtester over feature DataFrames.

Reference semantics (reference: backtester/loop/loop.py:49-77,
execution/execution_simulator.py:26-181): pop grouped feature events in
time order, strategy emits orders, simulator fills at mid price with a
commission, wallet/portfolio accounting, periodic balance snapshots.
Distributed runs split the config's time range across workers and
aggregate results (runner.py:132-180).

Spark shape: the per-instrument event loop is a per-key `applyInPandas`
(sequential inside a key — inherent to the semantics — parallel across
instruments); the reference's time-split parallelism is
`run_backtest_time_split`, which maps config windows over a bucketed
`applyInPandas` the same way the reference fans configs out to actors.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


@dataclass
class SimConfig:
    initial_balance: float = 10_000.0
    commission: float = 0.001  # fraction of notional per fill
    position_size: float = 1.0  # units per order


def buy_low_sell_high(prices: pd.Series) -> pd.Series:
    """The reference strategy (backtester/strategy/buy_low_sell_high.py:
    28-48): buy at a 3-point local minimum, sell at a local maximum.
    Returns +1/-1/0 signals."""
    prev, nxt = prices.shift(1), prices.shift(-1)
    sig = pd.Series(0, index=prices.index, dtype=int)
    sig[(prices < prev) & (prices < nxt)] = 1
    sig[(prices > prev) & (prices > nxt)] = -1
    return sig


RESULT_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("n_events", LongType()),
        StructField("n_trades", LongType()),
        StructField("final_balance", DoubleType()),
        StructField("final_position", DoubleType()),
        StructField("final_equity", DoubleType()),
        StructField("total_commission", DoubleType()),
    ]
)


def alternate_signals(prices: pd.Series) -> pd.Series:
    """Degenerate always-fill strategy (buy the 1st, 3rd, ... event,
    sell the 2nd, 4th, ...): with a deep enough wallet every signal
    fills, so the whole simulation collapses to a closed-form
    aggregation — the SQL-expressible member of the family that gives
    the state-machine backtester a hash-checkable oracle
    (`backtest_grid_cents`). With integer-cent prices and dyadic
    commissions every float op in `_simulate` is exact, so the
    simulator's doubles equal the oracle's integer arithmetic
    bit-for-bit."""
    idx = pd.Series(range(len(prices)), index=prices.index)
    return (1 - 2 * (idx % 2)).astype(int)


def _simulate(
    pdf: pd.DataFrame,
    symbol: str,
    price_col: str,
    signal_fn: Callable[[pd.Series], pd.Series],
    cfg: SimConfig,
    order_cols: tuple[str, ...] = ("ts",),
) -> pd.DataFrame:
    pdf = pdf.sort_values(list(order_cols))
    prices = pdf[price_col].astype(float).reset_index(drop=True)
    signals = signal_fn(prices)
    balance, position, n_trades, commission_paid = cfg.initial_balance, 0.0, 0, 0.0
    for px, sig in zip(prices, signals):
        if sig > 0 and balance >= px * cfg.position_size:
            cost = px * cfg.position_size
            fee = cost * cfg.commission
            balance -= cost + fee
            position += cfg.position_size
            commission_paid += fee
            n_trades += 1
        elif sig < 0 and position >= cfg.position_size:
            proceeds = px * cfg.position_size
            fee = proceeds * cfg.commission
            balance += proceeds - fee
            position -= cfg.position_size
            commission_paid += fee
            n_trades += 1
    last_px = float(prices.iloc[-1]) if len(prices) else 0.0
    return pd.DataFrame(
        [
            {
                "symbol": symbol,
                "n_events": len(pdf),
                "n_trades": n_trades,
                "final_balance": balance,
                "final_position": position,
                "final_equity": balance + position * last_px,
                "total_commission": commission_paid,
            }
        ]
    )


def run_backtest(
    features: DataFrame,
    price_col: str,
    by: str = "symbol",
    signal_fn: Callable[[pd.Series], pd.Series] = buy_low_sell_high,
    cfg: SimConfig = SimConfig(),
) -> DataFrame:
    """One sequential simulation per instrument, instruments in
    parallel. features: (by, ts, price_col, ...)."""

    # no type hints on the pandas functions here: partial ones make
    # PySpark warn it cannot infer the eval type
    def fn(key, pdf):
        return _simulate(pdf, key[0], price_col, signal_fn, cfg)

    return features.groupBy(by).applyInPandas(fn, schema=RESULT_SCHEMA)


def run_backtest_time_split(
    features: DataFrame,
    price_col: str,
    n_splits: int,
    by: str = "symbol",
    signal_fn: Callable[[pd.Series], pd.Series] = buy_low_sell_high,
    cfg: SimConfig = SimConfig(),
) -> DataFrame:
    """The reference's distributed mode (runner.py:132-180): the time
    range is split into n independent sub-backtests (each starts fresh
    — same approximation the reference makes), parallel across
    (instrument, window)."""
    bounds = features.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None or hi is None:
        # zero feature rows: an empty result, like run_backtest —
        # not a TypeError on None arithmetic
        empty_schema = StructType(
            [RESULT_SCHEMA[0], StructField("window", LongType())]
            + RESULT_SCHEMA.fields[1:]
        )
        return features.sparkSession.createDataFrame([], empty_schema)
    total = (hi - lo).total_seconds() or 1.0
    bucket = F.least(
        F.lit(n_splits - 1),
        F.floor(
            (F.col("ts").cast("double") - F.lit(lo.timestamp()))
            / F.lit(total / n_splits)
        ).cast("int"),
    )
    bucketed = features.withColumn("__window", bucket)

    def fn(key, pdf):
        out = _simulate(pdf, key[0], price_col, signal_fn, cfg)
        out.insert(1, "window", key[1])
        return out

    schema = StructType(
        [RESULT_SCHEMA[0], StructField("window", LongType())] + RESULT_SCHEMA.fields[1:]
    )
    return bucketed.groupBy(by, "__window").applyInPandas(fn, schema=schema)


GRID_SCHEMA = StructType(
    [
        StructField("config_id", LongType()),
        StructField("initial_balance", DoubleType()),
        StructField("commission", DoubleType()),
        StructField("position_size", DoubleType()),
    ]
    + RESULT_SCHEMA.fields
)


def run_backtest_grid(
    features: DataFrame,
    price_col: str,
    grid: list[SimConfig],
    by: str = "symbol",
    signal_fn: Callable[[pd.Series], pd.Series] = buy_low_sell_high,
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Distributed strategy-parameter sweep: every config in ``grid``
    is simulated over every instrument, returning one PnL row per
    (config, instrument) — the reference's config fan-out across Ray
    actors (backtester/runner.py:132-180) as a single Spark job.

    A config-id array is exploded onto the feature rows, so each
    (instrument, config) pair is its own task — maximum parallelism, at
    the cost of shuffling |grid| copies of the data (exactly the
    reference's one-actor-per-config data duplication). The
    equivalence test drives it against sequential per-config runs."""
    if not grid:
        raise ValueError("empty parameter grid")
    cfgs = list(grid)
    ids = F.array(*[F.lit(i) for i in range(len(cfgs))])
    rep = features.withColumn("__cfg", F.explode(ids))

    def fn_rep(key, pdf):
        cid = int(key[1])
        cfg = cfgs[cid]
        out = _simulate(pdf, key[0], price_col, signal_fn, cfg, order_cols)
        return _with_cfg(out, cid, cfg)

    return rep.groupBy(by, "__cfg").applyInPandas(fn_rep, schema=GRID_SCHEMA)


def _with_cfg(out: pd.DataFrame, cid: int, cfg: SimConfig) -> pd.DataFrame:
    out = out.copy()
    out.insert(0, "config_id", pd.Series([cid] * len(out), dtype="int64"))
    out.insert(1, "initial_balance", float(cfg.initial_balance))
    out.insert(2, "commission", float(cfg.commission))
    out.insert(3, "position_size", float(cfg.position_size))
    return out
