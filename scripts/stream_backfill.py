#!/usr/bin/env python
"""A stateful stream draining a large backlog: how long it takes in the
session's state partitions and in ``session.STREAM_STATE_PARTITIONS``.

The other side of the state-partition rule (``session.bind_stream_session``):
perfbench's ``stream_online`` measures a live query whose micro-batches
carry one burst each, where one state partition saves each batch the
fixed cost of the others. Here every micro-batch carries a large backlog,
so the partitions' work runs in parallel and one partition runs it in
series.

For each operator (``run_stream`` of the ``stream_online`` graph: mid,
1m stddev, ewma; ``asof_nearest_stream`` with a 1m tolerance) a seeded
backlog of ``--rows`` events over ``--keys`` keys, written as 16 parquet
files, is drained by ``sinks.foreach_batch`` into a ``noop`` write twice
on a fresh checkpoint each: with ``availableNow`` (the query keeps the
session's ``spark.sql.shuffle.partitions``) and with the default live
trigger (``STREAM_STATE_PARTITIONS``), stopped once every file is
processed; ``--passes`` times, the order of the two swapped each pass, so
the first drain's warm-up (JIT, Python workers) falls on each side. It
prints each drain's wall time, micro-batches and state-store instances.

    python scripts/stream_backfill.py                   # 8M events, 64 keys, local[4]
    python scripts/stream_backfill.py --rows 2000000 --op asof

Run from the root of a checkout; files go to a temporary directory.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FILES = 16
SPAN_US = 86_400_000_000
T0_US = 1_700_000_000_000_000


def write(path: str, n: int, keys: int, phase_us: int, quotes: bool, seed: int) -> None:
    """``n`` events, one per ``SPAN_US / n`` from ``T0_US + phase_us``,
    keys in turn: quotes (instrument, ts, bid, ask) or values (symbol,
    ts, value)."""
    os.makedirs(path)
    rng = np.random.default_rng(seed)
    names = np.array([f"K{i}" for i in range(keys)])
    per = n // FILES
    for f in range(FILES):
        idx = np.arange(f * per, (f + 1) * per)
        ts = pa.array(T0_US + idx * (SPAN_US // n) + phase_us, pa.timestamp("us", tz="UTC"))
        if quotes:
            mid = 100 + np.cumsum(rng.normal(0, 0.01, len(idx)))
            cols = {"instrument": names[idx % keys], "ts": ts, "bid": mid - 0.01, "ask": mid + 0.01}
        else:
            cols = {"symbol": names[idx % keys], "ts": ts, "value": (idx % 1000).astype(float)}
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{f:03d}.parquet"))


def drain(df, checkpoint: str, trigger: dict | None) -> tuple[float, int, list[int]]:
    """Wall seconds, micro-batches with input and state-store instance
    counts of ``df`` drained by ``foreach_batch`` into a noop write."""
    from svoe_spark.streaming.sinks import foreach_batch

    t0 = time.perf_counter()
    query = foreach_batch(df, lambda b, _: b.write.format("noop").mode("append").save(), checkpoint, trigger)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    wall = time.perf_counter() - t0
    fed = [p for p in query.recentProgress if p["numInputRows"]]
    return wall, len(fed), sorted({op["numStateStoreInstances"] for p in fed for op in p["stateOperators"]})


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--rows", type=int, default=8_000_000, help="events per backlog (asof: both sides)")
    p.add_argument("--keys", type=int, default=64)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--op", choices=("run_stream", "asof", "both"), default="both")
    p.add_argument("--passes", type=int, default=2)
    opts = p.parse_args(argv)

    from svoe_spark.plans.featurizer import Featurizer
    from svoe_spark.session import get_spark
    from svoe_spark.streaming.asof_stream import asof_nearest_stream
    from svoe_spark.streaming.sources import replay_parquet

    base = tempfile.mkdtemp(prefix="stream_backfill-")
    spark = get_spark("stream_backfill", master=f"local[{opts.cores}]",
                      extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ops = {}
        if opts.op in ("run_stream", "both"):
            quotes = os.path.join(base, "quotes")
            write(quotes, opts.rows, opts.keys, 0, True, 7)
            cfg = {"data_source": {"kind": "parquet", "path": quotes}, "keys": ["instrument"], "features": [
                {"name": "mid", "feature_definition": "mid_price"},
                {"name": "vol", "feature_definition": "volatility_stddev", "deps": ["mid"],
                 "params": {"window": "1m"}},
                {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
                 "params": {"value_col": "mid_price", "alpha": 0.1}},
            ]}
            ops["run_stream"] = lambda: Featurizer(spark).run_stream(cfg, replay_parquet(spark, quotes))
        if opts.op in ("asof", "both"):
            half = opts.rows // 2
            left, right = os.path.join(base, "left"), os.path.join(base, "right")
            write(right, half, opts.keys, 0, False, 7)
            # a third of a step after each right instant: every match is a nearest decision
            write(left, half, opts.keys, SPAN_US // half // 3, False, 7)
            ops["asof_nearest_stream"] = lambda: asof_nearest_stream(
                replay_parquet(spark, left), replay_parquet(spark, right),
                on="ts", by="symbol", value_col="value", tolerance="1m",
            )
        print(f"{opts.rows} events, {opts.keys} keys, local[{opts.cores}], "
              f"spark.sql.shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')}")
        print(f"{'pass':<4} {'operator':<20} {'trigger':<12} {'wall_s':>7} {'batches':>7}  state_store_instances")
        sides = [("availableNow", {"availableNow": True}), ("live", None)]
        for i in range(opts.passes):
            for name, build in ops.items():
                for label, trigger in sides if i % 2 == 0 else sides[::-1]:
                    ckpt = os.path.join(base, f"ckpt-{i}-{name}-{label}")
                    wall, batches, instances = drain(build(), ckpt, trigger)
                    print(f"{i + 1:<4} {name:<20} {label:<12} {wall:7.2f} {batches:7d}  "
                          f"{','.join(map(str, instances))}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
