"""stream_online: the Kappa online path, run open-loop.

A feeder thread writes one parquet file every 250 ms carrying the events
created at a fixed rate during that interval, each stamped with its
creation wall-clock time as ``ts``, renaming each file into the watched
directory. The chain is ``streaming.sources.replay_parquet`` ->
``Featurizer.run_stream`` (mid, 1m stddev and ewma fused in one state
machine) -> ``sinks.foreach_batch``, whose callback collects each
micro-batch and stamps its emission time. After the steady phase the
feeder stops, and backlog bursts are written in one go, each timed from
its write until its last event is emitted.

The warm-up events and each burst are stamped one trailing window
after the events before them, so every burst meets the same window
state and asks the same work of the engine. A burst is measured by the
engine CPU time it takes (``common.engine_cpu_s``), which a busy shared
host moves far less than wall time; the wall-clock catch-up and the
steady phase's latencies are printed and go to the traced run's
per-layer figures.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.common import (
    cached_bytes,
    engine_cpu_s,
    median,
    peak_rss_mb,
    start_session,
    tail,
)
from perfbench.reference import mismatches
from perfbench.trace import Tracer, span_s

#: events per second in the steady phase: about half the rate at which
#: 15 000-event bursts caught up on a 4-core local session (50 000-event
#: bursts catch up faster, as the per-micro-batch cost is spread wider)
RATE = 6000
INTERVAL_S = 0.25
#: bursts large enough that their catch-up is mostly processing, not the
#: fixed per-micro-batch cost
BURSTS = 3
BURST_ROWS = 50_000
#: set-up ends after a small first batch and one burst-sized batch, so the
#: timed phase starts with every code path of the query compiled
WARM_ROWS = (200, BURST_ROWS)
#: event-time gap before the warm-up batches, the steady feed and each
#: burst: past the 1m window, so no window reaches an earlier group
GAP_US = 61_000_000
DRAIN_TIMEOUT_S = 60.0
ALPHA = 0.1
#: instruments whose values are recomputed by the batch path
CHECK_INSTRUMENTS = 8
OUT = {"mid_value": "mid", "vol_value": "vol", "ew_value": "ew"}


def config(path: str) -> dict:
    return {
        "data_source": {"kind": "parquet", "path": path},
        "keys": ["instrument"],
        "features": [
            {"name": "mid", "feature_definition": "mid_price"},
            {"name": "vol", "feature_definition": "volatility_stddev", "deps": ["mid"],
             "params": {"window": "1m"}},
            {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
             "params": {"value_col": "mid_price", "alpha": ALPHA}},
        ],
    }


class Sink:
    """foreachBatch callback: collect the micro-batch, stamp emission."""

    def __init__(self):
        self.batches: list[dict] = []
        self.rows = 0
        self._cv = threading.Condition()

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        pdf = df.toPandas()
        emitted = time.time()
        with self._cv:
            self.batches.append({"id": batch_id, "sink_s": emitted - t0, "emitted": emitted, "rows": pdf})
            self.rows += len(pdf)
            self._cv.notify_all()

    def wait_rows(self, n: int, query) -> float:
        """Block until ``n`` rows were emitted; return the emission time
        of the batch that completed them."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        with self._cv:
            while self.rows < n:
                if query.exception() is not None:
                    raise RuntimeError(f"streaming query failed: {query.exception()}")
                if time.time() > deadline:
                    raise TimeoutError(f"stream emitted {self.rows} of {n} rows")
                self._cv.wait(0.05)
            return self.batches[-1]["emitted"]


def _check(spark, events: pd.DataFrame, emitted: pd.DataFrame, path: str, rng) -> int:
    """Events missing or duplicated among all emitted rows, plus rows of a
    seeded sample of instruments that differ from ``Featurizer.build_features``
    (the batch path of the same feature graph) over the same events."""
    from svoe_spark.plans.featurizer import Featurizer, FeaturizerConfig

    keys = ["instrument", "ts"]
    got = emitted.rename(columns=OUT).assign(ts=lambda d: d["ts"].astype("datetime64[us]"))
    events = events.assign(ts=events["ts"].astype("datetime64[us]"))
    dup = int(got.duplicated(keys).sum())
    got = got.drop_duplicates(keys)
    both = events[keys].merge(got[keys], on=keys, how="outer", indicator=True)
    missing = int((both["_merge"] != "both").sum())

    sample = rng.choice(sorted(events["instrument"].unique()), CHECK_INSTRUMENTS, replace=False)
    gen.write_parquet(events[events["instrument"].isin(sample)], path)
    feats = Featurizer(spark).build_features(FeaturizerConfig.load(config(path)))
    want = (
        feats["mid"][1]
        .join(feats["vol"][1], keys)
        .join(feats["ew"][1], keys)
        .toPandas()
        .rename(columns={"mid_price": "mid", "volatility": "vol", "ewma": "ew"})
        .assign(ts=lambda d: d["ts"].astype("datetime64[us]"))
        .sort_values(keys, ignore_index=True)
    )
    got = got[got["instrument"].isin(sample)].sort_values(keys, ignore_index=True)
    wrong = mismatches(got, want, list(OUT.values()))
    if wrong == 0 and not got[keys].equals(want[keys]):
        wrong = len(got)
    if dup or missing or wrong:
        print(f"stream check: {dup} duplicated, {missing} missing, {wrong} wrong", flush=True)
    return dup + missing + wrong


def run(opts) -> dict:
    from svoe_spark.plans.featurizer import Featurizer
    from svoe_spark.streaming.sinks import foreach_batch
    from svoe_spark.streaming.sources import replay_parquet
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

    watch = os.path.join(opts.run_dir, "in")
    staging = os.path.join(opts.run_dir, "staging")
    os.makedirs(watch)
    os.makedirs(staging)
    feeder = gen.StreamFeeder(opts.seed, watch, staging)
    schema = StructType(
        [
            StructField("instrument", StringType()),
            StructField("ts", TimestampType()),
            StructField("bid", DoubleType()),
            StructField("ask", DoubleType()),
        ]
    )

    tr = Tracer(None, f"stream_online-{opts.seed}", opts.trace)
    with tr.span("session.start") as sp_start:
        spark = start_session(opts.run_dir, opts.cores, opts.trace)
    tr.spark = spark
    with tr.span("session.warmup") as sp_warm:
        sink = Sink()
        out = Featurizer(spark).run_stream(config(watch), replay_parquet(spark, watch, schema=schema))
        query = foreach_batch(out, sink, os.path.join(opts.run_dir, "checkpoint"))
        # stamped in the past, so the steady feed (stamped now) comes later
        start_us = int(time.time() * 1e6) - len(WARM_ROWS) * GAP_US
        for rows in WARM_ROWS:
            feeder.burst(rows, start_us)
            sink.wait_rows(sink.rows + rows, query)
            start_us = feeder.last_us + GAP_US
    first_batch = sink.batches[-1]["id"] + 1

    try:
        with tr.span("stream.run") as sp_run:
            with tr.span("stream.steady"):
                first_steady = len(feeder.files)
                n_files = max(1, round(opts.seconds / INTERVAL_S))
                feeder.start(RATE, INTERVAL_S, n_files)
                feeder.join(opts.seconds + DRAIN_TIMEOUT_S)
                last_steady = len(feeder.files)
                steady_rows = sum(f["rows"] for f in feeder.files)
                sink.wait_rows(steady_rows, query)
            catchup, cpus, jits = [], [], []
            for _ in range(BURSTS):
                with tr.span("stream.burst"):
                    before = []
                    feeder.burst(
                        BURST_ROWS, feeder.last_us + GAP_US, lambda: before.append(engine_cpu_s())
                    )
                    done = sink.wait_rows(sink.rows + BURST_ROWS, query)
                    cpu, jit = engine_cpu_s()
                    catchup.append(done - feeder.files[-1]["written_at"])
                    cpus.append(cpu - before[0][0])
                    jits.append(jit - before[0][1])
        progress = [
            p for p in query.recentProgress if p["batchId"] >= first_batch and p["numInputRows"]
        ]
    finally:
        feeder.join(0)
        query.stop()
    rss = peak_rss_mb(spark)
    leftover = cached_bytes(spark)  # what the engine left persisted

    files = feeder.files
    print(
        f"input stream_online files={len(files)} rows={sum(f['rows'] for f in files)} "
        f"digest={gen.digest(feeder.frames, exclude=('ts',))}",
        flush=True,
    )
    emitted = pd.concat(
        [b["rows"].assign(__emitted=b["emitted"], __batch=i) for i, b in enumerate(sink.batches)],
        ignore_index=True,
    )
    ts_us = emitted["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    file_of = np.searchsorted(np.array([f["first_us"] for f in files]), ts_us, side="right") - 1
    steady = (file_of >= first_steady) & (file_of < last_steady)
    latency_ms = (emitted["__emitted"].to_numpy()[steady] * 1e6 - ts_us[steady]) / 1e3

    attempted = sum(f["rows"] for f in files)
    with tr.span("check"):
        try:
            failed = _check(
                spark,
                pd.concat(feeder.frames, ignore_index=True),
                emitted.drop(columns=["__emitted", "__batch"]),
                os.path.join(opts.run_dir, "check.parquet"),
                np.random.default_rng(opts.seed + 7),
            )
        except Exception as e:  # noqa: BLE001 — a failed check fails every event
            print(f"check error: {e!r}", flush=True)
            failed = attempted
    if failed:
        print(f"stream_online: {failed} events missing, duplicated or wrong", flush=True)
    print(f"stream_online burst catch-up wall s: {[round(c, 3) for c in catchup]}", flush=True)
    print(f"stream_online burst engine cpu s: {[round(c, 2) for c in cpus]}", flush=True)
    print(f"stream_online burst jit cpu s: {[round(c, 2) for c in jits]}", flush=True)
    print(
        f"stream_online steady latency ms: p50 {np.median(latency_ms):.1f} p99 {tail(latency_ms):.1f}",
        flush=True,
    )

    e2e = {
        "setup_s": span_s(sp_start) + span_s(sp_warm),
        "cpu_s": median(cpus),
        "peak_rss_mb": rss,
    }
    layers = {}
    if opts.trace:
        tr.collect_spark({str(query.runId): sp_run["id"], None: sp_run["id"]})

        def dur(p, k):
            return p.get("durationMs", {}).get(k, 0)

        # files are listed in name order, so the highest file index emitted
        # so far bounds what the stream has consumed
        last_file = (
            pd.Series(file_of).groupby(emitted["__batch"].to_numpy()).max()
            .reindex(range(len(sink.batches)), fill_value=-1)
        )
        done_files = np.maximum.accumulate(last_file.to_numpy())
        written = [sum(f["written_at"] <= b["emitted"] for f in files) for b in sink.batches]
        state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
        layers = {
            "session.start_s": span_s(sp_start),
            "session.warmup_s": span_s(sp_warm),
            "session.cached_bytes_end": leftover,
            "streaming.batches": len(progress),
            "streaming.batch_ms_p50": median([dur(p, "triggerExecution") for p in progress]),
            "streaming.batch_ms_max": max(dur(p, "triggerExecution") for p in progress),
            "streaming.planning_ms_p50": median([dur(p, "queryPlanning") for p in progress]),
            "streaming.commit_ms_p50": median([dur(p, "commitOffsets") for p in progress]),
            "streaming.state_rows": state.get("numRowsTotal", 0),
            "streaming.state_bytes": state.get("memoryUsedBytes", 0),
            "streaming.sink_ms_p50": 1e3 * median([b["sink_s"] for b in sink.batches]),
            "streaming.backlog_files_max": max(w - (d + 1) for w, d in zip(written, done_files)),
            "streaming.gen_late_ms_max": 1e3 * max(f["late_s"] for f in files[first_steady:last_steady]),
            "trace.wall_s": median(catchup),
            "trace.rows_per_s": median([BURST_ROWS / c for c in catchup]),
            "trace.latency_p50_ms": float(np.median(latency_ms)),
            "trace.latency_p99_ms": tail(latency_ms),
            "trace.jit_cpu_s": median(jits),
            **tr.spark_layer(tr.descendants({sp_run["id"]})),
        }
    return {
        "tracer": tr,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layers,
    }

