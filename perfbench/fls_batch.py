"""fls_batch: the offline research path, run closed-loop.

Each pass takes a fresh seeded quote set (64 instruments over 3 days,
instrument I00 holding ~40% of the rows), builds the point-in-time
FeatureLabelSet with ``Featurizer.run`` (mid, relative spread, 1m
stddev, 1m pct-change, ewma; label = mid 10 s ahead), forces it with a
noop write and feeds it to ``time_split`` -> ``train_regressor`` ->
``score``. Passes start from an empty cache and never re-read an earlier
pass's input, so no pass is served from a cache another filled.

A pass is measured by its engine CPU time (``common.engine_cpu_s``),
which a busy shared host moves far less than wall time; its wall time is
printed and goes to the traced run's per-layer figures.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.common import (
    cached_bytes,
    engine_cpu_s,
    force,
    median,
    peak_rss_mb,
    start_session,
    tail,
)
from perfbench.reference import fls_reference, mismatches
from perfbench.trace import Tracer, span_s

ROWS = 30_000
#: One timed pass per this many seconds of ``--seconds``, at least two. A
#: fixed count rather than a deadline: passes get cheaper as the JVM
#: compiles, so a count that varied between runs would move the median.
SECONDS_PER_PASS = 3.0
MIN_PASSES = 2
#: untimed passes before the timed ones: a small one that compiles every
#: code path, then a full-size one, which would otherwise be the costliest
#: and least predictable timed pass while the JIT catches up
WARM_ROWS = (5_000, ROWS)
HOT = "I00"
LOOKAHEAD_S = 10.0
WINDOW_S = 60.0
ALPHA = 0.1
FEATURES = ["mid-mid_price", "spr-spread", "vol-volatility", "mom-diff", "ew-ewma"]
LABEL = "label_mid-mid_price"
#: FLS column -> reference column
CHECKED = {LABEL: "label", **dict(zip(FEATURES, ["mid", "spr", "vol", "mom", "ew"]))}


def config(path: str) -> dict:
    return {
        "data_source": {"kind": "parquet", "path": path},
        "keys": ["instrument"],
        "features": [
            {"name": "mid", "feature_definition": "mid_price"},
            {"name": "spr", "feature_definition": "relative_spread"},
            {"name": "vol", "feature_definition": "volatility_stddev", "deps": ["mid"],
             "params": {"window": "1m"}},
            {"name": "mom", "feature_definition": "diff", "deps": ["mid"],
             "params": {"window": "1m", "value_col": "mid_price"}},
            {"name": "ew", "feature_definition": "ewma", "deps": ["mid"],
             "params": {"value_col": "mid_price", "alpha": ALPHA}},
        ],
        "label_feature": "mid",
        "label_lookahead": f"{LOOKAHEAD_S:g}s",
    }


def _pass(spark, tr: Tracer, path: str):
    """One closed-loop request: FLS -> split -> train -> score."""
    from svoe_spark.consumers.trainer import score, time_split, train_regressor
    from svoe_spark.plans.featurizer import Featurizer

    cpu0, jit0 = engine_cpu_s()
    with tr.span("pass") as sp:
        with tr.span("plans.build"):
            fls = Featurizer(spark).run(config(path)).persist()
        with tr.span("plans.force"):
            force(fls)
        with tr.span("consumers.split"):
            train, _valid, test = time_split(fls)
        with tr.span("consumers.train"):
            model = train_regressor(train, FEATURES, LABEL)
        with tr.span("consumers.score"):
            pred = F.col("prediction")
            scored = score(model, test).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(pred.isNull() | F.isnan(pred), 1).otherwise(0)).alias("bad"),
            ).first()
    cpu1, jit1 = engine_cpu_s()
    return fls, scored, span_s(sp), cpu1 - cpu0, jit1 - jit0


def _check(fls, quotes, scored, rng) -> int:
    """Mismatching rows of the hot and one cold instrument against the
    pandas reference, plus a failed scoring (no rows, or a non-finite
    prediction)."""
    counts = quotes["instrument"].value_counts()
    cold = rng.choice(sorted(counts[(counts.index != HOT) & (counts >= 100)].index))
    got = fls.where(F.col("instrument").isin([HOT, cold])).toPandas()
    bad = 0
    for inst in (HOT, cold):
        g = got[got["instrument"] == inst].sort_values("ts").reset_index(drop=True)
        g = g.rename(columns=CHECKED)
        want = fls_reference(quotes[quotes["instrument"] == inst], LOOKAHEAD_S, WINDOW_S, ALPHA)
        n = mismatches(g, want, list(CHECKED.values()))
        if n == 0 and not np.array_equal(g["ts"].to_numpy(), want["ts"].to_numpy()):
            n = len(g)
        bad += n
    if scored["n"] == 0 or scored["bad"]:
        bad += 1
    return bad


def _isolation(spark, tr: Tracer, path: str) -> None:
    """Force each layer's output on cached inputs (traced runs only)."""
    from svoe_spark.operators.asof import asof_join_multi, lookahead_shift
    from svoe_spark.operators.windows import pct_change, sliding_stddev
    from svoe_spark.plans.featurizer import Featurizer, FeaturizerConfig
    from svoe_spark.sources.tables import read_parquet

    with tr.span("iso.sources.scan"):
        force(read_parquet(spark, path))
    force(read_parquet(spark, path).persist())
    cfg = FeaturizerConfig.load(config(path))
    feats = Featurizer(spark).build_features(cfg)
    for name in ("mid", "spr", "vol", "mom", "ew"):
        with tr.span(f"iso.plans.feature.{name}"):
            force(feats[name][1])
    mid = feats["mid"][1]
    with tr.span("iso.operators.windows"):
        force(sliding_stddev(mid, on="ts", value="mid_price", by=cfg.keys, window="1m"))
        force(pct_change(mid, on="ts", value="mid_price", by=cfg.keys, window="1m"))
    labels = lookahead_shift(
        mid, cfg.label_lookahead, on="ts", by=cfg.keys, value_cols=["mid_price"],
        prefix="label_mid-",
    ).select(*cfg.keys, "ts", LABEL).persist()
    rights = {f"{n}-": f.persist() for n, (_, f) in feats.items()}
    for df in (labels, *rights.values()):
        force(df)
    with tr.span("iso.operators.asof"):
        force(asof_join_multi(labels, rights, on="ts", by=cfg.keys))
    spark.catalog.clearCache()


def run(opts) -> dict:
    data = os.path.join(opts.run_dir, "data")
    os.makedirs(data)

    def make_input(k: int, rows: int):
        q = gen.quotes(opts.seed * 1000 + k, rows)
        path = os.path.join(data, f"quotes-{k}.parquet")
        gen.write_parquet(q, path)
        print(f"input fls_batch pass={k} rows={len(q)} digest={gen.digest([q])}", flush=True)
        return q, path

    warm_paths = [make_input(990 + k, rows)[1] for k, rows in enumerate(WARM_ROWS)]
    tr = Tracer(None, f"fls_batch-{opts.seed}", opts.trace)
    with tr.span("session.start") as sp_start:
        spark = start_session(opts.run_dir, opts.cores, opts.trace)
    tr.spark = spark
    with tr.span("session.warmup") as sp_warm:
        for warm_path in warm_paths:
            fls = _pass(spark, tr, warm_path)[0]
            fls.unpersist()
            spark.catalog.clearCache()

    rng = np.random.default_rng(opts.seed + 7)
    times, rates, cpus, jits, leftover = [], [], [], [], []
    attempted = failed = 0
    for _ in range(max(MIN_PASSES, round(opts.seconds / SECONDS_PER_PASS))):
        quotes, path = make_input(len(times), ROWS)
        fls, scored, t, cpu, jit = _pass(spark, tr, path)
        times.append(t)
        rates.append(len(quotes) / t)
        cpus.append(cpu)
        jits.append(jit)
        attempted += 1
        try:
            bad = _check(fls, quotes, scored, rng)
        except Exception as e:  # noqa: BLE001 — a failed check is a failed pass
            print(f"check error in pass {attempted - 1}: {e!r}", flush=True)
            bad = 1
        if bad:
            print(f"pass {attempted - 1}: {bad} mismatching rows", flush=True)
            failed += 1
        fls.unpersist(blocking=True)
        leftover.append(cached_bytes(spark))  # what the engine left persisted
        spark.catalog.clearCache()
    rss = peak_rss_mb(spark)
    print(f"fls_batch pass wall s: {[round(t, 3) for t in times]}", flush=True)
    print(f"fls_batch pass engine cpu s: {[round(c, 2) for c in cpus]}", flush=True)
    print(f"fls_batch pass jit cpu s: {[round(c, 2) for c in jits]}", flush=True)

    e2e = {
        "setup_s": span_s(sp_start) + span_s(sp_warm),
        "cpu_s": median(cpus),
        "peak_rss_mb": rss,
    }
    layers = {}
    if opts.trace:
        # the timed passes; the warm-up pass sits under session.warmup
        timed = tr.descendants({s["id"] for s in tr.spans if s["name"] == "pass" and s["parent"] is None})
        _isolation(spark, tr, path)
        tr.collect_spark()

        def one(name):
            return next(s for s in tr.spans if s["name"] == name)

        asof = one("iso.operators.asof").get("spark", {})
        layers = {
            "session.start_s": span_s(sp_start),
            "session.warmup_s": span_s(sp_warm),
            "session.cached_bytes_end": leftover[-1],
            "sources.scan_s": span_s(one("iso.sources.scan")),
            "sources.scan_bytes": tr.sql_total(one("iso.sources.scan"), "size of files read"),
            "plans.build_s": median(tr.durations("plans.build", timed)),
            "plans.eager_jobs": median(
                [s.get("spark", {}).get("jobs", 0) for s in tr.spans
                 if s["name"] == "plans.build" and s["id"] in timed]
            ),
            "plans.persisted_bytes": median(leftover),
            **{f"plans.feature.{n}_s": span_s(one(f"iso.plans.feature.{n}"))
               for n in ("mid", "spr", "vol", "mom", "ew")},
            "operators.windows_s": span_s(one("iso.operators.windows")),
            "operators.asof_s": span_s(one("iso.operators.asof")),
            "operators.asof.shuffle_bytes": asof.get("shuffle_write_bytes", 0),
            "operators.asof.spill_bytes": asof.get("spill_memory_bytes", 0)
            + asof.get("spill_disk_bytes", 0),
            "operators.asof.task_skew": asof.get("task_skew", 0.0),
            "consumers.split_s": median(tr.durations("consumers.split", timed)),
            "consumers.train_s": median(tr.durations("consumers.train", timed)),
            "consumers.score_s": median(tr.durations("consumers.score", timed)),
            "trace.wall_s": median(times),
            "trace.rows_per_s": median(rates),
            "trace.latency_p50_ms": 1000 * median(times),
            "trace.latency_p99_ms": 1000 * tail(times),
            "trace.jit_cpu_s": median(jits),
        }
        layers.update(tr.spark_layer(timed))
    return {
        "tracer": tr,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layers,
    }
