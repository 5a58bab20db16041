#!/usr/bin/env python
"""Scale smoke: key operators at 20M rows with deliberate key skew.

Generates synthetic ticks with spark.range (no driver-side data, no
test fixtures touched): 3 instruments where one carries 90% of volume —
the hot-key shape that breaks naive per-key plans. Times:

  * as-of join, default plan (per-key sort: the hot key serializes)
  * as-of join, time-bucketed plan (parallelism = keys x buckets)
  * OHLCV tumbling agg, trailing-window volatility, exact dedup
  * dense-tick tvi, OHLCV bars and volatility on the per-key kernels
    (``SMOKE_ONLY=dense``)
  * order-book replay, sequential vs time-bucketed
  * curation (global shuffle rank / sequence packing) at 20M rows
  * MinHash signatures over 2M synthetic docs (shuffle-free path)

Prints one JSON line (progress per step on stderr); summarized in
docs/ARCHITECTURE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from svoe_spark.operators.asof import asof_join  # noqa: E402
from svoe_spark.operators.windows import ohlcv, sliding_stddev  # noqa: E402
from svoe_spark.session import get_spark  # noqa: E402

N_LEFT = 20_000_000
N_RIGHT = 2_000_000


def gen_ticks(spark, n, start=1_700_000_000.0, span=86_400.0):
    # 90% of rows land on the hot instrument
    sym = (
        F.when(F.col("id") % 10 < 9, F.lit("HOT"))
        .when(F.col("id") % 10 == 9, F.lit("COLD-A"))
        .otherwise(F.lit("COLD-B"))
    )
    return spark.range(n).select(
        (F.lit(start) + (F.col("id") / n) * span).cast("timestamp").alias("ts"),
        sym.alias("symbol"),
        (100.0 + F.sin(F.col("id") / 1000.0) * 5.0).alias("price"),
    )


def timed(fn, label: str = ""):
    t0 = time.perf_counter()
    fn()
    dt = round(time.perf_counter() - t0, 2)
    if label:
        print(f"# {label}: {dt}s", file=sys.stderr, flush=True)
    return dt


def dedup_clusters_10m(spark, results, force, n_docs=10_000_000):
    """Full near-dup pipeline at 10M docs: MinHash/LSH pairs -> verified
    edges -> connected components -> canonical pick. Planted structure:
    ids {i, i+1, i+2} for i % 5 == 0 form a near-dup trio (members share
    11 of 12 tokens) — 60% of the corpus in 2M clusters of 3; the rest
    unique. Reports wall time per stage, CC round count (asserted — a
    near-clique pair graph must converge in a handful of propagation
    rounds, never hitting the two-star fallback), and edge skew."""
    from svoe_spark.operators.dedup import minhash_dedup_pairs
    from svoe_spark.operators.graph import dedup_clusters

    grp = F.col("id") - F.pmod(F.col("id"), F.lit(5))
    in_trio = F.pmod(F.col("id"), F.lit(5)) < 3
    # 11 shared tokens keyed by the trio head (or the doc id when
    # unique) + 1 member-distinct token -> within-trio Jaccard
    # |11| / |13| = 0.846 >= threshold, cross-trio ~0
    base_key = F.when(in_trio, grp).otherwise(F.col("id") + 1_000_000_000)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.conv(F.hex(F.xxhash64(base_key * 31 + i)), 16, 36)
                for i in range(11)
            ],
            F.conv(F.hex(F.xxhash64(F.col("id") + 7_000_000_000)), 16, 36),
        ).alias("text"),
    )

    t0 = time.perf_counter()
    pairs = minhash_dedup_pairs(docs, threshold=0.5).select("id_a", "id_b")
    pairs = pairs.persist()
    n_pairs = pairs.count()
    results["dedup10m_pairs_sec"] = round(time.perf_counter() - t0, 2)
    results["dedup10m_n_pairs"] = n_pairs
    print(f"# dedup10m pairs: {n_pairs} in {results['dedup10m_pairs_sec']}s",
          file=sys.stderr, flush=True)

    # edge skew: degree distribution of the pair graph
    deg = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .count()
    )
    sk = deg.agg(
        F.max("count").alias("mx"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.avg("count").alias("avg"),
    ).first()
    results["dedup10m_edge_skew"] = {
        "max_degree": int(sk["mx"]),
        "p99_degree": int(sk["p99"]),
        "avg_degree": round(float(sk["avg"]), 3),
    }

    t0 = time.perf_counter()
    from svoe_spark.operators.graph import connected_components

    comp = connected_components(pairs)
    force(comp)
    results["dedup10m_cc_sec"] = round(time.perf_counter() - t0, 2)
    results["dedup10m_cc_rounds"] = comp._svoe_cc_rounds
    results["dedup10m_cc_algorithm"] = comp._svoe_cc_algorithm
    # round-count assertion: near-clique LSH graphs are diameter <= 2 —
    # propagation must finish (incl. its +1 fixpoint-confirm round)
    # well before the two-star switch
    assert comp._svoe_cc_algorithm == "propagation", comp._svoe_cc_algorithm
    assert comp._svoe_cc_rounds <= 4, comp._svoe_cc_rounds
    print(f"# dedup10m CC: {results['dedup10m_cc_sec']}s in "
          f"{comp._svoe_cc_rounds} rounds", file=sys.stderr, flush=True)

    t0 = time.perf_counter()
    clustered = dedup_clusters(docs, pairs)
    kept = clustered.filter(F.col("is_canonical"))
    n_kept = kept.count()
    results["dedup10m_canonical_sec"] = round(time.perf_counter() - t0, 2)
    results["dedup10m_n_docs"] = n_docs
    results["dedup10m_n_canonical"] = n_kept
    # trios collapse to 1 survivor each: n - 2*(n//5) expected. Exact
    # from below (Jaccard-verified pairs can never over-merge); a tiny
    # overshoot is legal — LSH banding is probabilistic, and a trio
    # splits iff 2 of its 3 pairs miss every band (measured ~2 per 1M
    # docs at these params)
    expected = n_docs - 2 * (n_docs // 5)
    assert expected <= n_kept <= expected + max(10, n_docs // 50_000), n_kept
    pairs.unpersist()
    print(f"# dedup10m canonical pick: {results['dedup10m_canonical_sec']}s, "
          f"{n_kept} survivors", file=sys.stderr, flush=True)




def semdedup_smoke(spark, results, force, n_vec=2_000_000, dim=64):
    """Hierarchical SemDeDup at scale: 2M x 64 vectors assigned into a
    32x32 = 1024-cell codebook (two 32-wide interpreted argmax folds
    per row — the stage that must stay a map-only projection), then the
    cluster-blocked prune on a 200k planted-twin subset (vectors 2i and
    2i+1 identical => same cell, cosine 1, odd id dropped). Asserts the
    prune recall is exact on the planted structure."""
    import math

    from svoe_spark.operators.similarity import (
        ivf_assign_2level,
        semantic_prune,
    )

    K1 = K2 = 32
    coarse = [
        [math.sin(0.7 * (c * dim + d + 1)) for d in range(dim)]
        for c in range(K1)
    ]
    sub = [
        [
            [math.sin(0.3 * ((c * K2 + s) * dim + d + 1)) for d in range(dim)]
            for s in range(K2)
        ]
        for c in range(K1)
    ]
    # pair-planted vectors: 2i and 2i+1 share the seed i
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: F.sin((F.col("id") / 2).cast("bigint") * 131 + j * 17),
    )
    emb = spark.range(n_vec).select(F.col("id").alias("vec_id"), vec.alias("embedding"))

    results[f"ivf2_assign_{n_vec//1_000_000}M_sec"] = timed(
        lambda: force(ivf_assign_2level(emb, coarse, sub)),
        "ivf_assign_2level",
    )

    n_sub = 200_000
    small = emb.where(F.col("vec_id") < n_sub)
    assigned = ivf_assign_2level(small, coarse, sub).persist()
    pruned = None

    def run_prune():
        nonlocal pruned
        pruned = semantic_prune(
            assigned, threshold=0.999, method="numpy"
        ).persist()
        force(pruned)

    results["semdedup_prune_200k_sec"] = timed(run_prune, "semantic_prune")
    # expr-path reference on a 20k subset: the interpreted fold measured
    # 782 s for the full 200k (the motivation for the numpy path)
    sub20 = assigned.where(F.col("vec_id") < 20_000)
    results["semdedup_prune_expr_20k_sec"] = timed(
        lambda: force(semantic_prune(sub20, threshold=0.999)),
        "semantic_prune_expr_20k",
    )
    dropped = {r["vec_id"] for r in pruned.where("dropped").collect()}
    # every odd id must drop (its even twin is identical, same cell,
    # smaller id); no even id may drop unless a cross-pair collision
    # also hit — assert exact on the planted structure
    n_odd = sum(1 for v in dropped if v % 2 == 1)
    results["semdedup_dropped"] = len(dropped)
    assert n_odd == n_sub // 2, (n_odd, len(dropped))
    pruned.unpersist()
    assigned.unpersist()



def round4_smoke(spark, results, force, n_docs=2_000_000, n_ticks=20_000_000):
    """Round-4 operators at scale: substring-span dedup + model-based
    quality scoring over 2M synthetic docs, and the incremental rollup
    store at 20M ticks (full build vs one-day incremental refresh).

    Docs: 60 pseudo-random tokens from an effectively unbounded vocab
    (xxhash64-derived), with an 8-token boilerplate phrase planted in
    10% of docs — the exact shape repeated_ngram_spans exists to find:
    corpus-frequent grams are RARE (one phrase), so the hits relation
    is ~0.8M positions, not the full 120M gram stream."""
    from svoe_spark.operators.dedup import remove_repeated_spans, repeated_ngram_spans
    from svoe_spark.operators.text_analysis import quality_classifier

    tok = lambda e: F.concat(F.lit("t"), F.abs(F.xxhash64(e)).cast("string"))  # noqa: E731
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda j: tok(F.col("id") * 1000 + j),
        ),
        " ",
    )
    phrase = " ".join(f"boiler{i}" for i in range(8))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 == 0, F.concat(body, F.lit(" " + phrase))
        ).otherwise(body).alias("text"),
    )
    spans = None

    def run_spans():
        nonlocal spans
        # persist: the count below must not re-run the 120M-gram pass
        spans = repeated_ngram_spans(docs, k=5, min_count=2).persist()
        force(spans)

    results[f"ngram_spans_{n_docs//1_000_000}M_docs_sec"] = timed(
        run_spans, "repeated_ngram_spans"
    )
    n_span_docs = spans.select("doc_id").distinct().count()
    spans.unpersist()
    results["ngram_span_docs"] = n_span_docs
    # exactly the planted 10% (plus negligible joint-hash collisions):
    # the upper bound is the regression guard — a single 1e9-sized gram
    # hash key flagged ~100% of docs via birthday collisions
    assert n_docs // 10 * 9 // 10 <= n_span_docs <= n_docs // 9, n_span_docs

    results[f"substring_clean_{n_docs//1_000_000}M_docs_sec"] = timed(
        lambda: force(remove_repeated_spans(docs, k=5, min_count=2)),
        "remove_repeated_spans",
    )
    results[f"quality_classifier_{n_docs//1_000_000}M_docs_sec"] = timed(
        lambda: force(quality_classifier(docs)), "quality_classifier"
    )

    # rollup store: full 20M-tick build vs a 2M-tick single-day refresh
    import shutil
    import tempfile

    from svoe_spark.operators.rollup import RollupStore

    tmp = tempfile.mkdtemp(prefix="rollup_smoke_")
    try:
        span_days = 10
        # midnight-aligned base epoch (19675 * 86400) so the follow-up
        # delta below touches exactly ONE new day partition
        base_epoch = 19_675 * 86_400.0
        ticks = spark.range(n_ticks).select(
            (F.lit(base_epoch) + (F.col("id") / n_ticks) * 86_400.0 * span_days)
            .cast("timestamp").alias("ts"),
            F.concat(F.lit("S"), (F.col("id") % 8).cast("string")).alias("event_type"),
            (100.0 + F.sin(F.col("id") / 1000.0) * 5.0).alias("value"),
            F.round((100.0 + F.sin(F.col("id") / 1000.0) * 5.0) * 100, 0)
            .cast("long").alias("value_c"),
            (F.col("id") % 5 + 1).alias("qty"),
            F.col("id").alias("event_id"),
        )
        store = RollupStore(spark, tmp + "/bars")
        results["rollup_full_20M_sec"] = timed(
            lambda: store.refresh(ticks), "rollup_full_build"
        )
        delta = spark.range(n_ticks, n_ticks + n_ticks // 10).select(
            (F.lit(base_epoch) + 86_400.0 * span_days
             + ((F.col("id") - n_ticks) / (n_ticks // 10)) * 86_400.0)
            .cast("timestamp").alias("ts"),
            F.concat(F.lit("S"), (F.col("id") % 8).cast("string")).alias("event_type"),
            (100.0 + F.sin(F.col("id") / 1000.0) * 5.0).alias("value"),
            F.round((100.0 + F.sin(F.col("id") / 1000.0) * 5.0) * 100, 0)
            .cast("long").alias("value_c"),
            (F.col("id") % 5 + 1).alias("qty"),
            F.col("id").alias("event_id"),
        )
        touched = []
        results["rollup_incr_2M_1day_sec"] = timed(
            lambda: touched.extend(store.refresh(delta)),
            "rollup_incremental_refresh",
        )
        assert len(touched) == 1, touched  # exactly one new day partition
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round4b_smoke(spark, results, force, n_docs=2_000_000, n_prof=100_000_000):
    """Round-4 tail-session operators at scale.

    - profiler: approx-distinct per-column profile over 100M rows —
      must stay ONE scan (no Expand) whatever the width.
    - incremental dedup index: 1.8M docs indexed, a 200k batch probed
      against the postings with 5% planted cross-split duplicates
      (batch doc 20i duplicates indexed doc 20i+1 — same seed).
    - BPE encode over 2M docs with the frozen 64-merge table (pandas
      UDF + per-executor word cache).
    - chunk_freq_dedup over 2M docs (two content-keyed shuffles).
    - IVF-PQ: encode 2M x 64 vectors to (cell, 8 codes), then one
      nprobe=2 ADC top-10 probe over the codes-only relation.
    """
    import math

    from svoe_spark.operators.cleaning import chunk_freq_dedup
    from svoe_spark.operators.dedup_index import index_tables, probe_index
    from svoe_spark.operators.profiling import profile_columns
    from svoe_spark.operators.similarity import (
        ann_ivfpq_topk,
        ivfpq_encode,
        ivfpq_train,
    )
    from svoe_spark.operators.tokenizer import bpe_encode
    from svoe_spark.queries_llm import BPE_FIXED_MERGES

    prof_src = spark.range(n_prof).select(
        F.col("id"),
        F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    results[f"profile_{n_prof//1_000_000}M_rows_sec"] = timed(
        lambda: force(profile_columns(prof_src, distinct="approx")),
        "profile_approx",
    )

    # docs: 5% of batch docs (id % 20 == 0) share their token seed with
    # the NEXT id (indexed, since 20i+1 % 10 != 0) -> planted cross-
    # split near-duplicates for the probe to find
    seed = F.when(F.col("id") % 20 == 0, F.col("id") + 1).otherwise(F.col("id"))
    tok = lambda e: F.concat(F.lit("t"), F.abs(F.xxhash64(e)).cast("string"))  # noqa: E731
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(60)), lambda j: tok(seed * 1000 + j)
        ),
        " ",
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), body.alias("text")
    )
    old = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    bands = sets = None

    def build():
        nonlocal bands, sets
        b, s = index_tables(old)
        bands, sets = b.persist(), s.persist()
        force(bands)
        force(sets)

    results[f"dedup_index_build_{n_docs//1_000_000}M_sec"] = timed(
        build, "dedup_index_build"
    )
    probe = probe_index(batch, bands, sets, threshold=0.5).persist()
    results["dedup_index_probe_200k_batch_sec"] = timed(
        lambda: force(probe), "dedup_index_probe"
    )
    n_dup = probe.count()
    assert n_dup == n_docs // 20, n_dup  # every planted pair found
    probe.unpersist()
    bands.unpersist()
    sets.unpersist()

    results[f"bpe_encode_{n_docs//1_000_000}M_docs_sec"] = timed(
        lambda: force(
            bpe_encode(docs, BPE_FIXED_MERGES).select(F.size("tokens"))
        ),
        "bpe_encode",
    )
    results[f"chunk_freq_dedup_{n_docs//1_000_000}M_docs_sec"] = timed(
        lambda: force(chunk_freq_dedup(docs)), "chunk_freq_dedup"
    )

    dim = 64
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: F.sin(F.col("id") * 131 + j * 17),
    )
    emb = spark.range(n_docs).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    cents = [
        [math.sin(c * 131 + (j + 1) * 17) for j in range(dim)] for c in range(16)
    ]
    cbs = ivfpq_train(emb, cents, method="seed")
    coded = None

    def enc():
        nonlocal coded
        coded = ivfpq_encode(emb, cents, cbs).persist()
        force(coded)

    results[f"ivfpq_encode_{n_docs//1_000_000}M_sec"] = timed(enc, "ivfpq_encode")
    results["ivfpq_probe_sec"] = timed(
        lambda: force(
            ann_ivfpq_topk(
                coded, emb.where(F.col("vec_id") == 0), cents, cbs, nprobe=2
            )
        ),
        "ivfpq_probe",
    )
    coded.unpersist()
    from svoe_spark.operators.similarity import ivfpq_encode_numpy

    results[f"ivfpq_encode_numpy_{n_docs//1_000_000}M_sec"] = timed(
        lambda: force(ivfpq_encode_numpy(emb, cents, cbs)),
        "ivfpq_encode_numpy",
    )


def round4c_smoke(spark, results, force, n_big=100_000_000, n_snap=20_000_000):
    """Round-4 third-session operators at scale.

    - PPS systematic sample: k=10k draw over 100M weighted rows (three
      passes: min/max scan, bucket totals, windowed prefix + filter).
    - snapshot_diff: two 20M-key snapshots with 1% churn on each edge
      (200k removed, 200k added, 200k changed) — changeset must be
      churn-sized, and the full-outer join is the only shuffle pair.
    - adaptive_threshold_filter: per-group p25 gate over 100M rows /
      20 groups from a 1% hash-sample.
    - bottom_k_sample: k=10 per group over 100M rows / 1000 groups —
      the map-side WindowGroupLimit path.
    """
    from svoe_spark.operators.cleaning import adaptive_threshold_filter
    from svoe_spark.operators.curation import (
        bottom_k_sample,
        pps_systematic_sample,
    )
    from svoe_spark.operators.diff import snapshot_diff

    big = spark.range(n_big).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97 + 1).cast("long").alias("w"),
        F.concat(F.lit("g"), (F.col("id") % 20).cast("string")).alias("grp"),
        (F.col("id") % 1009).cast("double").alias("score"),
    )
    pps = pps_systematic_sample(big, "w", 10_000)
    results[f"pps_sample_{n_big//1_000_000}M_sec"] = timed(
        lambda: force(pps), "pps_sample"
    )
    n_sel = pps.count()
    assert n_sel == 10_000, n_sel  # no row holds > W/k weight

    churn = 200_000
    val = F.when(
        F.col("id") % 100 == 0, F.col("id") * 3 + 1
    ).otherwise(F.col("id") * 3)
    old = spark.range(n_snap).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    new = spark.range(churn, n_snap + churn).select(
        F.col("id").alias("k"), val.alias("v")
    )
    d = snapshot_diff(old, new, ["k"]).persist()
    results[f"snapshot_diff_{n_snap//1_000_000}M_sec"] = timed(
        lambda: force(d), "snapshot_diff"
    )
    by = {r["change"]: r["n"] for r in d.groupBy("change").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    d.unpersist()
    assert by["removed"] == churn and by["added"] == churn, by
    # changed = every 100th id in the [churn, n_snap) overlap
    assert by["changed"] == (n_snap - churn) // 100, by

    results[f"adaptive_filter_{n_big//1_000_000}M_sec"] = timed(
        lambda: force(
            adaptive_threshold_filter(
                big, "score", ["grp"], q=0.25, p=0.01, id_col="doc_id"
            )
        ),
        "adaptive_filter",
    )

    bk = big.withColumn(
        "grp1k", F.concat(F.lit("g"), (F.col("doc_id") % 1000).cast("string"))
    )
    results[f"bottom_k_sample_{n_big//1_000_000}M_sec"] = timed(
        lambda: force(bottom_k_sample(bk, k=10, group_cols=["grp1k"])),
        "bottom_k_sample",
    )


def round4d_smoke(spark, results, force, n_big=100_000_000):
    """Round-4 fourth-session operators at scale.

    - funnel: 3 ordered steps over 100M events / 1M users — chained
      filtered min-aggs + user-key joins; counts asserted EXACTLY from
      the planted construction (view 1M, click 500k, purchase 250k).
    - interval_concurrency: 50M intervals / 100 sweep keys — the net
      delta collapse bounds each keyed running sum at |distinct
      instants|, not |intervals|.
    - rolling_corr: trailing 51-row Pearson over 100M ticks / 100
      instruments in ONE WindowExec.
    - resample_interpolate: 30M observations / 1M keys onto a 60-bucket
      hourly grid (~60M grid rows) — two running fills, one exchange.
    - temperature_sample: tau=0.5 draw of ~1M docs from 100M / 1000
      sources via the broadcast rate join (kept count asserted ±5%).
    - purged_time_folds: 5-fold purge+embargo labeling of 100M rows
      (500M labeled rows reduced to 15 counts).
    """
    from svoe_spark.operators.curation import (
        purged_time_folds,
        temperature_sample,
    )
    from svoe_spark.operators.events_analytics import (
        funnel,
        interval_concurrency,
    )
    from svoe_spark.operators.quant import rolling_corr
    from svoe_spark.operators.resample import resample_interpolate

    n_users = 1_000_000
    seq = (F.col("id") / n_users).cast("long")
    user = F.col("id") % n_users
    etype = (
        F.when(seq == 0, F.lit("view"))
        .when((seq == 1) & (user % 2 == 0), F.lit("click"))
        .when((seq == 2) & (user % 4 == 0), F.lit("purchase"))
        .otherwise(F.lit("noise"))
    )
    events = spark.range(n_big).select(
        user.alias("user_id"),
        etype.alias("event_type"),
        F.timestamp_seconds(F.lit(1_700_000_000) + seq * 60).alias("ts"),
    )
    fun = funnel(events, ["view", "click", "purchase"], within="1d")
    results[f"funnel_{n_big//1_000_000}M_sec"] = timed(
        lambda: force(fun), "funnel_100M"
    )
    got = {r["step_name"]: r["n_users"] for r in fun.collect()}
    assert got == {"view": n_users, "click": n_users // 2,
                   "purchase": n_users // 4}, got

    iv = spark.range(50_000_000).select(
        (F.col("id") % 100).alias("k"),
        (F.col("id") % 500_000).alias("s"),
        (F.col("id") % 500_000 + F.col("id") % 97 + 1).alias("e"),
    )
    results["interval_concurrency_50M_sec"] = timed(
        lambda: force(interval_concurrency(iv, "s", "e", by="k")),
        "interval_concurrency_50M",
    )

    ticks = spark.range(n_big).select(
        (F.col("id") % 100).alias("k"),
        F.col("id").alias("i"),
        ((F.col("id") * 7) % 1000).alias("x"),
        ((F.col("id") * 13) % 1000).alias("y"),
    )
    results[f"rolling_corr_{n_big//1_000_000}M_sec"] = timed(
        lambda: force(rolling_corr(ticks, "x", "y", by="k", order="i")),
        "rolling_corr_100M",
    )

    n_obs, n_keys = 30_000_000, 1_000_000
    gseq = (F.col("id") / n_keys).cast("long")
    obs = spark.range(n_obs).select(
        (F.col("id") % n_keys).alias("k"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + gseq * 7200 + F.col("id") % 13
        ).alias("ts"),
        ((F.col("id") % 1000).cast("double") / 10).alias("value"),
    )
    results["gapfill_interpolate_30M_sec"] = timed(
        lambda: force(resample_interpolate(obs, by="k", every="1h")),
        "gapfill_30M",
    )

    docs = spark.range(n_big).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 1000).cast("string")).alias("source"),
    )
    kept = temperature_sample(docs, target_n=1_000_000, tau=0.5)
    results[f"temperature_sample_{n_big//1_000_000}M_sec"] = timed(
        lambda: force(kept), "temperature_sample_100M"
    )
    n_kept = kept.count()
    assert abs(n_kept - 1_000_000) < 50_000, n_kept

    rows = spark.range(n_big).select(
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.col("id") % (86_400 * 30)
        ).alias("ts")
    )
    lab = purged_time_folds(rows, n_folds=5, embargo="1h")
    counts = lab.groupBy("fold", "role").agg(F.count(F.lit(1)).alias("n"))
    results[f"purged_folds_{n_big//1_000_000}M_sec"] = timed(
        lambda: force(counts), "purged_folds_100M"
    )

    # exact heavy hitters: 100M rows, 1000 heavy keys planted in a
    # 10M-key long tail — the CMS filter must drop the tail map-side
    from svoe_spark.operators.sketches import frequent_items

    hh = spark.range(100_000_000).select(
        F.when(
            F.col("id") % 2 == 0,
            # (id div 2) % 1000: even ids mod 1000 are always even, so
            # a plain id % 1000 plants only 500 distinct hot keys
            F.concat(F.lit("hot"), F.expr("(id div 2) % 1000").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 10_000_000).cast("string"))
        )
        .alias("k")
    )
    fi = frequent_items(hh, "k", threshold=40_000).persist()
    results["frequent_items_100M_sec"] = timed(
        lambda: force(fi), "frequent_items_100M"
    )
    n_hot = fi.count()  # persisted: the assertion does not re-run the job
    fi.unpersist()
    assert n_hot == 1000, n_hot  # hot keys: 50k each; cold: ~5-10

    # fuzzy join at 210k strings: gram SELECTIVITY is the scale lever
    # — q=4 over 12-char hex names gives ~35-entry posting lists
    # (sum |postings|^2 ~ 8e7 candidates), where q=2 digit grams would
    # be 10k-hot and quadratic. All 10k planted typo pairs recovered.
    from svoe_spark.operators.fuzzy import fuzzy_join

    base = spark.range(200_000).select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 12).alias("s")
    )
    typos = spark.range(0, 200_000, 20).select(
        F.concat(
            F.substring(F.md5(F.col("id").cast("string")), 1, 12), F.lit("x")
        ).alias("s")
    )
    corpus = base.unionByName(typos)
    fz = fuzzy_join(corpus, corpus, "s", "s", max_distance=1, q=4).where(
        F.col("left_val") < F.col("right_val")
    ).persist()
    results["fuzzy_join_210k_q4_sec"] = timed(
        lambda: force(fz), "fuzzy_join_210k"
    )
    n_typo_pairs = fz.where(
        F.col("right_val") == F.concat(F.col("left_val"), F.lit("x"))
    ).count()
    fz.unpersist()
    assert n_typo_pairs == 10_000, n_typo_pairs


def dense_kernel_smoke(spark, results, force, n=N_LEFT):
    """Dense-tick trailing windows on the feature definitions' O(rows)
    kernels (``per_key_map`` per key, as ``Featurizer.run`` runs them):
    tvi, 1m closed OHLCV bars and volatility over 20M ticks on 10 keys
    (~1400 rows per 1m window), and volatility over the 20M hot-key
    ticks (18M rows on one key, one pandas frame on one worker). The
    range frame is O(rows x frame): 321 s at 2M rows."""
    from svoe_spark.plans.definitions import OHLCV, TradeVolumeImbalance, VolatilityStddev

    dense = spark.range(n).select(
        (F.col("id") % 10).cast("string").alias("event_type"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") / 2333.0)
        ).alias("ts"),
        ((F.col("id") * 7 % 1000).cast("double") / 10).alias("price"),
        ((F.col("id") % 97) + 1).cast("double").alias("amount"),
        F.when(F.col("id") % 3 == 0, F.lit("BUY"))
        .otherwise(F.lit("SELL"))
        .alias("side"),
    )
    results["tvi_kernel_20M_dense_sec"] = timed(
        lambda: force(TradeVolumeImbalance.transform({"source": dense}, {"window": "1m"}, ["event_type"])),
        "tvi_kernel_20M",
    )
    results["ohlcv_kernel_20M_dense_sec"] = timed(
        lambda: force(OHLCV.transform({"source": dense}, {"window": "1m"}, ["event_type"])),
        "ohlcv_kernel_20M",
    )
    results["stddev_kernel_20M_dense_sec"] = timed(
        lambda: force(VolatilityStddev.transform(
            {"mid_price": dense}, {"window": "1m", "value_col": "price"}, ["event_type"]
        )),
        "stddev_kernel_20M",
    )
    results["stddev_kernel_20M_hot_sec"] = timed(
        lambda: force(VolatilityStddev.transform(
            {"mid_price": gen_ticks(spark, n)}, {"window": "1m", "value_col": "price"}, ["symbol"]
        )),
        "stddev_kernel_20M_hot",
    )


def round5_smoke(spark, results, force, n_docs=2_000_000, n_vec=2_000_000):
    """Round-5 operators at scale.

    - unigram_encode: Viterbi tokenization of 2M synthetic docs (~50
      words each, drawn from the frozen artifact's vocabulary) — the
      per-executor word cache makes the DP amortize to a dict lookup
      per token (type/token ratio ~ 31/100M).
    - refine_topk: exact rescore of a 1000-id shortlist against 2M
      stored 64-dim vectors — one broadcast semi-join + TakeOrdered;
      the cost scales with the FETCH (R rows), not the corpus.
    - backtest_grid_cents shape: the alternate-signals exact grid (4
      configs x 100 instruments) over 10M integer-cent ticks — 400
      independent applyInPandas simulations.
    """
    from svoe_spark.consumers.backtest import (
        SimConfig,
        alternate_signals,
        run_backtest_grid,
    )
    from svoe_spark.operators.similarity import refine_topk
    from svoe_spark.operators.tokenizer import unigram_encode
    from svoe_spark.queries_llm import UNIGRAM_FIXED_PIECES

    words = [p_ for p_, _ in UNIGRAM_FIXED_PIECES if len(p_) > 2][:24]
    wlit = F.array(*[F.lit(w) for w in words])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(50)),
            lambda i: F.element_at(
                wlit, ((F.col("id") * 53 + i * 17) % len(words) + 1).cast("int")
            ),
        ),
        " ",
    )
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"), text.alias("text"))
    results["unigram_encode_2m_sec"] = timed(
        lambda: force(
            unigram_encode(docs, UNIGRAM_FIXED_PIECES, out_cost="lm_cost")
            .select("doc_id", F.size("tokens").alias("n"), "lm_cost")
        ),
        "unigram_encode_2m",
    )

    dim = 64
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.sin(F.col("id") * 0.37 + i * 1.13),
    ).cast("array<float>")
    vectors = spark.range(n_vec).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
    cand = spark.range(1000).select((F.col("id") * 1999 + 7).alias("vec_id"))
    query = vectors.where(F.col("vec_id") == 12345)
    def _refine():
        out = refine_topk(cand, vectors, query, k=10)
        assert out.count() == 10
    results["refine_topk_2m_sec"] = timed(_refine, "refine_topk_2m")

    n_ticks = 10_000_000
    ticks = spark.range(n_ticks).select(
        (F.col("id") % 100).cast("string").alias("symbol"),
        (F.lit(1_700_000_000.0) + F.col("id") / 1000.0).cast("timestamp").alias("ts"),
        F.col("id").alias("event_id"),
        (10_000 + (F.col("id") * 7919) % 1000).cast("double").alias("px"),
    )
    grid = [
        SimConfig(initial_balance=1e12, commission=0.0, position_size=1.0),
        SimConfig(initial_balance=1e12, commission=1.0 / 1024, position_size=1.0),
        SimConfig(initial_balance=1e12, commission=1.0 / 1024, position_size=2.0),
        SimConfig(initial_balance=1e12, commission=1.0 / 512, position_size=1.0),
    ]
    def _grid():
        out = run_backtest_grid(
            ticks, "px", grid, signal_fn=alternate_signals,
            order_cols=("ts", "event_id"),
        )
        assert out.count() == 400
    results["backtest_grid_cents_10m_sec"] = timed(_grid, "backtest_grid_cents_10m")


def round6_smoke(spark, results, force, n_vec=2_000_000, n_docs=2_000_000):
    """Round-6 operators at scale.

    - IVF-PQ at the PRODUCTION operating point (m=16, ksub=256,
      nprobe=16, R=200 — queries_llm.RECALL90_*): numpy encode of 2M
      64-dim vectors into 16-byte codes, then one ann_ivfpq_topk_numpy
      search (closure LUT, pruned scan, TakeOrdered) + exact refine of
      the R=200 shortlist. The whole search chain reads codes, not
      vectors; refine fetches R rows.
    - unigram_encode with EVERY word OOV (planted non-vocab chars):
      the segment_word_fallback char path at 100M tokens — the
      worst-case corpus for the Viterbi cache.
    """
    from svoe_spark.operators.similarity import (
        ann_ivfpq_topk_numpy,
        ivfpq_encode_numpy,
        refine_topk,
    )
    from svoe_spark.operators.tokenizer import unigram_encode
    from svoe_spark.queries_llm import (
        RECALL90_KSUB,
        RECALL90_M,
        RECALL90_NPROBE,
        RECALL90_R,
        UNIGRAM_FIXED_PIECES,
    )

    dim = 64
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.sin(F.col("id") * 0.37 + i * 1.13),
    ).cast("array<float>")
    vectors = spark.range(n_vec).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    cents = [
        [float(x) for x in r["embedding"]]
        for r in vectors.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    from svoe_spark.operators.similarity import ivfpq_train

    cbs = ivfpq_train(
        vectors, cents, m=RECALL90_M, ksub=RECALL90_KSUB, method="seed"
    )
    coded = ivfpq_encode_numpy(vectors, cents, cbs)
    results["ivfpq_encode_m16k256_2m_sec"] = timed(
        lambda: force(coded), "ivfpq_encode_m16k256_2m"
    )
    coded = coded.persist()
    coded.count()
    qdf = vectors.where(F.col("vec_id") == 777_777)

    def _search():
        short = ann_ivfpq_topk_numpy(
            coded, qdf, cents, cbs, k=RECALL90_R, nprobe=RECALL90_NPROBE
        )
        ids = [(int(r["vec_id"]),) for r in short.collect()]
        cand = spark.createDataFrame(ids, "vec_id long")
        assert refine_topk(cand, vectors, qdf, k=10).count() == 10

    results["ivfpq_search_recall90_2m_sec"] = timed(
        _search, "ivfpq_search_recall90_2m"
    )

    # batched search: 50 queries through ONE pruned pass, SAME
    # workload as the single-search number above (ADC top-R shortlist
    # + exact refine to top-10) — per-query amortized cost should sit
    # far below it
    from svoe_spark.operators.similarity import (
        ann_ivfpq_topk_batch,
        refine_topk_batch,
    )

    n_q = 50
    step = max(1, n_vec // n_q)
    qbatch = vectors.where(
        (F.col("vec_id") % step == 17) & (F.col("vec_id") < n_q * step)
    ).select(F.col("vec_id").alias("query_id"), "embedding")

    def _batch():
        short = ann_ivfpq_topk_batch(
            coded, qbatch, cents, cbs, k=RECALL90_R,
            nprobe=RECALL90_NPROBE,
        )
        out = refine_topk_batch(short, vectors, qbatch, k=10)
        assert out.count() == n_q * 10

    results["ivfpq_batch50_recall90_2m_sec"] = timed(
        _batch, "ivfpq_batch50_recall90_2m"
    )
    coded.unpersist()

    words = [p_ for p_, _ in UNIGRAM_FIXED_PIECES if len(p_) > 2][:24]
    wlit = F.array(*[F.lit(w) for w in words])
    text = F.translate(
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(50)),
                lambda i: F.element_at(
                    wlit,
                    ((F.col("id") * 53 + i * 17) % len(words) + 1).cast("int"),
                ),
            ),
            " ",
        ),
        "aeiou",
        "xz0xz",  # every word gains a non-vocab char -> char fallback
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )
    results["unigram_encode_oov_2m_sec"] = timed(
        lambda: force(
            unigram_encode(docs, UNIGRAM_FIXED_PIECES, out_cost="lm_cost")
            .select("doc_id", F.size("tokens").alias("n"), "lm_cost")
        ),
        "unigram_encode_oov_2m",
    )


def round6b_smoke(spark, results, force, n_edges=20_000_000, n_obs=100_000_000):
    """Round-6b additions: PageRank iterations at 20M edges, SCD2
    compression at 100M observations, KMV set-ops over 100M-row
    cohorts."""
    from svoe_spark.operators.graph import pagerank
    from svoe_spark.operators.scd import scd2_compress, scd2_merge
    from svoe_spark.operators.sketches import kmv_build, kmv_set_ops

    n_nodes = n_edges // 10
    # power-law-ish digraph: uniform src, dst skewed toward low ids
    # (hash-squared concentrates mass), plus a 1% hub edge set into 0
    edges = spark.range(n_edges).select(
        (F.xxhash64("id") % n_nodes).alias("src"),
        F.when(F.col("id") % 100 == 0, F.lit(0)).otherwise(
            (F.xxhash64("id", F.lit(1)) % (n_nodes // 100))
        ).alias("dst"),
    ).select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))

    def _pr():
        pr = pagerank(edges, iterations=10)
        n = pr.count()
        top = pr.orderBy(F.desc("rank_fp")).limit(3).collect()
        assert top[0]["node"] == 0, top  # the planted hub wins
        results["pagerank_nodes"] = n
        pr.unpersist()

    results["pagerank_20m_edges_10it_sec"] = timed(_pr, "pagerank_20m_edges_10it")

    # SCD2: 100M observations over 1M keys; xxhash64 % 3 yields 5
    # signed states -> P(same as prev) ~ 2/9, so ~78% of rows start runs
    log = spark.range(n_obs).select(
        (F.col("id") % 1_000_000).alias("key"),
        F.timestamp_micros(F.col("id") * 1000).alias("ts"),
        F.col("id").alias("tie"),
        (F.xxhash64("id") % 3).cast("string").alias("state"),
    )

    def _scd():
        h = scd2_compress(log, "key", ["state"], ts="ts", tie_col="tie")
        results["scd2_runs"] = h.count()

    results["scd2_compress_100m_sec"] = timed(_scd, "scd2_compress_100m")

    # KMV set ops: two 100M-row cohorts sharing half their id space
    a = spark.range(n_obs).select((F.col("id") % 60_000_000).alias("x"))
    b = spark.range(n_obs).select((F.col("id") % 60_000_000 + 30_000_000).alias("x"))

    def _kso():
        sa = kmv_build(a, "x", k=1024)
        sb = kmv_build(b, "x", k=1024)
        row = kmv_set_ops(sa, sb, k=1024).first()
        results["kso_jaccard"] = round(row["jaccard"], 4)
        results["kso_est_union"] = round(row["est_union"])
        # truth: union 90M, intersection 30M, jaccard 1/3
        assert 0.25 < row["jaccard"] < 0.42, row
        assert 80e6 < row["est_union"] < 100e6, row

    results["kmv_set_ops_100mx2_sec"] = timed(_kso, "kmv_set_ops_100mx2")

    # nearest as-of: 20M left probes x 2M right states, 100 keys
    from svoe_spark.operators.asof import asof_join_nearest

    n_l, n_r = 20_000_000, 2_000_000
    left = spark.range(n_l).select(
        (F.col("id") % 100).alias("k"),
        F.timestamp_micros(F.col("id") * 37).alias("ts"),
        F.col("id").alias("lid"),
    )
    right = spark.range(n_r).select(
        (F.col("id") % 100).alias("k"),
        F.timestamp_micros(F.col("id") * 370 + 5).alias("ts"),
        (F.col("id") % 1000).alias("rv"),
    )

    def _nearest():
        out = asof_join_nearest(left, right, on="ts", by="k", right_cols=["rv"])
        n = out.where(F.col("rv").isNotNull()).count()
        results["nearest_matched"] = n
        assert n == n_l  # dense right side: every probe matches

    results["asof_nearest_20mx2m_sec"] = timed(_nearest, "asof_nearest_20mx2m")

    # SCD2Store incremental refresh: 1k-key batch into a 10M-key store
    import tempfile

    from svoe_spark.operators.scd import SCD2Store

    dim_path = tempfile.mkdtemp(prefix="scd2_smoke_") + "/dim"
    base = spark.range(30_000_000).select(
        (F.col("id") % 10_000_000).alias("key"),
        F.timestamp_micros(F.col("id") * 1000).alias("ts"),
        F.col("id").alias("tie"),
        (F.xxhash64("id") % 3).cast("string").alias("state"),
    )
    store = SCD2Store(
        spark, dim_path, key="key", attr_cols=["state"], ts="ts",
        tie_col="tie", n_buckets=64,
    )
    results["scd2_store_seed_30m_sec"] = timed(
        lambda: store.refresh(base), "scd2_store_seed_30m"
    )
    # two batch shapes: hash bucketing prunes when the batch touches
    # FEW DISTINCT KEYS (a hot-entity burst: 10 keys -> <=10 of 64
    # buckets read+rewritten); a 1k-RANDOM-key batch covers all 64
    # buckets (coupon collector) and degrades to a full copy-on-write
    # rewrite — the inherent dynamic-overwrite trade (Delta/Iceberg
    # without merge-on-read have the same shape; raise n_buckets to
    # move the knee)
    burst = spark.range(10).select(
        (F.col("id") * 9973).alias("key"),
        F.timestamp_micros(F.lit(40_000_000_000_000)).alias("ts"),
        (F.col("id") + 50_000_000).alias("tie"),
        F.lit("z").alias("state"),
    )

    def _burst():
        touched = store.refresh(burst, batch_id=7)
        results["scd2_burst_buckets_touched"] = len(touched)
        assert len(touched) <= 10

    results["scd2_store_inc_10key_sec"] = timed(_burst, "scd2_store_inc_10key")

    wide = spark.range(1000).select(
        (F.col("id") * 9973 + 1).alias("key"),
        F.timestamp_micros(F.lit(41_000_000_000_000)).alias("ts"),
        (F.col("id") + 60_000_000).alias("tie"),
        F.lit("z").alias("state"),
    )

    def _wide():
        touched = store.refresh(wide, batch_id=8)
        results["scd2_wide_buckets_touched"] = len(touched)

    results["scd2_store_inc_1k_sec"] = timed(_wide, "scd2_store_inc_1k")


def round6c_smoke(spark, results, force, n_big=100_000_000):
    """Round-6c additions: CUSUM scores at 100M rows, transition
    matrix at 100M events, one-pass DQ verification at 100M rows,
    priority sampling at 100M, and triangle counting on a 20M-edge
    k-NN-sparsified graph."""
    from svoe_spark.operators.changepoint import cusum_scores
    from svoe_spark.operators.events_analytics import transition_matrix
    from svoe_spark.operators.graph import knn_sparsify, triangle_counts
    from svoe_spark.operators import quality_checks as qc
    from svoe_spark.operators.curation import priority_sample

    # CUSUM: 1000 keys x 100k rows; key 0 gets a +8 level shift on its
    # back half (drift the slack=2 allowance accumulates at +6/step)
    series = spark.range(n_big).select(
        (F.col("id") % 1000).alias("k"),
        F.expr("id DIV 1000").alias("t"),
        (
            10
            + (F.xxhash64("id") % 3)
            + F.when(
                (F.col("id") % 1000 == 0) & (F.col("id") >= n_big // 2), 8
            ).otherwise(0)
        ).cast("long").alias("v"),
    ).withColumn("base", F.lit(11))

    def _cusum():
        scored = cusum_scores(
            series, "v", on="t", by=["k"], baseline_col="base", slack=2
        )
        alarms = scored.where(F.col("c_pos") > 1000)
        hot = alarms.where(F.col("k") == 0).count()
        cold = alarms.where(F.col("k") != 0).count()
        assert hot > 10_000 and cold == 0, (hot, cold)
        results["cusum_alarm_rows"] = hot

    results["cusum_100m_sec"] = timed(_cusum, "cusum_100m")

    # transition matrix: 100M events, 1M users, 5 states
    ev = spark.range(n_big).select(
        (F.col("id") % 1_000_000).alias("user_id"),
        F.timestamp_micros(F.col("id") * 7).alias("ts"),
        F.col("id").alias("event_id"),
        F.concat(
            F.lit("s"), F.pmod(F.xxhash64("id"), F.lit(5)).cast("string")
        ).alias("event_type"),
    )

    def _trans():
        m = transition_matrix(ev, tiebreak="event_id").collect()
        assert len(m) == 25, len(m)
        results["transition_cells"] = len(m)

    results["transition_100m_sec"] = timed(_trans, "transition_100m")

    # DQ: one aggregate pass over 100M rows; violation counts are
    # formula-exact (1% nulls, 0.1% out-of-bounds)
    rows = spark.range(n_big).select(
        F.col("id"),
        F.when(F.col("id") % 100 != 0, F.col("id") % 1000).alias("v"),
        F.when(F.col("id") % 1000 == 0, F.lit(-5)).otherwise(
            F.col("id") % 50
        ).alias("b"),
    )

    def _dq():
        rep = {
            r["check_name"]: r["violations"]
            for r in qc.run_checks(
                rows,
                [qc.completeness("v"), qc.bounds("b", lo=0)],
                unique=["id"],
            ).collect()
        }
        assert rep["completeness(v)"] == n_big // 100, rep
        assert rep["bounds(b)"] == n_big // 1000, rep
        assert rep["unique(id)"] == 0, rep
        results["dq_violations"] = rep["completeness(v)"]

    results["dq_checks_100m_sec"] = timed(_dq, "dq_checks_100m")

    # priority sampling: k=1000 of 100M skewed weights; the est_w sum
    # must land near the true total (the unbiasedness contract)
    wdf = spark.range(n_big).select(
        F.col("id"),
        F.when(F.col("id") % 1_000_000 == 0, F.lit(10_000_000))
        .otherwise(1 + F.col("id") % 97)
        .cast("long")
        .alias("w"),
    )

    def _psamp():
        true_total = wdf.groupBy().sum("w").collect()[0][0]
        out = priority_sample(wdf, "w", 1000, "id", salt="smoke")
        est = sum(r["est_w"] for r in out.collect())
        err = abs(est - true_total) / true_total
        assert err < 0.10, err
        results["psamp_rel_err"] = round(err, 4)

    results["priority_sample_100m_sec"] = timed(_psamp, "priority_sample_100m")

    # triangles: 20M weighted edges over 2M nodes -> mutual top-8 ->
    # id-oriented wedge close (work bounded by N*k^2 by construction)
    n_edges, n_nodes = 20_000_000, 2_000_000
    edges = spark.range(n_edges).select(
        F.abs(F.xxhash64("id") % n_nodes).alias("src"),
        F.abs(F.xxhash64("id", F.lit(7)) % n_nodes).alias("dst"),
        (1 + F.col("id") % 9).cast("long").alias("w"),
    )

    def _tri():
        sp = knn_sparsify(edges, k=8)
        rep = triangle_counts(sp)
        agg = rep.agg(
            F.count(F.lit(1)).alias("nodes"), F.sum("triangles").alias("t3")
        ).collect()[0]
        results["tri_nodes"] = agg["nodes"]
        results["tri_sum"] = agg["t3"]

    results["triangles_20m_edges_sec"] = timed(_tri, "triangles_20m_edges")

    # statistics trio: gini / hhi / spearman at 100M rows
    from svoe_spark.operators.profiling import gini, hhi
    from svoe_spark.operators.quant import spearman_corr

    vals = spark.range(n_big).select(
        (F.col("id") % 1000).alias("g"),
        (1 + F.abs(F.xxhash64("id")) % 10_000).alias("v"),
        (1 + F.abs(F.xxhash64("id", F.lit(3))) % 10_000).alias("u"),
    )

    def _gini():
        out = gini(vals, "v", ["g"]).collect()
        assert len(out) == 1000
        # uniform values: Gini ~ 1/3 (discrete uniform limit)
        import statistics

        med = statistics.median(r["gini"] for r in out)
        assert 0.30 < med < 0.36, med
        results["gini_groups"] = len(out)

    results["gini_100m_sec"] = timed(_gini, "gini_100m")

    def _hhi():
        out = hhi(vals, "v", ["g"]).collect()
        assert len(out) == 1000
        # ~100k even-ish shares per group: HHI ~ 4/(3n) for uniform
        assert all(r["hhi"] < 2e-5 for r in out)
        results["hhi_groups"] = len(out)

    results["hhi_100m_sec"] = timed(_hhi, "hhi_100m")

    def _spear():
        out = spearman_corr(vals, "v", "u", by=["g"]).collect()
        assert len(out) == 1000
        # independent hashes: correlation ~ 0
        assert all(abs(r["spearman"]) < 0.05 for r in out)
        results["spearman_groups"] = len(out)

    results["spearman_100m_sec"] = timed(_spear, "spearman_100m")


def round7_smoke(spark, results, force, n_edges=20_000_000):
    """Round-7 graph restructure re-measure: the same 20M-edge graph
    as round6b, but pagerank rounds now shuffle ONLY the rank vector
    (degrees pre-joined into the src-partitioned persisted edges,
    static dangling flag, checkpoint-preserved node partitioning) —
    plus HITS (two partitioned edge copies) and fixed-budget BFS."""
    from svoe_spark.operators.graph import bfs_distances, hits, pagerank

    n_nodes = n_edges // 10
    edges = spark.range(n_edges).select(
        (F.xxhash64("id") % n_nodes).alias("src"),
        F.when(F.col("id") % 100 == 0, F.lit(0)).otherwise(
            (F.xxhash64("id", F.lit(1)) % (n_nodes // 100))
        ).alias("dst"),
    ).select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))

    def _pr():
        pr = pagerank(edges, iterations=10)
        n = pr.count()
        top = pr.orderBy(F.desc("rank_fp")).limit(3).collect()
        assert top[0]["node"] == 0, top  # the planted hub wins
        results["pagerank_nodes"] = n

    results["pagerank_20m_edges_10it_sec"] = timed(_pr, "pagerank_20m_edges_10it")

    def _hits():
        h = hits(edges, iterations=3)
        results["hits_nodes"] = h.count()

    results["hits_20m_edges_3it_sec"] = timed(_hits, "hits_20m_edges_3it")

    def _bfs():
        d = bfs_distances(edges, [0], max_hops=4, directed=False, early_stop=False)
        results["bfs_reached"] = d.count()

    results["bfs_20m_edges_4hops_sec"] = timed(_bfs, "bfs_20m_edges_4hops")


def round8_smoke(spark, results, force, n=100_000_000):
    """Round-8: the streaming as-of twins at 100M union rows (VERDICT
    r7 ask 4) — forward and nearest with a tolerance, so the
    state-bounding finalization (data-driven + event-time timeout for
    the un-closed tail) runs at scale; noop sink measures pure
    throughput. 64 keys parallelize the per-key handlers across
    cores; one availableNow batch per side (in-batch event-time sort
    is the replay contract's degenerate case)."""
    import shutil
    import tempfile

    from svoe_spark.streaming.asof_stream import (
        asof_forward_stream,
        asof_nearest_stream,
    )

    half = n // 2
    keys = 64
    span = 86_400.0
    base = tempfile.mkdtemp(prefix="asof_stream_smoke_")
    lp, rp = base + "/left", base + "/right"

    def gen(m, phase):
        return spark.range(m).select(
            F.concat(F.lit("K"), (F.col("id") % keys).cast("string")).alias(
                "symbol"
            ),
            (
                F.lit(1_700_000_000.0)
                + (F.col("id") / m) * span
                + F.lit(phase)
            ).cast("timestamp").alias("ts"),
            (F.col("id") % 1000).cast("double").alias("value"),
        )

    # disjoint instants per side (left = right + third-of-a-step), so
    # every match is a genuine forward/nearest decision
    step = span / half
    gen(half, 0.0).write.mode("overwrite").parquet(rp)
    gen(half, step / 3).write.mode("overwrite").parquet(lp)

    from svoe_spark.streaming.sources import replay_parquet

    def replay(path):
        return replay_parquet(spark, path)

    def run_stream(df, cp):
        q = (
            df.writeStream.format("noop")
            .option("checkpointLocation", base + cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t0 = time.perf_counter()
    run_stream(
        asof_forward_stream(
            replay(lp), replay(rp), on="ts", by="symbol",
            value_col="value", tolerance="1m",
        ),
        "/cp_fwd",
    )
    results[f"asof_forward_stream_{n//1_000_000}M_sec"] = round(
        time.perf_counter() - t0, 2
    )
    print(f"# asof_forward_stream {n//1_000_000}M: "
          f"{results[f'asof_forward_stream_{n//1_000_000}M_sec']}s",
          file=sys.stderr)
    t0 = time.perf_counter()
    run_stream(
        asof_nearest_stream(
            replay(lp), replay(rp), on="ts", by="symbol",
            value_col="value", tolerance="1m",
        ),
        "/cp_near",
    )
    results[f"asof_nearest_stream_{n//1_000_000}M_sec"] = round(
        time.perf_counter() - t0, 2
    )
    print(f"# asof_nearest_stream {n//1_000_000}M: "
          f"{results[f'asof_nearest_stream_{n//1_000_000}M_sec']}s",
          file=sys.stderr)
    shutil.rmtree(base, ignore_errors=True)


def round9_smoke(spark, results, force, n_vec=2_000_000, dim=64, k=16, iters=3):
    """Round-9 (VERDICT r8 ask 4): the deterministic relational Lloyd's
    trainer at the family's standard ANN smoke scale — 2M x 64 synthetic
    vectors, k=16 coarse centroids, 3 fixed rounds. Each round must be
    ONE corpus scan (shuffle-free argmin projection + k x dim partial
    agg; the plan gate lives in tests/test_plan_quality.py::
    test_lloyd_assign_stage_is_shuffle_free) plus a k-row driver pull,
    so s/round should track the scan cost, not k."""
    from svoe_spark.operators.similarity import ivf_train_relational

    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: F.sin(F.col("id") * 131 + j * 17),
    )
    emb = spark.range(n_vec).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    cents = None

    def run():
        nonlocal cents
        cents = ivf_train_relational(emb, k=k, iters=iters)

    total = timed(run, f"ivf_train_relational {n_vec//1_000_000}Mx{dim} k={k} x{iters}")
    assert len(cents) == k and len(cents[0]) == dim
    results[f"ivf_train_relational_{n_vec//1_000_000}M_total_sec"] = total
    results[f"ivf_train_relational_{n_vec//1_000_000}M_sec_per_round"] = round(
        total / iters, 2
    )

    # mergeable log-bucket quantile sketch at 100M rows / 100 keys:
    # one scan + one bounded shuffle however large the input; the
    # estimate stage reads only the tiny sketch. Asserts the p50
    # estimate lands within the 2^(1-8) quantization bound of the
    # known uniform-distribution median.
    from svoe_spark.operators.sketches import (
        quantile_sketch,
        quantile_sketch_estimate,
    )

    n_q = 100_000_000
    ticks = spark.range(n_q).select(
        (F.col("id") % 100).cast("string").alias("k"),
        ((F.col("id") % 1_000_000) / 100.0 + 1.0).alias("v"),
    )
    sk = None

    def build_sketch():
        nonlocal sk
        sk = quantile_sketch(ticks, "v", group_cols=["k"]).persist()
        sk.count()

    results[f"quantile_sketch_{n_q//1_000_000}M_sec"] = timed(
        build_sketch, f"quantile_sketch {n_q//1_000_000}M"
    )
    est = {
        r["k"]: r["est_value"]
        for r in quantile_sketch_estimate(sk, [50], group_cols=["k"]).collect()
    }
    true_med = 1_000_000 / 2 / 100.0 + 1.0
    assert all(
        abs(v - true_med) <= true_med * 2 ** -7 for v in est.values()
    ), sorted(est.items())[:3]
    sk.unpersist()


def main():
    spark = get_spark("scale_smoke")
    spark.sparkContext.setLogLevel("ERROR")
    force = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

    only = os.environ.get("SMOKE_ONLY")
    if only == "dense":
        results = {}
        dense_kernel_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round9":
        results = {}
        round9_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round8":
        results = {}
        round8_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round7":
        results = {}
        round7_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round6c":
        results = {}
        round6c_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round6b":
        results = {}
        round6b_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round6":
        results = {}
        round6_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round5":
        results = {}
        round5_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round4d":
        results = {}
        round4d_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round4c":
        results = {}
        round4c_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round4b":
        results = {}
        round4b_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "semdedup":
        results = {}
        semdedup_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "round4":
        results = {}
        round4_smoke(spark, results, force)
        print(json.dumps(results))
        return
    if only == "dedup_clusters_10m":
        results = {}
        dedup_clusters_10m(spark, results, force)
        print(json.dumps(results))
        return

    left = gen_ticks(spark, N_LEFT)
    right = gen_ticks(spark, N_RIGHT).withColumnRenamed("price", "ref_price")

    results = {"rows_left": N_LEFT, "rows_right": N_RIGHT}
    results["asof_default_sec"] = timed(
        lambda: force(
            asof_join(left, right, on="ts", by="symbol", right_cols=["ref_price"])
        ),
        "asof_default",
    )
    results["asof_bucketed_sec"] = timed(
        lambda: force(
            asof_join(
                left, right, on="ts", by="symbol", right_cols=["ref_price"],
                time_bucket="10m",
            )
        ),
        "asof_bucketed",
    )
    results["ohlcv_1m_sec"] = timed(
        lambda: force(
            ohlcv(left.withColumn("amount", F.lit(1.0)), on="ts", by="symbol")
        ),
        "ohlcv_1m",
    )
    results["sliding_stddev_frame_2M_sec"] = timed(
        lambda: force(
            sliding_stddev(
                gen_ticks(spark, 2_000_000), on="ts", value="price",
                by="symbol", window="1m",
            )
        ),
        "sliding_stddev_frame_2M",
    )
    dense_kernel_smoke(spark, results, force)

    # order book, 2M updates, one hot instrument carrying 90%: the
    # sequential plan serializes on the hot key; the bucketed plan's
    # parallelism is keys x buckets
    from svoe_spark.operators.orderbook import (  # noqa: E402
        reconstruct_book,
        reconstruct_book_bucketed,
    )

    n_book = 2_000_000
    base = gen_ticks(spark, n_book)
    upd = base.select(
        "symbol",
        "ts",
        F.when(F.col("price") < 95.2, F.lit("SNAPSHOT"))
        .when(F.col("price") < 99.0, F.lit("SET"))
        .when(F.col("price") < 103.0, F.lit("ADD"))
        .otherwise(F.lit("SUB"))
        .alias("update_type"),
        F.array(
            F.struct(
                F.when(F.col("price") < 100.0, F.lit("bid")).otherwise(F.lit("ask")).alias("side"),
                F.round("price", 1).alias("price"),
                (F.pmod(F.round(F.col("price") * 10, 0), F.lit(7.0)) + 1).alias("size"),
            )
        ).alias("orders"),
    )
    results["orderbook_rows"] = n_book
    results["orderbook_sequential_sec"] = timed(
        lambda: force(reconstruct_book(upd, depth=10, emit_every="1m")),
        "orderbook_sequential",
    )
    results["orderbook_bucketed_sec"] = timed(
        lambda: force(
            reconstruct_book_bucketed(upd, depth=10, emit_every="1m", bucket="10m")
        ),
        "orderbook_bucketed",
    )

    # dataset curation at 20M rows: the global rank / prefix sum must
    # stay partition-parallel (a naive Window.orderBy would put all
    # 20M rows on one task)
    from svoe_spark.operators.curation import (  # noqa: E402
        deterministic_shuffle,
        pack_sequences,
    )

    ids = spark.range(N_LEFT).select(F.col("id").alias("doc_id"))
    results["shuffle_rank_20M_sec"] = timed(
        lambda: force(deterministic_shuffle(ids, buckets=256)),
        "shuffle_rank_20M",
    )
    sized = ids.withColumn("n_tokens", F.pmod(F.col("doc_id"), F.lit(900)) + 100)
    results["pack_sequences_20M_sec"] = timed(
        lambda: force(pack_sequences(sized, budget=2048, buckets=256)),
        "pack_sequences_20M",
    )

    # MinHash signatures over 2M synthetic docs — the shuffle-free
    # array-side path: signature derivation happens inside the scan
    # stage, so runtime is one pass over the text
    from svoe_spark.operators.dedup import minhash_signature  # noqa: E402

    docs = spark.range(2_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.conv(F.hex(F.xxhash64(F.col("id") * 17 + i)), 16, 36) for i in range(12)],
        ).alias("text"),
    )
    results["minhash_sig_2M_sec"] = timed(
        lambda: force(minhash_signature(docs)), "minhash_sig_2M"
    )

    # corpus cleaning over the same 2M synthetic docs: redaction and
    # repetition signals are scan-fused single-stage; chunk dedup adds
    # its two bounded shuffles (chunk text, then doc id)
    from svoe_spark.operators.cleaning import (  # noqa: E402
        chunk_dedup,
        pii_redact,
        repetition_signals,
    )

    results["pii_redact_2M_sec"] = timed(
        lambda: force(pii_redact(docs)), "pii_redact_2M"
    )
    results["repetition_signals_2M_sec"] = timed(
        lambda: force(repetition_signals(docs)), "repetition_signals_2M"
    )
    results["chunk_dedup_2M_sec"] = timed(
        lambda: force(chunk_dedup(docs, width=4)), "chunk_dedup_2M"
    )

    # connected components over 100k planted 4-clusters (400k nodes,
    # 300k star edges: node -> its cluster head); propagation is one
    # shuffle join per round over narrow keys
    from svoe_spark.operators.graph import connected_components  # noqa: E402

    members = spark.range(400_000).filter(F.col("id") % 4 != 0)
    edges = members.select(
        (F.col("id") - F.col("id") % 4).alias("id_a"), F.col("id").alias("id_b")
    )
    results["connected_components_300k_edges_sec"] = timed(
        lambda: force(connected_components(edges)), "connected_components"
    )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
