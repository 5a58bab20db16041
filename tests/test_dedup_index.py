"""Incremental near-dup index: parquet round trip, append-equals-
rebuild, probe vs full-corpus recompute, survivor semantics, signature
mode, and the plan property that the corpus side is never shuffled."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.dedup import MinHashParams, minhash_dedup_pairs
from svoe_spark.operators.dedup_index import (
    dedup_against_index,
    index_tables,
    probe_index,
    read_index,
    write_index,
)
from svoe_spark.sources.tables import load_table

pytestmark = pytest.mark.heavy  # multi-minute suite: deselected by the
# default `pytest tests/ -q` tier (pytest.ini); scripts/ptest.py shards and
# the round-close sweep run it


_MH = MinHashParams()


@pytest.fixture(scope="module")
def docs(spark, sf_mid):
    # yield + unpersist: a cached load_table relation would otherwise
    # substitute (InMemoryTableScan) into OTHER test modules' plans —
    # the session is shared, and the plan-quality gates assert on the
    # parquet scan shape
    df = load_table(spark, "documents", sf_mid).persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def split(docs):
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    return old, new


def _pairs(df):
    return {(r["id_new"], r["id_old"]) for r in df.collect()}


def test_probe_matches_full_corpus_recompute(docs, split):
    """Probing new-vs-index must find exactly the full-corpus verified
    pairs that straddle the split (plus identical jaccard values)."""
    old, new = split
    bands, sets = index_tables(old, params=_MH)
    got = probe_index(new, bands, sets, params=_MH, threshold=0.5)
    full = minhash_dedup_pairs(docs, params=_MH, threshold=0.5)
    want = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if a % 5 == 0 and b % 5 != 0:
            want.add((a, b))
        elif b % 5 == 0 and a % 5 != 0:
            want.add((b, a))
    full._svoe_persisted.unpersist()
    assert _pairs(got) == want and len(want) > 0


def test_write_read_probe_round_trip(spark, split, tmp_path):
    old, new = split
    path = str(tmp_path / "idx")
    write_index(old, path, params=_MH)
    bands, sets = read_index(spark, path)
    got = probe_index(new, bands, sets, params=_MH, threshold=0.5)
    mem_bands, mem_sets = index_tables(old, params=_MH)
    want = probe_index(new, mem_bands, mem_sets, params=_MH, threshold=0.5)
    assert _pairs(got) == _pairs(want)
    # layout: batch-scoped subtree, band-partitioned inside -> probes
    # prune partitions and replays overwrite in place
    import os

    assert os.path.isdir(f"{path}/bands/batch=0")
    assert any(
        d.startswith("band=") for d in os.listdir(f"{path}/bands/batch=0")
    )


def test_append_equals_rebuild(spark, split, tmp_path):
    old, new = split
    half1 = old.where(F.col("doc_id") % 2 == 0)
    half2 = old.where(F.col("doc_id") % 2 != 0)
    inc = str(tmp_path / "inc")
    write_index(half1, inc, params=_MH)
    write_index(half2, inc, params=_MH, batch_id=1)
    full = str(tmp_path / "full")
    write_index(old, full, params=_MH)
    for i in (0, 1):
        a = read_index(spark, inc)[i]
        b = read_index(spark, full)[i]
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # re-running the same append overwrites, not duplicates
    write_index(half2, inc, params=_MH, batch_id=1)
    assert read_index(spark, inc)[0].count() == read_index(spark, full)[0].count()


def test_apply_index_batch_exactly_once_and_dedups(spark, docs, tmp_path):
    from svoe_spark.operators.dedup_index import apply_index_batch

    path = str(tmp_path / "stream_idx")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    assert apply_index_batch(path, b0, 0, params=_MH) is True
    assert apply_index_batch(path, b1, 1, params=_MH) is True
    # commit log short-circuits a replayed batch
    assert apply_index_batch(path, b1, 1, params=_MH) is False
    bands, sets = read_index(spark, path)
    ids = {r["doc_id"] for r in sets.select("doc_id").distinct().collect()}
    # batch-1 survivors: no verified duplicate of anything in batch 0
    # and no lower-id duplicate within batch 1
    dup_vs_b0 = {
        r["id_new"]
        for r in probe_index(
            b1, *index_tables(b0, params=_MH), params=_MH, threshold=0.5
        ).collect()
    }
    assert ids.isdisjoint(dup_vs_b0)
    # the index is usable: probing batch-0 docs against it finds them
    self_hits = probe_index(
        b0.limit(20), bands, sets, params=_MH, threshold=0.99
    )
    assert self_hits.count() >= 1  # every doc duplicates itself


def test_crash_replay_recomputes_same_survivors(spark, docs, tmp_path):
    """Simulate a crash BETWEEN the data write and the commit-log
    append: the batch subtree exists but the log doesn't know it.
    The replay must exclude the batch's own partial writes from the
    probe (else every doc matches itself and the batch empties)."""
    from svoe_spark.operators.dedup_index import apply_index_batch

    path = str(tmp_path / "crash_idx")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    apply_index_batch(path, b0, 0, params=_MH)
    apply_index_batch(path, b1, 1, params=_MH)
    want = read_index(spark, path)[1].count()
    # crash: forget batch 1's commit, leave its data on disk
    import os

    with open(path + "._commits") as f:
        lines = [x for x in f.read().split() if x != "1"]
    with open(path + "._commits", "w") as f:
        f.write("\n".join(lines) + "\n")
    assert apply_index_batch(path, b1, 1, params=_MH) is True
    assert read_index(spark, path)[1].count() == want


def test_streaming_maintainer_matches_batch_ingest(spark, docs, tmp_path):
    from svoe_spark.operators.dedup_index import apply_index_batch
    from svoe_spark.streaming.sinks import foreach_batch

    src = str(tmp_path / "src")
    docs.limit(200).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    path = str(tmp_path / "sidx")
    q = foreach_batch(
        stream,
        lambda bdf, bid: apply_index_batch(path, bdf, bid, params=_MH),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    got_ids = {
        r["doc_id"]
        for r in read_index(spark, path)[1].select("doc_id").distinct().collect()
    }
    assert len(got_ids) > 0
    # THE index invariant: no verified near-dup pair survives among the
    # indexed docs (each batch probed all prior survivors, and
    # within-batch keep-lowest removed intra-batch pairs). Note the
    # survivor SET may legitimately differ from a one-shot ingest on
    # duplicate chains split across micro-batches (a dropped middle
    # element no longer kills its partner), so equality with a one-shot
    # run is deliberately NOT asserted.
    from svoe_spark.operators.dedup import minhash_dedup_pairs

    indexed_docs = docs.limit(200).where(F.col("doc_id").isin(list(got_ids)))
    pairs = minhash_dedup_pairs(indexed_docs, params=_MH, threshold=0.5)
    assert pairs.count() == 0
    pairs._svoe_persisted.unpersist()
    # and a one-shot ingest respects the same invariant
    bpath = str(tmp_path / "bidx")
    apply_index_batch(bpath, spark.read.parquet(src), 0, params=_MH)
    assert read_index(spark, bpath)[1].count() > 0


def test_survivors_have_no_index_match_and_no_batch_dups(split):
    old, new = split
    bands, sets = index_tables(old, params=_MH)
    kept = dedup_against_index(new, bands, sets, params=_MH, threshold=0.5)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    kept._svoe_persisted.unpersist()
    # nothing kept matches the index
    dup_new = {
        r["id_new"]
        for r in probe_index(new, bands, sets, params=_MH, threshold=0.5).collect()
    }
    assert kept_ids.isdisjoint(dup_new)
    # nothing kept is a higher-id verified duplicate of another survivor
    pairs = minhash_dedup_pairs(
        new.where(F.col("doc_id").isin(list(kept_ids))), params=_MH, threshold=0.5
    )
    dup_b = {r["id_b"] for r in pairs.collect()}
    pairs._svoe_persisted.unpersist()
    assert kept_ids.isdisjoint(dup_b)
    # and every new doc is either kept or explained by one of the rules
    assert len(kept_ids) > 0


def test_signature_mode_needs_no_sets_and_bounds_fraction(split):
    old, new = split
    bands, _ = index_tables(old, params=_MH)
    est = probe_index(
        new, bands, None, params=_MH, threshold=1.0 / _MH.bands,
        verify="signature",
    )
    rows = est.collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 < r["jaccard"] <= 1.0
        # quantized to multiples of 1/bands
        steps = r["jaccard"] * _MH.bands
        assert abs(steps - round(steps)) < 1e-9
    with pytest.raises(ValueError):
        probe_index(new, bands, None, params=_MH, verify="sets")
    with pytest.raises(ValueError):
        probe_index(new, bands, None, params=_MH, verify="maybe")


def test_probe_plan_broadcasts_batch_not_index(split):
    old, new = split
    bands, sets = index_tables(old, params=_MH)
    df = probe_index(new, bands, sets, params=_MH, threshold=0.5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastExchange" in p, p
