"""Order-book reconstruction: hand-computed semantics fixture +
distributed-vs-sequential differential (the reference's strongest test
pattern, test_task_graph.py:82)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from svoe_spark.operators.orderbook import (
    _Book,
    reconstruct_book,
    synthetic_l2_updates,
)
from svoe_spark.sources.tables import load_table

pytestmark = pytest.mark.heavy  # multi-minute suite: deselected by the
# default `pytest tests/ -q` tier (pytest.ini); scripts/ptest.py shards and
# the round-close sweep run it


FIXTURE = [
    # (ts_offset, update_type, [(side, price, size)])
    (0, "ADD", [("bid", 99.0, 1.0)]),          # pre-snapshot: skipped
    (1, "SNAPSHOT", [("bid", 100.0, 2.0), ("ask", 101.0, 3.0)]),
    (2, "ADD", [("bid", 100.0, 1.0), ("bid", 99.5, 4.0)]),
    (3, "SET", [("ask", 101.0, 5.0)]),
    (4, "SUB", [("bid", 99.5, 4.0)]),           # removes the level
    (5, "SUB", [("bid", 98.0, 1.0)]),           # missing -> inconsistency
    (6, "SET", [("bid", 100.0, 0.0)]),          # size 0 -> delete
    (7, "SNAPSHOT", [("bid", 50.0, 1.0), ("ask", 51.0, 1.0)]),  # reset
]


def test_book_engine_semantics():
    book = _Book()
    assert not book.apply("ADD", [("bid", 99.0, 1.0)])  # pre-snapshot
    book.apply("SNAPSHOT", [("bid", 100.0, 2.0), ("ask", 101.0, 3.0)])
    book.apply("ADD", [("bid", 100.0, 1.0), ("bid", 99.5, 4.0)])
    assert book.bids == {100.0: 3.0, 99.5: 4.0}
    book.apply("SET", [("ask", 101.0, 5.0)])
    assert book.asks == {101.0: 5.0}
    book.apply("SUB", [("bid", 99.5, 4.0)])
    assert 99.5 not in book.bids
    book.apply("SUB", [("bid", 98.0, 1.0)])
    assert book.inconsistencies == 1
    book.apply("SET", [("bid", 100.0, 0.0)])
    assert book.bids == {}
    book.apply("SNAPSHOT", [("bid", 50.0, 1.0), ("ask", 51.0, 1.0)])
    assert book.bids == {50.0: 1.0} and book.asks == {51.0: 1.0}


def test_reconstruct_batch_fixture(spark):
    import datetime as dt

    base_ts = dt.datetime(2024, 1, 1)
    rows = [
        (
            "X",
            base_ts + dt.timedelta(seconds=off),
            ut,
            [{"side": s, "price": p, "size": z} for s, p, z in orders],
        )
        for off, ut, orders in FIXTURE
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts timestamp, update_type string, "
        "orders array<struct<side:string,price:double,size:double>>"
    )
    out = {r["ts"].second: r for r in reconstruct_book(df, depth=5).collect()}
    assert 0 not in out  # pre-snapshot event emitted nothing
    assert [(b["price"], b["size"]) for b in out[2]["bids"]] == [(100.0, 3.0), (99.5, 4.0)]
    assert [(a["price"], a["size"]) for a in out[3]["asks"]] == [(101.0, 5.0)]
    assert [(b["price"], b["size"]) for b in out[4]["bids"]] == [(100.0, 3.0)]
    assert out[5]["inconsistencies"] == 1
    assert out[6]["bids"] == []
    assert [(b["price"], b["size"]) for b in out[7]["bids"]] == [(50.0, 1.0)]


def test_distributed_equals_sequential(spark, sf_small):
    """Spark per-key reconstruction == single-process pandas replay."""
    events = load_table(spark, "events", sf_small)
    updates = synthetic_l2_updates(events)
    got = {
        (r["symbol"], r["ts"]): (r["bids"], r["asks"], r["inconsistencies"])
        for r in reconstruct_book(updates, depth=10).collect()
    }

    pdf = updates.orderBy("symbol", "ts").toPandas()
    count = 0
    for sym, grp in pdf.groupby("symbol"):
        book = _Book()
        for _, row in grp.sort_values("ts").iterrows():
            if not book.apply(
                row["update_type"],
                [(o["side"], o["price"], o["size"]) for o in row["orders"]],
            ):
                continue
            bids, asks = book.top(10)
            key = (sym, row["ts"])
            assert key in got, f"missing emission {key}"
            gb, ga, ginc = got[key]
            assert [(b["price"], b["size"]) for b in gb] == [(b["price"], b["size"]) for b in bids]
            assert [(a["price"], a["size"]) for a in ga] == [(a["price"], a["size"]) for a in asks]
            assert ginc == book.inconsistencies
            count += 1
    assert count == len(got) > 0


def test_emit_every_sampling(spark, sf_small):
    events = load_table(spark, "events", sf_small)
    updates = synthetic_l2_updates(events)
    raw = reconstruct_book(updates, depth=5).count()
    sampled = reconstruct_book(updates, depth=5, emit_every="1d").count()
    assert 0 < sampled < raw


def _emission_map(df):
    return {
        (r["symbol"], r["ts"]): (
            [(b["price"], b["size"]) for b in r["bids"]],
            [(a["price"], a["size"]) for a in r["asks"]],
            r["inconsistencies"],
        )
        for r in df.collect()
    }


def test_bucketed_equals_sequential(spark, sf_mid):
    """Time-parallel reconstruction == per-key sequential replay,
    emission for emission including cumulative inconsistency counts.
    sf0.01 interleaves all update types across 1500 keys and many
    buckets; sizes are integer-valued so the summary composition is
    float-exact (see the algebra note in operators/orderbook.py)."""
    from svoe_spark.operators.orderbook import reconstruct_book_bucketed

    events = load_table(spark, "events", sf_mid)
    updates = synthetic_l2_updates(events, passthrough=("event_id",))

    seq = reconstruct_book(updates, depth=10, seq_col="event_id")
    par = reconstruct_book_bucketed(
        updates, depth=10, bucket="6h", seq_col="event_id"
    )
    a, b = _emission_map(seq), _emission_map(par)
    assert len(a) == len(b) > 0
    assert a == b


def _cryptofeed_oracle(pdf, depth):
    """Direct transcription of the reference's cryptofeed_update_state
    (l2_book/l2_snapshot_fd/utils.py:66-89): delta=False resets the
    book, every order then runs size-0-deletes-else-set, missing-level
    zero counts an inconsistency, pre-init deltas are skipped."""
    out = {}
    for sym, grp in pdf.groupby("symbol"):
        book = {"bid": {}, "ask": {}}
        inited = False
        inc = 0
        for _, row in grp.sort_values("ts").iterrows():
            if row["delta"] and not inited:
                continue
            if not row["delta"]:
                inited = True
                book = {"bid": {}, "ask": {}}
            for o in row["orders"]:
                side, price, size = o["side"], o["price"], o["size"]
                if size == 0.0:
                    if price in book[side]:
                        del book[side][price]
                    else:
                        inc += 1
                else:
                    book[side][price] = size
            bids = sorted(book["bid"].items(), key=lambda kv: -kv[0])[:depth]
            asks = sorted(book["ask"].items())[:depth]
            out[(sym, row["ts"])] = (bids, asks, inc)
    return out


def test_cryptofeed_dialect_equals_reference_semantics(spark, sf_small):
    """cryptofeed_updates + the canonical engine == a single-process
    replay of the reference's cryptofeed state machine, emission for
    emission — the second dialect's differential test, mirroring the
    cryptotick one above."""
    from svoe_spark.operators.orderbook import (
        cryptofeed_updates,
        synthetic_cryptofeed_updates,
    )

    events = load_table(spark, "events", sf_small)
    feed = synthetic_cryptofeed_updates(events)
    got = _emission_map(reconstruct_book(cryptofeed_updates(feed), depth=10))

    want = _cryptofeed_oracle(feed.toPandas(), depth=10)
    assert len(got) == len(want) > 0
    assert got == want
    # the fixtures must actually exercise both special paths
    assert any(inc > 0 for _, _, inc in want.values())


def test_cryptofeed_dialect_bucketed_equals_sequential(spark, sf_small):
    """The time-parallel engine replays the cryptofeed dialect (FULL +
    SET only — no ADDs, so its invariant holds) identically."""
    from svoe_spark.operators.orderbook import (
        cryptofeed_updates,
        reconstruct_book_bucketed,
        synthetic_cryptofeed_updates,
    )

    events = load_table(spark, "events", sf_small)
    updates = cryptofeed_updates(
        synthetic_cryptofeed_updates(events, passthrough=("event_id",))
    )
    seq = _emission_map(reconstruct_book(updates, depth=10, seq_col="event_id"))
    par = _emission_map(
        reconstruct_book_bucketed(updates, depth=10, bucket="6h", seq_col="event_id")
    )
    assert seq == par
    assert len(seq) > 0


def test_full_event_zero_size_counts_inconsistency():
    """FULL (cryptofeed non-delta) runs orders through SET logic: a
    zero size on the fresh book is an inconsistency, not a level."""
    b = _Book()
    assert b.apply("FULL", [("bid", 100.0, 5.0), ("bid", 99.0, 0.0)])
    assert b.bids == {100.0: 5.0}
    assert b.inconsistencies == 1
    # SNAPSHOT (cryptotick) stores the level verbatim instead
    b2 = _Book()
    b2.apply("SNAPSHOT", [("bid", 100.0, 5.0), ("bid", 99.0, 0.0)])
    assert b2.bids == {100.0: 5.0, 99.0: 0.0}
    assert b2.inconsistencies == 0


def test_auto_dispatch_equals_sequential(spark, sf_small, monkeypatch):
    """reconstruct_book_auto must produce identical emissions whichever
    physical plan its per-key profile selects; a tiny threshold forces
    the bucketed branch, the default threshold the sequential one."""
    from svoe_spark.operators import orderbook

    events = load_table(spark, "events", sf_small)
    updates = synthetic_l2_updates(events, passthrough=("event_id",))

    seq = _emission_map(reconstruct_book(updates, depth=10, seq_col="event_id"))
    # default threshold: hottest key is tiny -> sequential branch
    auto_seq = _emission_map(
        orderbook.reconstruct_book_auto(updates, depth=10, seq_col="event_id")
    )
    # threshold of 1 row: every key is "hot" -> bucketed branch
    monkeypatch.setattr(orderbook, "AUTO_MAX_ROWS_PER_TASK", 1)
    auto_par = _emission_map(
        orderbook.reconstruct_book_auto(updates, depth=10, seq_col="event_id")
    )
    assert seq == auto_seq == auto_par
    assert len(seq) > 0


def test_bucketed_emit_every(spark, sf_small):
    from svoe_spark.operators.orderbook import reconstruct_book_bucketed

    events = load_table(spark, "events", sf_small)
    updates = synthetic_l2_updates(events)
    raw = reconstruct_book_bucketed(updates, depth=5, bucket="12h").count()
    sampled = reconstruct_book_bucketed(
        updates, depth=5, bucket="12h", emit_every="1d"
    ).count()
    assert 0 < sampled < raw


def test_bucketed_emit_every_across_bucket_boundaries(spark, sf_small):
    """Regression: with emit_every set, the per-time-bucket replay
    restarted emission dedup at every bucket boundary — a bucket width
    that is NOT a multiple of emit_every emitted extra rows. The
    bucketed output must equal the sequential engine's exactly."""
    from svoe_spark.operators.orderbook import reconstruct_book_bucketed

    events = load_table(spark, "events", sf_small)
    updates = synthetic_l2_updates(events)
    seq = reconstruct_book(updates, depth=5, emit_every="1d").collect()
    # 7h buckets deliberately misaligned with the 1d emission grid
    buck = reconstruct_book_bucketed(
        updates, depth=5, emit_every="1d", bucket="7h"
    ).collect()
    key = lambda r: (r["symbol"], r["ts"])  # noqa: E731
    assert sorted(map(key, buck)) == sorted(map(key, seq))
    s = {key(r): (r["bids"], r["asks"], r["inconsistencies"]) for r in seq}
    b = {key(r): (r["bids"], r["asks"], r["inconsistencies"]) for r in buck}
    assert s == b
