"""L2 order-book reconstruction (reference T2 — the hardest stateful
operator: l2_snapshot_fd.py:35-106 + l2_book/l2_snapshot_fd/utils.py:21-89).

Semantics (cryptotick dialect):
  * SNAPSHOT resets the book to exactly the rows in the event;
  * ADD inserts/accumulates size at a level;
  * SET overwrites size (size 0 deletes);
  * SUB subtracts size (level removed at <= 0); SUB/SET on a missing
    level counts an inconsistency and is ignored;
  * events before the first SNAPSHOT are skipped;
  * each processed event emits a depth-truncated snapshot.

Physical design: one book per instrument key. Batch = applyInPandas per
key (Arrow in, Arrow out, book dict in plain Python — this is exactly
the (b) case from the brief: semantics Spark expressions can't state).
Streaming = applyInPandasWithState with the book as state. A single hot
instrument is inherently sequential (same as the reference); depth
truncation bounds state and output size. The per-event-emission cost the
reference measured at 300x (l2_snapshot_fd.py:65-66) is controlled the
same way: `emit_every` bucket-samples emissions inside the operator.
Every form hands its Python replay ``ts`` as int64 UTC µs
(``functions.time.to_micros``) and rebuilds the timestamp from the µs
it returns, so events replay in instant order whatever the session
time zone.
"""

from __future__ import annotations

from bisect import bisect_left, insort
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from svoe_spark.functions.time import duration_to_seconds, epoch_seconds, from_micros, micros_ns, to_micros
from svoe_spark.operators.util import hot_key_bucket

LEVEL = StructType(
    [StructField("price", DoubleType()), StructField("size", DoubleType())]
)


def snapshot_schema(key_col: str = "symbol") -> StructType:
    """The replay's output: ``ts`` as µs (``from_micros`` rebuilds it)."""
    return StructType(
        [
            StructField(key_col, StringType()),
            StructField("ts", LongType()),
            StructField("bids", ArrayType(LEVEL)),
            StructField("asks", ArrayType(LEVEL)),
            StructField("inconsistencies", IntegerType()),
        ]
    )


class _Book:
    """Pure-Python book engine shared by the batch and streaming ops.

    Price levels live in dicts plus bisect-maintained sorted price
    lists, so emission (`top`) is an O(depth) slice instead of a full
    sort per emitted event — the dominant cost under per-event emission
    (the reference's 300x observation, l2_snapshot_fd.py:65-66)."""

    __slots__ = ("bids", "asks", "_bid_px", "_ask_px", "started", "inconsistencies")

    def __init__(self):
        self.bids: dict[float, float] = {}
        self.asks: dict[float, float] = {}
        self._bid_px: list[float] = []  # ascending; best bid = last
        self._ask_px: list[float] = []  # ascending; best ask = first
        self.started = False
        self.inconsistencies = 0

    def _set_level(self, is_bid: bool, price: float, size: float) -> None:
        book = self.bids if is_bid else self.asks
        px = self._bid_px if is_bid else self._ask_px
        if price not in book:
            insort(px, price)
        book[price] = size

    def _del_level(self, is_bid: bool, price: float) -> bool:
        book = self.bids if is_bid else self.asks
        if price not in book:
            return False
        del book[price]
        px = self._bid_px if is_bid else self._ask_px
        px.pop(bisect_left(px, price))
        return True

    def apply(self, update_type: str, orders) -> bool:
        """orders: iterable of (side, price, size). Returns True if the
        event was applied (False = pre-snapshot skip).

        SNAPSHOT (cryptotick): reset, then set levels verbatim.
        FULL (cryptofeed non-delta, reference utils.py:73-83): reset,
        then run each order through the SET logic — so a zero size in a
        full event counts a missing-level inconsistency instead of
        storing an empty level, exactly as the reference does."""
        if update_type == "SNAPSHOT":
            self.bids.clear()
            self.asks.clear()
            self._bid_px.clear()
            self._ask_px.clear()
            for side, price, size in orders:
                self._set_level(side == "bid", price, size)
            self.started = True
            return True
        if update_type == "FULL":
            self.bids.clear()
            self.asks.clear()
            self._bid_px.clear()
            self._ask_px.clear()
            self.started = True
            update_type = "SET"  # per-order semantics below
        if not self.started:
            return False
        for side, price, size in orders:
            is_bid = side == "bid"
            book = self.bids if is_bid else self.asks
            if update_type == "ADD":
                self._set_level(is_bid, price, book.get(price, 0.0) + size)
            elif update_type == "SET":
                if size == 0.0:
                    if not self._del_level(is_bid, price):
                        self.inconsistencies += 1
                else:
                    self._set_level(is_bid, price, size)
            elif update_type == "SUB":
                cur = book.get(price)
                if cur is None:
                    self.inconsistencies += 1
                    continue
                left = cur - size
                if left <= 0.0:
                    self._del_level(is_bid, price)
                else:
                    book[price] = left
        return True

    def top(self, depth: int):
        bids = self._bid_px[-depth:][::-1] if depth else []
        asks = self._ask_px[:depth]
        return (
            [{"price": p, "size": self.bids[p]} for p in bids],
            [{"price": p, "size": self.asks[p]} for p in asks],
        )


def _new_acc() -> dict:
    return {"__key": [], "ts": [], "bids": [], "asks": [], "inconsistencies": []}


def _acc_frame(acc: dict, key: str) -> pd.DataFrame:
    # every column carries an explicit dtype: a ZERO-row frame built
    # from plain lists defaults to float64 columns, which Arrow cannot
    # convert to string/array<struct> schema fields
    return pd.DataFrame(
        {
            key: pd.Series(acc["__key"], dtype="object"),
            "ts": pd.Series(acc["ts"], dtype="Int64"),
            "bids": pd.Series(acc["bids"], dtype="object"),
            "asks": pd.Series(acc["asks"], dtype="object"),
            "inconsistencies": pd.Series(acc["inconsistencies"], dtype="int64"),
        }
    )


def _replay_into(
    pdf: pd.DataFrame,
    book: _Book,
    depth: int,
    emit_every: float | None,
    key_val,
    seq_col: str | None,
    acc: dict,
) -> None:
    """Replay one key's updates, appending emissions to ``acc`` — a
    shared dict of columnar lists, so a task replaying many keys builds
    ONE output DataFrame instead of one per key (pandas frame
    construction costs ~1 ms, which dominates when groups are small)."""
    last_bucket = None
    # numpy lexsort on the raw arrays instead of DataFrame.sort_values:
    # with thousands of small per-key groups the per-group pandas sort +
    # sorted-frame construction dominates the actual replay (profiled
    # ~3x the event loop). seq_col: deterministic tie-break for equal
    # timestamps (a plain ts sort is not stable across input orders).
    ts_ns = micros_ns(pdf["ts"])
    if seq_col:
        order = np.lexsort((pdf[seq_col].to_numpy(), ts_ns))
    else:
        order = np.argsort(ts_ns, kind="stable")
    ts_arr = pdf["ts"].to_numpy()[order]
    ut_arr = pdf["update_type"].to_numpy()[order]
    orders_arr = pdf["orders"].to_numpy()[order]
    if emit_every is not None:
        bucket_arr = ts_ns[order] // int(emit_every * 1e9)
    apply_, top = book.apply, book.top
    out_ts, out_bids, out_asks = acc["ts"], acc["bids"], acc["asks"]
    out_inc = acc["inconsistencies"]
    n0 = len(out_ts)
    for i in range(len(ts_arr)):
        orders = orders_arr[i]
        applied = apply_(
            ut_arr[i], ((o["side"], o["price"], o["size"]) for o in orders)
        )
        if not applied:
            continue
        if emit_every is not None:
            bucket = bucket_arr[i]
            if bucket == last_bucket:
                continue
            last_bucket = bucket
        bids, asks = top(depth)
        out_ts.append(ts_arr[i])
        out_bids.append(bids)
        out_asks.append(asks)
        out_inc.append(book.inconsistencies)
    acc["__key"].extend([key_val] * (len(out_ts) - n0))


def _replay(
    pdf: pd.DataFrame,
    book: _Book,
    depth: int,
    emit_every: float | None,
    key_val,
    seq_col: str | None = None,
) -> pd.DataFrame:
    acc = _new_acc()
    _replay_into(pdf, book, depth, emit_every, key_val, seq_col, acc)
    return _acc_frame(acc, "__key")


def reconstruct_book(
    df: DataFrame,
    key: str = "symbol",
    depth: int = 20,
    emit_every: str | float | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Batch reconstruction, one sequential replay per key: df(key, ts,
    update_type, orders:array<struct<side,price,size>>) ->
    depth-truncated snapshots per event (or per emit_every bucket).
    ``seq_col``: optional monotone column breaking equal-timestamp ties
    deterministically. A hot key is one task; ``reconstruct_book_auto``
    switches to the time-parallel form when it is.

    Keys are hash-bundled onto the session's ``defaultParallelism``
    tasks and replayed per key inside each task: with thousands of cold
    instruments, one-Arrow-group-per-key spends more time on per-group
    pandas/Arrow plumbing than on the replay itself (profiled ~3x),
    while bundling keeps task count = cores and builds one output frame
    per task. Per-key order and emissions are identical — the bundle is
    only a scheduling unit."""
    every = duration_to_seconds(emit_every) if emit_every is not None else None
    schema = snapshot_schema(key)
    nb = df.sparkSession.sparkContext.defaultParallelism

    # no type hints on the applyInPandas functions in this module: partial
    # ones make PySpark warn it cannot infer the eval type
    def fn(_, pdf):
        acc = _new_acc()
        for k, g in pdf.groupby(key, sort=False):
            _replay_into(g, _Book(), depth, every, k, seq_col, acc)
        return _acc_frame(acc, key)

    bundled = df.withColumn("ts", to_micros("ts")).withColumn(
        "__bundle", F.pmod(F.xxhash64(F.col(key)), F.lit(nb))
    )
    return bundled.groupBy("__bundle").applyInPandas(fn, schema=schema).withColumn("ts", from_micros("ts"))


#: Above this many update rows on the hottest instrument, a single
#: sequential replay task is minutes of Python work — switch to the
#: time-parallel plan. ~100k updates/s replay speed puts one 200k-row
#: task at ~2s.
AUTO_MAX_ROWS_PER_TASK = 200_000


def reconstruct_book_auto(
    df: DataFrame,
    key: str = "symbol",
    depth: int = 20,
    emit_every: str | float | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Reconstruction with automatic physical-plan selection.

    The hot-key gate ``operators.util.hot_key_bucket``, shared with
    ``asof_join_multi(time_bucket="auto")``, dispatches: if the hottest
    instrument has at most ``AUTO_MAX_ROWS_PER_TASK`` updates, the
    per-key sequential ``reconstruct_book`` runs (the many-instrument
    regime); above it, ``reconstruct_book_bucketed`` runs with a bucket
    width sized so the hottest key splits into ~task-sized pieces (keys
    x buckets parallelism — the hot-instrument regime). This makes the
    plan a naive caller gets the 100x-safe one. The optimizer's row
    count or size estimate settles small inputs with no job; otherwise
    the gate runs one eager per-key count/span aggregation. A lineage
    with a Python stage replays per key unprofiled.

    Caveat: the bucketed path requires the positive-ADD-size invariant
    (true of any real exchange feed); it raises a ValueError naming
    ``reconstruct_book`` as the fallback if violated."""
    bucket_s = hot_key_bucket(df, [key], epoch_seconds("ts"), AUTO_MAX_ROWS_PER_TASK)
    if bucket_s is None:
        return reconstruct_book(df, key, depth, emit_every, seq_col)
    return reconstruct_book_bucketed(df, key, depth, emit_every, bucket=bucket_s, seq_col=seq_col)


# --------------------------------------------------------------------------
# Time-parallel (bucketed) reconstruction
# --------------------------------------------------------------------------
#
# A hot instrument serializes the per-key replay above. But the book
# update algebra is associative: with all sizes positive (any real
# book), a level's value is >= 0, "absent" is exactly 0, and each op is
# a clamped-linear function of the level's prior value v:
#
#     ADD a   ->  f(v) = v + a          = max(v + a, a)     (v >= 0)
#     SUB s   ->  f(v) = max(v - s, 0)                      (<=0 deletes)
#     SET x   ->  f(v) = x              = max(v - inf, x)
#     SET 0   ->  f(v) = 0  (delete)
#
# The family f(v) = max(v + A, B) is closed under composition:
#     (A1,B1) then (A2,B2)  =  (A1+A2, max(B1+A2, B2))
# and SNAPSHOT resets the whole key, making everything before it
# irrelevant. So reconstruction parallelizes over time like a prefix
# scan: (1) summarize each (key, time-bucket) independently — either a
# composed (A,B) per touched level, or, if the bucket contains a
# SNAPSHOT, the exact end-of-bucket book (seed-independent); (2) fold
# the summaries per key in bucket order — a sequential pass, but over
# the tiny summary relation, not the events; (3) replay each bucket in
# parallel seeded with its exact boundary state. Inconsistency counts
# are per-bucket deltas in pass 3, made cumulative by an exclusive
# prefix sum over the (key, bucket) meta relation.
#
# Parallelism becomes keys x buckets (the same trick as the bucketed
# as-of join) at the cost of ~2 passes over the events. Float caveat:
# composing ADDs sums sizes in a different association order than
# sequential replay — identical results when sizes are integer-valued
# (exact in doubles, true of the fixtures), otherwise equal up to fp
# reassociation (the same caveat as any distributed sum).

_NEG_INF = float("-inf")


def _summarize_segment(pdf: pd.DataFrame, seq_col: str | None):
    """One (key, bucket) segment -> boundary-state transfer summary."""
    ts_ns = micros_ns(pdf["ts"])
    if seq_col:
        order = np.lexsort((pdf[seq_col].to_numpy(), ts_ns))
    else:
        order = np.argsort(ts_ns, kind="stable")
    snap_book: _Book | None = None
    levels: dict[tuple[str, float], tuple[float, float]] = {}
    for ut, orders in zip(
        pdf["update_type"].to_numpy()[order], pdf["orders"].to_numpy()[order]
    ):
        if ut in ("SNAPSHOT", "FULL"):
            snap_book = _Book()
            snap_book.apply(ut, ((o["side"], o["price"], o["size"]) for o in orders))
            continue
        if snap_book is not None:
            snap_book.apply(ut, ((o["side"], o["price"], o["size"]) for o in orders))
            continue
        for o in orders:
            side, price, size = o["side"], o["price"], o["size"]
            if ut == "ADD":
                if size <= 0.0:
                    raise ValueError(
                        "bucketed order-book reconstruction requires positive "
                        "ADD sizes (absent==0 invariant); use reconstruct_book"
                    )
                op = (size, size)
            elif ut == "SET":
                op = (_NEG_INF, size)  # SET 0 == delete == CONST 0
            elif ut == "SUB":
                op = (-size, 0.0)
            else:
                continue
            prev = levels.get((side, price))
            if prev is None:
                levels[(side, price)] = op
            else:
                a1, b1 = prev
                a2, b2 = op
                levels[(side, price)] = (a1 + a2, max(b1 + a2, b2))
    if snap_book is not None:
        out = [
            ("bid" if is_bid else "ask", p, None, sz)
            for is_bid, book in ((True, snap_book.bids), (False, snap_book.asks))
            for p, sz in book.items()
        ]
        return True, out
    return False, [
        (side, price, None if a == _NEG_INF else a, b)
        for (side, price), (a, b) in levels.items()
    ]


def reconstruct_book_bucketed(
    df: DataFrame,
    key: str = "symbol",
    depth: int = 20,
    emit_every: str | float | None = None,
    bucket: str | float = "1h",
    seq_col: str | None = None,
) -> DataFrame:
    """Time-parallel reconstruction: identical output to
    ``reconstruct_book`` (see float caveat above) with parallelism
    keys x buckets instead of keys. Use when instruments are few or
    skewed — the same scale regime as ``asof_join(time_bucket=...)``.

    Cache note: the replay relation is persisted (MEMORY_AND_DISK)
    because it feeds two subtrees. The persisted handle is exposed as
    ``result._svoe_persisted``; long-lived sessions that call this
    repeatedly should ``result._svoe_persisted.unpersist()`` after the
    final action to release executor storage."""
    every = duration_to_seconds(emit_every) if emit_every is not None else None
    bucket_s = duration_to_seconds(bucket)
    in_cols = [key, "ts", "update_type", "orders"] + ([seq_col] if seq_col else [])
    ev = df.select(*in_cols).withColumn(
        "__bk", F.floor(F.unix_timestamp("ts") / F.lit(bucket_s)).cast("long")
    ).withColumn("ts", to_micros("ts"))

    # ---- pass 1 (parallel over key x bucket): segment summaries
    sum_schema = StructType(
        [
            StructField("__key", StringType()),
            StructField("__bk", LongType()),
            StructField("has_snapshot", IntegerType()),
            StructField(
                "levels",
                ArrayType(
                    StructType(
                        [
                            StructField("side", StringType()),
                            StructField("price", DoubleType()),
                            StructField("a", DoubleType()),
                            StructField("b", DoubleType()),
                        ]
                    )
                ),
            ),
        ]
    )

    def summarize(key_tuple, pdf):
        has_snap, levels = _summarize_segment(pdf, seq_col)
        return pd.DataFrame(
            {
                "__key": [key_tuple[0]],
                "__bk": [key_tuple[1]],
                "has_snapshot": [int(has_snap)],
                "levels": [levels],
            }
        )

    summaries = ev.groupBy(
        F.col(key).cast("string").alias("__k"), "__bk"
    ).applyInPandas(summarize, schema=sum_schema)

    # ---- pass 2 (per key, sequential over the TINY summary relation):
    # fold summaries in bucket order, emitting each bucket's seed state
    sided_level = StructType(
        [
            StructField("side", StringType()),
            StructField("price", DoubleType()),
            StructField("size", DoubleType()),
        ]
    )
    seed_schema = StructType(
        [
            StructField("__key", StringType()),
            StructField("__bk", LongType()),
            StructField("update_type", StringType()),
            StructField("orders", ArrayType(sided_level)),
        ]
    )

    def fold_seeds(key_tuple, pdf):
        pdf = pdf.sort_values("__bk")
        book: dict[tuple[str, float], float] = {}
        started = False
        out_bk, out_ut, out_orders = [], [], []
        for _, row in pdf.iterrows():
            if started:
                out_bk.append(row["__bk"])
                out_ut.append("__SEED__")
                out_orders.append(
                    [
                        {"side": s, "price": p, "size": sz}
                        for (s, p), sz in book.items()
                    ]
                )
            if row["has_snapshot"]:
                book = {
                    (lv["side"], lv["price"]): lv["b"] for lv in row["levels"]
                }
                started = True
            elif started:
                for lv in row["levels"]:
                    k2 = (lv["side"], lv["price"])
                    v = book.get(k2, 0.0)
                    a = lv["a"]
                    # Arrow may surface the SET sentinel (null a) as NaN
                    nv = lv["b"] if (a is None or a != a) else max(v + a, lv["b"])
                    if nv > 0.0:
                        book[k2] = nv
                    elif k2 in book:
                        del book[k2]
        # explicit dtypes: a key with a single bucket emits ZERO seed
        # rows, and empty plain-list columns default to float64, which
        # Arrow cannot convert to string/array<struct> schema fields
        return pd.DataFrame(
            {
                "__key": pd.Series([key_tuple[0]] * len(out_bk), dtype="object"),
                "__bk": pd.Series(out_bk, dtype="int64"),
                "update_type": pd.Series(out_ut, dtype="object"),
                "orders": pd.Series(out_orders, dtype="object"),
            }
        )

    seeds = summaries.groupBy("__key").applyInPandas(fold_seeds, schema=seed_schema)

    # ---- pass 3 (parallel over key x bucket): seeded replay. Seeds ride
    # into their group as marker rows (no per-event join duplication).
    ev2 = ev.select(
        F.col(key).cast("string").alias("__key"),
        "__bk",
        "ts",
        "update_type",
        F.transform(
            "orders",
            lambda o: F.struct(
                o["side"].alias("side"),
                o["price"].alias("price"),
                o["size"].alias("size"),
            ),
        ).alias("orders"),
        *([F.col(seq_col).cast("double").alias("__seq")] if seq_col else []),
    )
    seed_rows = seeds.select(
        "__key",
        "__bk",
        F.lit(None).cast("long").alias("ts"),
        "update_type",
        "orders",
        *([F.lit(None).cast("double").alias("__seq")] if seq_col else []),
    )
    union = ev2.unionByName(seed_rows)

    out_schema = StructType(
        [
            StructField("__key", StringType()),
            StructField("__bk", LongType()),
            StructField("ts", LongType()),
            StructField("bids", ArrayType(LEVEL)),
            StructField("asks", ArrayType(LEVEL)),
            StructField("inc_rel", IntegerType()),
            StructField("is_meta", IntegerType()),
        ]
    )

    def replay_bucket(key_tuple, pdf):
        book = _Book()
        seed = pdf[pdf["update_type"] == "__SEED__"]
        events = pdf[pdf["update_type"] != "__SEED__"]
        if len(seed):
            for o in seed.iloc[0]["orders"]:
                book._set_level(o["side"] == "bid", o["price"], o["size"])
            book.started = True
        out = _replay(
            events, book, depth, every, key_tuple[0], "__seq" if seq_col else None
        )
        out = out.rename(columns={"inconsistencies": "inc_rel"})
        out["__bk"] = key_tuple[1]
        out["is_meta"] = 0
        meta = pd.DataFrame(
            {
                "__key": [key_tuple[0]],
                "__bk": [key_tuple[1]],
                "ts": pd.Series([None], dtype="Int64"),
                "bids": [[]],
                "asks": [[]],
                "inc_rel": [book.inconsistencies],
                "is_meta": [1],
            }
        )
        return pd.concat([out, meta], ignore_index=True)

    # persist: the replay output feeds BOTH the cumulative-offset
    # subtree (broadcast side) and the main result — without it the
    # whole summarize/fold/replay pipeline executes twice per action.
    # Disk-backed: with emit_every sampling the emission relation is a
    # small fraction of the events; unsampled output spills, not OOMs.
    from pyspark.storagelevel import StorageLevel

    replayed = (
        union.groupBy("__key", "__bk")
        .applyInPandas(replay_bucket, schema=out_schema)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # ---- cumulative inconsistency offsets from the meta relation
    from pyspark.sql import Window

    meta = replayed.filter(F.col("is_meta") == 1).select(
        "__key", "__bk", F.col("inc_rel").alias("__delta")
    )
    w = (
        Window.partitionBy("__key")
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = meta.select(
        "__key", "__bk", F.coalesce(F.sum("__delta").over(w), F.lit(0)).alias("__off")
    )
    result = (
        replayed.filter(F.col("is_meta") == 0)
        .join(F.broadcast(offsets), on=["__key", "__bk"])
        .select(
            F.col("__key").alias(key),
            from_micros("ts").alias("ts"),
            "bids",
            "asks",
            (F.col("inc_rel") + F.col("__off")).cast("int").alias("inconsistencies"),
        )
    )
    if every is not None:
        # per-time-bucket replay restarts emission-bucket dedup at each
        # bucket boundary, so an emit_every bucket straddling a time
        # bucket would emit twice (once per side of the boundary) when
        # the bucket width is not a multiple of emit_every. Keep only
        # the FIRST emission per (key, emit bucket) — exactly the row
        # the sequential engine emits — via a window over the already-
        # sampled (small) emission relation.
        emicros = int(round(every * 1_000_000))
        ew = Window.partitionBy(
            key,
            F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(emicros)),
        ).orderBy("ts", "inconsistencies")
        result = (
            result.withColumn("__ernk", F.row_number().over(ew))
            .filter(F.col("__ernk") == 1)
            .drop("__ernk")
        )
    # expose the cached relation so callers can release it (docstring)
    result._svoe_persisted = replayed
    return result


def reconstruct_book_stream(
    df: DataFrame,
    key: str = "symbol",
    depth: int = 20,
    emit_every: str | float | None = None,
) -> DataFrame:
    """Streaming reconstruction: the book lives in GroupState; assumes
    in-order delivery per key (the reference's invariant, T5)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    every = duration_to_seconds(emit_every) if emit_every is not None else None
    schema = snapshot_schema(key)
    state_schema = StructType(
        [
            StructField("bid_prices", ArrayType(DoubleType())),
            StructField("bid_sizes", ArrayType(DoubleType())),
            StructField("ask_prices", ArrayType(DoubleType())),
            StructField("ask_sizes", ArrayType(DoubleType())),
            StructField("started", IntegerType()),
            StructField("inconsistencies", IntegerType()),
        ]
    )

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        book = _Book()
        if state.exists:
            bp, bs, ap, asz, started, inc = state.get
            book.bids = dict(zip(bp, bs))
            book.asks = dict(zip(ap, asz))
            book._bid_px = sorted(book.bids)
            book._ask_px = sorted(book.asks)
            book.started = bool(started)
            book.inconsistencies = inc
        # whole micro-batch as one frame, which _replay sorts: Arrow chunks arrive
        # in fetch order. A NoTimeout key never fires without data, so one chunk is there.
        out = _replay(pd.concat(list(pdfs), ignore_index=True), book, depth, every, key_tuple[0])
        yield out.rename(columns={"__key": key})
        state.update(
            (
                list(book.bids.keys()),
                list(book.bids.values()),
                list(book.asks.keys()),
                list(book.asks.values()),
                int(book.started),
                book.inconsistencies,
            )
        )

    return (
        df.select(key, to_micros("ts").alias("ts"), "update_type", "orders")
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .withColumn("ts", from_micros("ts"))
    )


def synthetic_l2_updates(
    events: DataFrame, key: str = "user_id", passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Derive a deterministic L2 update stream from the driver's events
    table (the fixtures ship no L2 table): one instrument per user so
    each stream interleaves all update types — signup -> SNAPSHOT around
    the event value; click/view -> ADD bid/ask; purchase -> SET (pmod 5
    size, sometimes 0 = delete); error -> SUB (often on missing levels
    -> inconsistency path). Used by tests and the rows-only entry."""
    base = F.col("value")
    qty = F.get_json_object("props", "$.k").cast("double")
    mk = lambda side, price, size: F.struct(  # noqa: E731
        side.alias("side"), price.alias("price"), size.alias("size")
    )
    orders = (
        F.when(
            F.col("event_type") == "signup",
            F.array(
                mk(F.lit("bid"), F.round(base - 1, 2), qty + 1),
                mk(F.lit("bid"), F.round(base - 2, 2), qty + 2),
                mk(F.lit("ask"), F.round(base + 1, 2), qty + 1),
                mk(F.lit("ask"), F.round(base + 2, 2), qty + 2),
            ),
        )
        .when(
            F.col("event_type").isin("click", "view"),
            F.array(
                mk(
                    F.when(F.col("event_type") == "click", F.lit("bid")).otherwise(
                        F.lit("ask")
                    ),
                    F.round(base, 2),
                    qty + 1,
                )
            ),
        )
        .when(
            F.col("event_type") == "purchase",
            F.array(mk(F.lit("bid"), F.round(base, 2), F.pmod(qty, F.lit(5.0)))),
        )
        .otherwise(F.array(mk(F.lit("ask"), F.round(base, 2), qty + 1)))
    )
    update_type = (
        F.when(F.col("event_type") == "signup", F.lit("SNAPSHOT"))
        .when(F.col("event_type").isin("click", "view"), F.lit("ADD"))
        .when(F.col("event_type") == "purchase", F.lit("SET"))
        .otherwise(F.lit("SUB"))
    )
    return events.select(
        F.col(key).cast("string").alias("symbol"),
        F.col("ts"),
        update_type.alias("update_type"),
        orders.alias("orders"),
        *passthrough,
    )


# --------------------------------------------------------------------------
# cryptofeed dialect
# --------------------------------------------------------------------------


def cryptofeed_updates(df: DataFrame, delta_col: str = "delta") -> DataFrame:
    """Normalize the cryptofeed update dialect into the canonical
    update stream accepted by every reconstruction engine here.

    The reference handles two dialects (l2_book/l2_snapshot_fd/
    utils.py): cryptotick ADD/SET/SUB (:21-63) and cryptofeed (:66-89),
    where each event carries a ``delta`` flag — False means "this is
    the full book" (reset, then set each level), True means "apply per
    level: size 0 deletes (missing level counts an inconsistency),
    any other size overwrites". That is FULL / SET in the canonical
    vocabulary, so the dialect is a pure relational rename — no new
    distributed machinery, and the time-parallel bucketed engine works
    unchanged (a delta stream contains no ADDs, so its positive-ADD
    invariant holds vacuously). Pre-snapshot deltas are skipped by the
    engine's ``started`` gate, mirroring the reference's ``inited``
    check.

    delta=False maps to FULL, not SNAPSHOT: the reference runs every
    order of a full event through the same size-0-deletes logic after
    the reset, so a zero size there counts an inconsistency — FULL
    preserves that; SNAPSHOT would store an empty level instead."""
    return df.withColumn(
        "update_type",
        F.when(F.col(delta_col), F.lit("SET")).otherwise(F.lit("FULL")),
    ).drop(delta_col)


def synthetic_cryptofeed_updates(
    events: DataFrame, key: str = "user_id", passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic cryptofeed-dialect stream from the events table:
    signup -> full-book event (delta=False); every other event ->
    delta=True with size pmod 4 — 0 sizes exercise the delete and the
    missing-level inconsistency paths. Mirrors synthetic_l2_updates."""
    base = F.col("value")
    qty = F.get_json_object("props", "$.k").cast("double")
    mk = lambda side, price, size: F.struct(  # noqa: E731
        side.alias("side"), price.alias("price"), size.alias("size")
    )
    full = F.col("event_type") == "signup"
    orders = F.when(
        full,
        F.array(
            mk(F.lit("bid"), F.round(base - 1, 2), qty + 1),
            mk(F.lit("bid"), F.round(base - 2, 2), qty + 2),
            mk(F.lit("ask"), F.round(base + 1, 2), qty + 1),
            mk(F.lit("ask"), F.round(base + 2, 2), qty + 2),
        ),
    ).otherwise(
        F.array(
            mk(
                F.when(F.col("event_type") == "click", F.lit("bid")).otherwise(
                    F.lit("ask")
                ),
                F.round(base, 2),
                F.pmod(qty, F.lit(4.0)),
            )
        )
    )
    return events.select(
        F.col(key).cast("string").alias("symbol"),
        F.col("ts"),
        (~full).alias("delta"),
        orders.alias("orders"),
        *passthrough,
    )
