"""Feature-definition registry: the user extension point.

A FeatureDefinition is a typed DataFrame->DataFrame transformation with
declared upstreams (reference: features/definitions/feature_definition.py:14-67
— `stream(upstreams, params)` + `dep_upstream_schema`).

Contract: every produced DataFrame carries an event-time column `ts`,
the instrument key columns declared by the source, and the feature's
value columns. The planner as-of joins on (keys, ts).

Kernel contract, for definitions emitting values at every upstream
event (every built-in): ``outputs`` names the value columns,
``inputs(columns, params)`` picks what the kernel reads out of the
upstream's value columns, and ``kernel(ts, up, params, state=None)`` is
numpy over one key's events sorted by event time (``ts`` int64 UTC
ns, whatever the session time zone: each per-key stage reads the
event time as µs, ``functions.time.to_micros``; ``up`` those inputs as
float64 arrays, NaN = null), returning one
float64 array per output (NaN = undefined) and the state to carry into
the key's next batch of events. The base ``transform`` runs the kernel
per key, so a kernel definition needs no transform of its own. An
input read from the source may be a SQL expression over backquoted
source columns (``tvi``'s side flag), which both paths project as a
double (``project_inputs``).

State half: ``state_fields`` declares that state as (name, Spark type)
pairs; ``state`` is a tuple of their values, None before the first
batch. Any split of a key's events into batches must give the outputs
of one pass. Every kernel declares it (``kernel_inputs`` checks); one
with no state (``()``) must be row-local.

``run_plan`` is the one body of both paths, fed ordered numpy batches
with carried state: ``Featurizer.run``'s per key's ts-ordered Arrow
batches (``per_key_map``), ``Featurizer.run_stream``'s per key's sorted
micro-batch (streaming.feature_vector). The frames of kernel-less
definitions (user ones that override ``transform``, e.g. over a key's
whole series) enter that batch pass as tagged sides; they do not stream.
"""

from __future__ import annotations

import re
from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from svoe_spark.functions.time import duration_ns, from_micros, to_micros
from svoe_spark.operators.util import plan_size_bytes
from svoe_spark.streaming.kernels import closed_bars, ewma, trailing_stddev, window_buffer, window_sums

REGISTRY: dict[str, type["FeatureDefinition"]] = {}

#: Input bytes (optimizer estimate) per task of ``per_key_map``'s Python
#: stage: AQE's coalescing floor (the default of
#: ``spark.sql.adaptive.coalescePartitions.minPartitionSize``). A Python
#: task costs 20-40 ms of worker CPU before its first row, about what
#: the kernel plan spends on 1 MB of quotes.
KEY_TASK_BYTES = 1 << 20


def register(cls: type["FeatureDefinition"]) -> type["FeatureDefinition"]:
    REGISTRY[cls.name] = cls
    return cls


class FeatureDefinition:
    name: str = ""
    # upstream slots: list of (slot_name); deps in config bind by order
    dep_slots: tuple[str, ...] = ("source",)
    #: the value columns of a per-event kernel, one array each; () = no kernel
    outputs: tuple[str, ...] = ()
    #: the kernel's carried state, (name, Spark type) pairs; a kernel must declare it
    state_fields: tuple | None = None

    @classmethod
    def inputs(cls, columns: list[str], params: dict) -> list[str]:
        """The upstream value ``columns`` the kernel reads: ``value_col``,
        else the upstream's only value column."""
        return [params.get("value_col", columns[0] if len(columns) == 1 else None)]

    @classmethod
    def transform(
        cls, upstreams: dict[str, DataFrame], params: dict, keys: list[str]
    ) -> DataFrame:
        """The feature's frame (keys, ts, *outputs): the kernel per key,
        batch by batch with its carried state (``per_key_map``).
        Kernel-less definitions override it."""
        if not cls.outputs:
            raise NotImplementedError(f"feature definition {cls.name!r} has neither outputs nor a transform")
        (df,) = upstreams.values()
        columns = [c for c in df.columns if c not in (*keys, "ts")]

        def per_key(batches):
            state = None
            for ts, up in batches:
                outs, state = cls.kernel(ts, up, params, state)
                yield ts, dict(zip(cls.outputs, outs))

        return per_key_map(df, keys, kernel_inputs(cls.name, cls, columns, params), list(cls.outputs), per_key)


def project_inputs(df: DataFrame, columns: list[str], inputs: list) -> tuple[DataFrame, list]:
    """``df``'s ``columns``, then each source input as a double under a
    safe name; returns (that frame, the names). An input is a column of
    df or a SQL expression over its backquoted columns; a
    ``StructField`` names a column of df kept as it is."""
    names = [i if isinstance(i, StructField) else f"__in{n}" for n, i in enumerate(inputs)]
    return df.select(*columns, *[
        df[i.name] if isinstance(i, StructField)
        else (F.col(i) if i in df.columns else F.expr(i)).cast("double").alias(n) for i, n in zip(inputs, names)
    ]), names


def per_key_map(df: DataFrame, keys: list[str], inputs: list, outputs: list, fn) -> DataFrame:
    """``fn`` over each key's events as ts-ordered Arrow batches with
    carried state: ``groupBy(keys).applyInArrow`` after a Spark sort on
    (keys, ts), so the grouped stage adds no sort of its own. ``fn``
    takes one key's batches, an iterator of (``ts`` int64 ns, ``up`` the
    ``inputs``), and yields (ts, {output: array}) for the rows it emits,
    in any batching. A named input is a source column or SQL expression
    as a float64 array (``project_inputs``), a named output a float64
    array read as a double, NaN = NULL; a ``StructField`` input or
    output is an Arrow array in its own type, the input ``df``'s column.
    Returns (keys, ts, *outputs); ``ts`` crosses as UTC µs
    (``functions.time.to_micros``).

    A per-key batch stage ignores events with no event time. The
    handler raises if a batch's ``ts`` decreases or does not continue
    the key's previous batch, and never computes on disordered input.
    ``fn``'s batches never split an equal-ts peer group, wherever Arrow
    cuts the key's rows. A key's Python memory is two batches plus what
    ``fn`` carries.

    The stage has one partition per ``KEY_TASK_BYTES`` of input, at
    most one per core, not ``spark.sql.shuffle.partitions``: each
    partition is a Python task with a fixed cost, and AQE does not
    coalesce the partitions of a persisted plan, such as a persisted
    FeatureLabelSet, whose readers then run a task per partition too.
    One partition is a ``coalesce(1)``, with no shuffle: its single
    partition already groups every key, and an aggregate over the
    persisted result needs no shuffle either. More are a hash
    repartition on the keys."""
    fields = [o if isinstance(o, StructField) else StructField(o, DoubleType()) for o in outputs]
    schema = StructType([df.schema[c] for c in keys] + [StructField("ts", LongType())] + fields)
    df = df.where(F.col("ts").isNotNull()).withColumn("ts", to_micros("ts"))
    df, names = project_inputs(df, [*keys, "ts"], inputs)
    parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    size = plan_size_bytes(df)
    if size is not None:
        parts = min(parts, max(1, -(-size // KEY_TASK_BYTES)))
    df = df.coalesce(1) if parts == 1 else df.repartition(parts, *keys)
    return (df.sortWithinPartitions(*keys, "ts").groupBy(*keys)
            .applyInArrow(key_handler(keys, names, outputs, fn), schema=schema).withColumn("ts", from_micros("ts")))


def key_handler(keys: list[str], names: list, outputs: list, fn):
    """``per_key_map``'s Arrow handler of one key: checks the order of
    its batches, hands ``fn`` their (ts ns, input columns ``names``) and
    builds the output batches."""
    columns = [getattr(c, "name", c) for c in outputs]

    # the hints pick PySpark's iterator-of-batches form; they resolve from this module's globals
    def per_key(key: tuple, batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for ts, res in fn(_ordered(batches, names)):
            yield pa.RecordBatch.from_arrays(
                [*(pa.repeat(k, len(ts)) for k in key), pa.array(ts // 1000)]
                + [pa.array(res[c], pa.float64(), mask=np.isnan(res[c])) if isinstance(o, str) else res[c]
                   for c, o in zip(columns, outputs)],
                names=[*keys, "ts", *columns],
            )

    return per_key


def _ordered(batches, names: list):
    """(ts ns, input arrays) of a key's events, batch by batch, raising
    where ts decreases within a batch or from the previous one. A batch
    is yielded once the next one shows whether it continues the batch's
    trailing equal-ts peer group; if it does, those peers move into it,
    so no yielded batch splits a peer group."""
    held = None
    for batch in batches:
        us = batch.column("ts").to_numpy()
        if not len(us):
            continue
        if (us[1:] < us[:-1]).any() or (held is not None and us[0] < held[0][-1]):
            raise ValueError("per_key_map: a key's batches are not ordered by ts")
        cols = [batch.column(n).to_numpy(zero_copy_only=False) if isinstance(n, str)
                else batch.column(n.name) for n in names]
        if held is not None:
            h_us, h_cols = held
            if us[0] == h_us[-1]:
                cut = np.searchsorted(h_us, h_us[-1])
                us, cols = np.concatenate([h_us[cut:], us]), [concat([h[cut:], c]) for h, c in zip(h_cols, cols)]
                h_us, h_cols = h_us[:cut], [h[:cut] for h in h_cols]
            if len(h_us):
                yield h_us * 1000, h_cols
        held = us, cols
    if held is not None:
        yield held[0] * 1000, held[1]


def concat(arrays: list):
    """float64 ndarrays or Arrow arrays, concatenated."""
    return np.concatenate(arrays) if isinstance(arrays[0], np.ndarray) else pa.concat_arrays(arrays)


def kernel_inputs(name: str, defn, columns: list[str], params: dict) -> list[str]:
    """``defn.inputs``, checked: the one input rule of the batch and
    stream paths. Raises a ValueError naming feature ``name`` if its
    kernel declares no ``state_fields`` or reads a column its upstream
    lacks (a SQL expression input reads its backquoted columns)."""
    if defn.state_fields is None:
        raise ValueError(f"feature {name!r} has a kernel but declares no state_fields "
                         "(a row-local kernel declares ())")
    inputs = defn.inputs(columns, params)
    if not {c for i in inputs for c in re.findall(r"`([^`]+)`", str(i)) or [i]} <= set(columns):
        raise ValueError(f"feature {name!r} reads {inputs}, not among its upstream's value columns {columns}")
    return inputs


class KernelStep(NamedTuple):
    """One kernel feature of a plan; ``inputs`` name source columns or
    earlier steps' ``columns``."""

    name: str
    defn: type
    params: dict
    inputs: list[str]

    @property
    def columns(self) -> list[str]:
        """``{name}-{output}`` per output, as the FLS names them."""
        return [f"{self.name}-{o}" for o in self.defn.outputs]


def source_inputs(plan: list[KernelStep]) -> list[str]:
    """The source inputs (columns or SQL expressions) a plan reads, in
    first-use order."""
    made = {c for s in plan for c in s.columns}
    return list(dict.fromkeys(c for s in plan for c in s.inputs if c not in made))


def run_plan(plan: list[KernelStep], ts, vals: dict, state=None) -> list:
    """Run ``plan``'s kernels in order over one key's events (``ts``
    sorted int64 ns), adding each step's outputs to ``vals`` (source
    input -> float64 array) under its ``columns``. ``state``: the steps'
    carried state fields, concatenated in plan order (None = none).
    Returns the new state, in the same layout."""
    new_state = []
    for s in plan:
        n = len(s.defn.state_fields)
        carried = state and state[len(new_state) : len(new_state) + n]
        outs, st = s.defn.kernel(ts, [vals[c] for c in s.inputs], s.params, carried)
        vals.update(zip(s.columns, outs))
        new_state += st
    return new_state


@register
class MidPrice(FeatureDefinition):
    """(bid+ask)/2 (reference mid_price_fd.py:25-48); with a single
    price column upstream it passes it through as mid_price."""

    name = "mid_price"
    outputs = ("mid_price",)
    state_fields = ()

    @classmethod
    def inputs(cls, columns, params):
        if "bid" in columns and "ask" in columns:
            return ["bid", "ask"]
        return [params.get("price_col", "value")]

    @classmethod
    def kernel(cls, ts, up, params, state=None):
        return [(up[0] + up[1]) / 2 if len(up) == 2 else up[0]], ()

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["source"]
        if "bid" in df.columns and "ask" in df.columns:
            return df.select(
                *keys, "ts", ((F.col("bid") + F.col("ask")) / 2).alias("mid_price")
            )
        src = params.get("price_col", "value")
        return df.select(*keys, "ts", F.col(src).alias("mid_price"))


@register
class RelativeSpread(FeatureDefinition):
    """2*|bid-ask|/(bid+ask) (reference relative_bid_ask_spread_fd.py:27-33)."""

    name = "relative_spread"
    outputs = ("spread",)
    state_fields = ()

    @classmethod
    def inputs(cls, columns, params):
        return ["bid", "ask"]

    @classmethod
    def kernel(cls, ts, up, params, state=None):
        bid, ask = up
        return [2.0 * np.abs(bid - ask) / (bid + ask)], ()

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["source"]
        return df.select(
            *keys,
            "ts",
            (
                2.0
                * F.abs(F.col("bid") - F.col("ask"))
                / (F.col("bid") + F.col("ask"))
            ).alias("spread"),
        )


@register
class VolatilityStddev(FeatureDefinition):
    """Trailing-window stddev of an upstream value (reference
    volatility_stddev_fd.py:30-56): the shared kernel
    `streaming.kernels.trailing_stddev` over [ts - window, ts], peers
    included. Batch runs it over each key's Arrow batches and the stream
    (``Featurizer.run_stream``) per micro-batch, both carrying its window
    buffer."""

    name = "volatility_stddev"
    dep_slots = ("mid_price",)
    outputs = ("volatility",)
    state_fields = (("ts", ArrayType(LongType())), ("v", ArrayType(DoubleType())))

    @classmethod
    def kernel(cls, ts, up, params, state=None):
        out, state = trailing_stddev(ts, up[0], duration_ns(params.get("window", "1m")), state)
        return [out], state


@register
class TradeVolumeImbalance(FeatureDefinition):
    """TVI over trailing notional volume (reference
    trade_volume_imb_fd.py:42-117): 2(B-S)/(B+S) over [ts - window, ts],
    peers included, where B and S sum price*amount of the buy and the
    other trades; 0.0 where B+S is 0. As SQL's SUM, a null notional
    counts as nothing, and a trade with a null side in neither sum.
    The side flag is read as ``side_col = buy_value`` cast to a double.
    State: the buffered (ts, buy, sell) notional."""

    name = "tvi"
    outputs = ("tvi",)
    state_fields = (("ts", ArrayType(LongType())), ("buy", ArrayType(DoubleType())),
                    ("sell", ArrayType(DoubleType())))

    @classmethod
    def inputs(cls, columns, params):
        side, buy = params.get("side_col", "side"), params.get("buy_value", "BUY")
        return [params.get("price_col", "price"), params.get("amount_col", "amount"),
                f"CAST(`{side}` = {buy!r} AS DOUBLE)"]

    @classmethod
    def kernel(cls, ts, up, params, state=None):
        price, amount, is_buy = up
        notional = price * amount
        notional[np.isnan(notional)] = 0.0
        flows = [np.where(is_buy == flag, notional, 0.0) for flag in (1.0, 0.0)]
        window = duration_ns(params.get("window", "1m"))
        flows, lo, hi, state = window_buffer(ts, ts, flows, window, state)
        buy, sell = window_sums(flows, lo, hi)
        with np.errstate(divide="ignore", invalid="ignore"):
            return [np.where(buy + sell != 0, 2.0 * (buy - sell) / (buy + sell), 0.0)], state


@register
class OHLCV(FeatureDefinition):
    """Tumbling OHLCV bars (reference ohlcv_fd.py:28-101) on the event
    grid: at each event, the last bar closed by then
    (``kernels.closed_bars``; buckets epoch-aligned as
    ``functions.time.bucket_start``), so a bar is visible from its
    bucket end on, as the reference emits it on the first event past
    the window's end. ``operators.windows.ohlcv`` is the same bar
    stamped at its bucket start. State: the open bucket's partial
    aggregates and the last closed bar."""

    name = "ohlcv"
    outputs = ("open", "high", "low", "close", "volume", "vwap", "num_trades")
    state_fields = (("span", ArrayType(LongType())), ("partial", ArrayType(DoubleType())),
                    ("closed", ArrayType(DoubleType())))

    @classmethod
    def inputs(cls, columns, params):
        return [params.get("price_col", "price"), params.get("amount_col", "amount")]

    @classmethod
    def kernel(cls, ts, up, params, state=None):
        return closed_bars(ts, *up, duration_ns(params.get("window", "1m")), state)


@register
class Ewma(FeatureDefinition):
    """Event-indexed exponential moving average of an upstream value:
    e_i = alpha*x_i + (1-alpha)*e_{i-1}. Recursive — not expressible as
    a Spark window function — so batch runs the shared kernel
    `streaming.kernels.ewma` (pandas ewm(adjust=False)) over each key's
    Arrow batches and the stream per micro-batch, both carrying its
    (value, null count) state. At alpha 1 it is the forward fill of its
    input: a non-null value comes out as itself, a null as the last
    non-null value before it (NULL before the first)."""

    name = "ewma"
    dep_slots = ("upstream",)
    outputs = ("ewma",)
    state_fields = (("ewma", DoubleType()), ("nulls", LongType()))

    @classmethod
    def kernel(cls, ts, up, params, state=None):
        out, state = ewma(up[0], float(params.get("alpha", 0.1)), state)
        return [out], state


def load_definitions_from_file(path: str) -> list[type[FeatureDefinition]]:
    """Load user FeatureDefinition subclasses from a Python file and
    register them (reference X5: DefinitionsLoader fetches FD source to
    a directory and imports it, featurizer_utils/definitions_loader.py
    — the transport half is storage-specific; the import-and-register
    half is this).

    The file is imported under a synthetic module name; every
    module-level FeatureDefinition subclass with a non-empty ``name``
    is added to REGISTRY (last writer wins, same as @register). The
    class body runs on the driver only; Spark ships the transform
    closures to executors like any other, so remote-loaded definitions
    need no executor-side installation."""
    import importlib.util
    import os

    mod_name = f"svoe_spark_userdefs_{abs(hash(os.path.abspath(path))):x}"
    spec = importlib.util.spec_from_file_location(mod_name, path)
    if spec is None or spec.loader is None:
        raise ValueError(f"cannot import feature definitions from {path!r}")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return _register_from_module(module)


def load_definitions_from_source(source: str, module_name: str = "userdefs") -> list[type[FeatureDefinition]]:
    """Same as load_definitions_from_file but from a source STRING —
    the shape a remote fetch hands over (code from an object store or
    a catalog row)."""
    import types

    module = types.ModuleType(f"svoe_spark_{module_name}")
    module.__dict__["__builtins__"] = __builtins__
    exec(compile(source, f"<{module_name}>", "exec"), module.__dict__)
    return _register_from_module(module)


def _register_from_module(module) -> list[type[FeatureDefinition]]:
    loaded: list[type[FeatureDefinition]] = []
    for obj in vars(module).values():
        if (
            isinstance(obj, type)
            and issubclass(obj, FeatureDefinition)
            and obj is not FeatureDefinition
            and getattr(obj, "name", "")
        ):
            REGISTRY[obj.name] = obj
            loaded.append(obj)
    if not loaded:
        raise ValueError(
            f"no FeatureDefinition subclasses with a name found in {module!r}"
        )
    return loaded


@register
class Diff(FeatureDefinition):
    """(last-first)/first over the trailing window [ts - window, ts],
    peers included, generic over any single-value upstream (reference
    transforms/diff/diff.py:29-64); NULL where first is null or 0.
    State: the buffered (ts, value) events, nulls included."""

    name = "diff"
    dep_slots = ("upstream",)
    outputs = ("diff",)
    state_fields = VolatilityStddev.state_fields

    @classmethod
    def kernel(cls, ts, up, params, state=None):
        window = duration_ns(params.get("window", "1m"))
        (v,), lo, hi, state = window_buffer(ts, ts, up, window, state)
        first = np.where(v[lo] != 0, v[lo], np.nan)
        return [(v[hi - 1] - first) / first], state
