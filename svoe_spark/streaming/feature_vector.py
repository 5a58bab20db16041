"""Fused streaming feature-vector operator — the online Kappa path.

Spark allows only ONE applyInPandasWithState per streaming query, so
the per-key feature graph runs fused inside a single stateful operator:
each source event updates every feature in dependency order and emits
one combined vector row — which is also precisely the reference's
online execution model (one worker actor pushing each event through the
whole streamz feature graph synchronously,
featurizer_stream_worker_actor.py:29-61, feature_stream_graph.py:114-136).

The graph is a kernel plan (plans.definitions: ``KernelStep``s, built by
``Featurizer.run``'s ``kernel_plan``), and each key's micro-batch runs
through it as whole arrays with ``run_plan`` — the same body as the
batch FeatureLabelSet pass. The group state is the steps' carried state
fields (``state_fields``) in plan order, named ``{field}_{feature}``:
per ``volatility_stddev`` the (ts ns, value) window buffer of non-null
events, per ``ewma`` its (value, null count); row-local kernels carry
none. A key's micro-batch crosses the Python/JVM boundary once, not per
event: array state as little-endian bytes (``state_codec``; checkpoints
written before do not resume), output as packed rows of arrays (``ts`` as
int64 µs, NaT as INT64_MIN, back to NULL) the JVM expands with ``inline``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType, StructField, StructType, TimestampType

from svoe_spark.plans.definitions import KernelStep, run_plan, source_inputs
from svoe_spark.streaming.chunks import batch_frame

#: events per packed output row: a hot key's rows stay far below the JVM's 2 GB limit
PACKED_ROW_EVENTS = 8192
_BYTES = {LongType(): "<i8", DoubleType(): "<f8"}


def state_codec(fields) -> tuple:
    """(state schema, encode, decode) of ``state_fields`` pairs: arrays of longs or
    doubles cross as little-endian bytes (decoded read-only), the rest as declared."""
    dtypes = [_BYTES.get(t.elementType) if isinstance(t, ArrayType) else None for _, t in fields]
    return (StructType([StructField(n, BinaryType() if d else t) for (n, t), d in zip(fields, dtypes)]),
            lambda state: tuple(np.asarray(x, d).tobytes() if d else x for x, d in zip(state, dtypes)),
            lambda row: tuple(np.frombuffer(x, d) if d else x for x, d in zip(row, dtypes)))


def feature_vector_stream(
    src: DataFrame,
    plan: list[KernelStep],
    key: str = "symbol",
    on: str = "ts",
) -> DataFrame:
    """src: streaming df (key, ts, source cols); plan: kernel steps whose
    definitions all declare ``state_fields``. Output: one row per source
    event, (key, ts, the source columns the plan reads as doubles,
    '{name}_value' per step).

    A plan whose kernels carry no state runs as a stateless
    ``mapInPandas`` of the same body: the engine rejects an
    applyInPandasWithState with an EMPTY state struct ('head of empty
    list'), and row-local kernels need no event-time order."""
    source_cols = source_inputs(plan)
    value_cols = [*source_cols, *(f"{s.name}_value" for s in plan)]

    def schema(ts_type, value_type):
        return StructType([StructField(key, src.schema[key].dataType), StructField(on, ts_type)]
                          + [StructField(c, value_type) for c in value_cols])

    state_schema, encode, decode = state_codec([(f"{f}_{s.name}", t) for s in plan for f, t in s.defn.state_fields])

    def advance(key_value, pdf, carried):
        ts = pdf[on].to_numpy(dtype="datetime64[ns]").view("int64")
        vals = {c: pdf[c].to_numpy(dtype=float) for c in source_cols}
        new_state = run_plan(plan, ts, vals, carried)
        out = pd.DataFrame(
            {key: key_value, on: pdf[on], **{c: vals[c] for c in source_cols},
             **{f"{s.name}_value": vals[s.column] for s in plan}}
        )
        return out, new_state

    src = src.select(key, on, *source_cols)
    if not state_schema.fields:
        return src.mapInPandas(
            lambda pdfs: (advance(pdf[key], pdf, None)[0] for pdf in pdfs),
            schema=schema(TimestampType(), DoubleType()),
        )
    cap = PACKED_ROW_EVENTS  # bound here: the workers see the driver's value

    def fn(key_tuple, pdfs, state):
        # one frame, one sort: chunk arrival order is fetch order, not event time
        pdf = batch_frame(pdfs, [on], columns=[on, *source_cols])
        out, new_state = advance(key_tuple[0], pdf, decode(state.get) if state.exists else None)
        cols = {on: out[on].to_numpy(dtype="datetime64[us]").view("int64"),
                **{c: out[c].to_numpy() for c in value_cols}}
        starts = range(0, len(out), cap)
        yield pd.DataFrame({key: [key_tuple[0]] * len(starts),
                            **{c: [x[i : i + cap].tolist() for i in starts] for c, x in cols.items()}})
        state.update(encode(new_state))

    packed = src.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=schema(ArrayType(LongType()), ArrayType(DoubleType())),
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # the handler's ts is wall time in the zone the query runs in. A DST fall-back hour's two
    # instants of one wall time both get the earlier offset (batch applyInPandas: the later).
    ts = F.to_utc_timestamp(F.timestamp_micros(on), F.current_timezone())
    return packed.select(key, F.inline(F.arrays_zip(on, *value_cols))).select(
        key, F.when(F.col(on) != np.iinfo(np.int64).min, ts).alias(on), *value_cols
    )
