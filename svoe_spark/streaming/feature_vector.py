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
through it with ``run_plan`` as ts-ordered numpy columns
(``chunks.batch_arrays``), as in the batch FeatureLabelSet pass. The
group state is the steps' carried state fields (``state_fields``) in
plan order, named ``{field}_{feature}``: per windowed definition
(``volatility_stddev``, ``diff``, ``tvi``) its ``kernels.window_buffer``
of (ts ns, values), per ``ewma`` its (value, null count), per ``ohlcv``
its open bucket's partial aggregates and last closed bar; row-local
kernels carry none. A key's micro-batch crosses the Python/JVM boundary
once, not per event: array state as little-endian bytes
(``state_codec``; checkpoints written before do not resume), output as
packed rows of array slices the JVM expands with ``inline``. Event time
crosses both ways as int64 UTC µs (``functions.time.to_micros``), never
as session-zone wall time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType, StructField, StructType

from svoe_spark.functions.time import from_micros, to_micros
from svoe_spark.plans.definitions import KernelStep, project_inputs, run_plan, source_inputs
from svoe_spark.streaming.chunks import batch_arrays

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
    """src: streaming df (key, ts, source cols); plan: kernel steps
    (``run_plan``'s). Output: one row per source event, (key, ts, then
    per step ``{name}_value`` for one output, else ``{name}_{output}``
    each) as doubles.

    A plan whose kernels carry no state runs as a stateless
    ``mapInPandas`` calling the same ``advance`` for each chunk: the
    engine rejects an applyInPandasWithState with an EMPTY state struct
    ('head of empty list'), and row-local kernels need no event-time
    order. Both forms ignore events with a null event time."""
    source_cols = source_inputs(plan)
    # an event with no event time is ignored, as the batch per-key stages ignore it
    src = src.filter(F.col(on).isNotNull()).withColumn(on, to_micros(on))
    src, names = project_inputs(src, [key, on], source_cols)
    value_cols = {f"{s.name}_{o if len(s.columns) > 1 else 'value'}": c
                  for s in plan for o, c in zip(s.defn.outputs, s.columns)}

    def schema(ts_type, value_type):
        return StructType([StructField(key, src.schema[key].dataType), StructField(on, ts_type)]
                          + [StructField(c, value_type) for c in value_cols])

    state_schema, encode, decode = state_codec([(f"{f}_{s.name}", t) for s in plan for f, t in s.defn.state_fields])

    def advance(us, ins, carried):
        vals = dict(zip(source_cols, ins))
        new_state = run_plan(plan, us * 1000, vals, carried)
        return {c: vals[col] for c, col in value_cols.items()}, new_state

    if not state_schema.fields:
        return src.mapInPandas(
            lambda pdfs: (pd.DataFrame({key: pdf[key], on: pdf[on], **advance(
                pdf[on].to_numpy(), [pdf[n].to_numpy() for n in names], None)[0]}) for pdf in pdfs),
            schema=schema(LongType(), DoubleType()),
        ).withColumn(on, from_micros(on))
    cap = PACKED_ROW_EVENTS  # bound here: the workers see the driver's value

    def fn(key_tuple, pdfs, state):
        # one sort: chunk arrival order is fetch order, not event time
        us, *ins = batch_arrays(pdfs, [on, *names])
        out, new_state = advance(us, ins, decode(state.get) if state.exists else None)
        starts = range(0, len(us), cap)
        yield pd.DataFrame({key: [key_tuple[0]] * len(starts),
                            **{c: [x[i : i + cap] for i in starts] for c, x in {on: us, **out}.items()}})
        state.update(encode(new_state))

    packed = src.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=schema(ArrayType(LongType()), ArrayType(DoubleType())),
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return packed.select(key, F.inline(F.arrays_zip(on, *value_cols))).withColumn(on, from_micros(on))
