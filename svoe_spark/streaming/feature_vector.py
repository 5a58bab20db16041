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
none.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import DoubleType, StructField, StructType, TimestampType

from svoe_spark.plans.definitions import KernelStep, run_plan, source_inputs
from svoe_spark.streaming.chunks import batch_frame


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
    out_schema = StructType(
        [StructField(key, src.schema[key].dataType), StructField(on, TimestampType())]
        + [StructField(c, DoubleType()) for c in (*source_cols, *(f"{s.name}_value" for s in plan))]
    )
    state_schema = StructType(
        [StructField(f"{f}_{s.name}", t) for s in plan for f, t in s.defn.state_fields]
    )

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
            lambda pdfs: (advance(pdf[key], pdf, None)[0] for pdf in pdfs), schema=out_schema
        )

    def fn(key_tuple, pdfs, state):
        # one frame, one sort: chunk arrival order is fetch order, not event time
        pdf = batch_frame(pdfs, [on], columns=[on, *source_cols])
        out, new_state = advance(key_tuple[0], pdf, state.get if state.exists else None)
        yield out
        state.update(tuple(x.tolist() if isinstance(x, np.ndarray) else x for x in new_state))

    return src.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
