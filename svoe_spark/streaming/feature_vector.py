"""Fused streaming feature-vector operator — the online Kappa path.

Spark allows only ONE applyInPandasWithState per streaming query, so
the per-key feature graph runs fused inside a single stateful operator:
each source event updates every feature in dependency order and emits
one combined vector row — which is also precisely the reference's
online execution model (one worker actor pushing each event through the
whole streamz feature graph synchronously,
featurizer_stream_worker_actor.py:29-61, feature_stream_graph.py:114-136).

Supported feature kinds (the reference's online set):
  source : passthrough of a source column
  stddev : trailing-window stddev of an upstream feature (T1/A2)
  ewma   : exponential moving average of an upstream feature

A key's micro-batch runs as whole arrays through the kernels of
streaming.kernels, which batch shares; the group state is their carried
state in spec order: per stddev the (ts ns, value) window buffer of
non-null events, per ewma its (value, null count).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from svoe_spark.streaming.chunks import batch_frame
from svoe_spark.streaming.kernels import ewma, trailing_stddev


def feature_vector_stream(
    src: DataFrame,
    specs: list[dict],
    key: str = "symbol",
    on: str = "ts",
) -> DataFrame:
    """src: streaming df (key, ts, source cols). specs: ordered feature
    specs, e.g. [{'name':'mid','kind':'source','col':'value'},
    {'name':'vol','kind':'stddev','of':'mid','window':3600.0}].
    Output: one row per source event with '{name}_value' columns."""
    names = [s["name"] for s in specs]
    by_name = {s["name"]: s for s in specs}
    for s in specs:
        if s["kind"] not in ("source", "stddev", "ewma"):
            raise ValueError(f"unsupported streaming feature kind: {s['kind']!r}")
        if s["kind"] in ("stddev", "ewma") and s["of"] not in by_name:
            raise ValueError(f"{s['name']}: unknown upstream {s['of']!r}")

    stateful = [s for s in specs if s["kind"] != "source"]
    source_cols = sorted({s["col"] for s in specs if s["kind"] == "source"})

    if not stateful:
        # source-only graph: no state to carry — a plain projection
        # (an applyInPandasWithState with an EMPTY state struct is
        # rejected by the engine: 'head of empty list')
        from pyspark.sql import functions as F

        return src.select(
            key,
            on,
            *[
                F.col(s["col"]).cast("double").alias(f"{s['name']}_value")
                for s in specs
            ],
        )

    out_schema = StructType(
        [
            StructField(key, src.schema[key].dataType),
            StructField(on, TimestampType()),
            *[StructField(f"{n}_value", DoubleType()) for n in names],
        ]
    )
    state_fields = {  # two per stateful spec
        "stddev": (("ts", ArrayType(LongType())), ("v", ArrayType(DoubleType()))),
        "ewma": (("ewma", DoubleType()), ("nulls", LongType())),
    }
    state_schema = StructType(
        [StructField(f"{p}_{s['name']}", t) for s in stateful for p, t in state_fields[s["kind"]]]
    )

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        carried = state.get if state.exists else None
        pdf = batch_frame(pdfs, [on], columns=[on, *source_cols])  # one frame, one sort —
        # chunk arrival order is fetch order, not event time
        ts = pdf[on].astype("int64").to_numpy()  # ns
        series: dict[str, np.ndarray] = {}
        new_state = []
        for s in specs:
            if s["kind"] == "source":
                series[s["name"]] = pdf[s["col"]].to_numpy(dtype=float)
                continue
            i = len(new_state)
            st = carried and carried[i : i + 2]
            if s["kind"] == "stddev":
                win_ns = int(round(float(s["window"]) * 1e9))
                series[s["name"]], st = trailing_stddev(ts, series[s["of"]], win_ns, st)
                st = (st[0].tolist(), st[1].tolist())
            else:
                series[s["name"]], st = ewma(series[s["of"]], float(s.get("alpha", 0.1)), st)
            new_state += st
        yield pd.DataFrame(
            {key: key_tuple[0], on: pdf[on], **{f"{n}_value": series[n] for n in names}}
        )
        state.update(tuple(new_state))

    return (
        src.select(key, on, *source_cols)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
