"""Fluent DataStream API — the reference's v2 Flink-like surface
(reference: featurizer_v2/streaming/api/stream/data_stream.py:15-129,
context/streaming_context.py:32-51) collapsed onto DataFrames.

Where the reference spins up JobMaster/JobWorker actors with ZMQ
channels per edge (runtime/), every verb here is a DataFrame
transformation: the "job graph" IS the logical plan, "operator
chaining" IS whole-stage codegen, partition strategies ARE Spark
shuffles. Works identically over batch DataFrames and streaming
DataFrames (the context exposes both constructors).

Transformations accept Column expressions / SQL strings (JVM fast
path). Python callables are accepted too and run as row-at-a-time
fallbacks (reference SimpleMapFunction-style lambdas,
function.py:216-304) — documented as the slow path.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class StreamingContext:
    """reference StreamingContext (streaming_context.py:32-51)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def from_collection(self, values, schema=None) -> "DataStream":
        return DataStream(self.spark.createDataFrame(values, schema=schema))

    def from_dataframe(self, df: DataFrame) -> "DataStream":
        return DataStream(df)

    def read_text_file(self, path: str) -> "DataStream":
        return DataStream(self.spark.read.text(path).withColumnRenamed("value", "line"))

    def source_rate(self, rows_per_second: int = 100) -> "DataStream":
        return DataStream(
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second)
            .load()
        )


class DataStream:
    """Fluent verbs mapping 1:1 to the reference's DataStream
    (data_stream.py:15-129): map, flat_map, filter, key_by, reduce,
    join, union, sink."""

    def __init__(self, df: DataFrame, key: str | None = None):
        self.df = df
        self._key = key

    # -- transforms ---------------------------------------------------------

    def map(self, *cols: Column | str, **named: Column) -> "DataStream":
        """Projection: positional columns/SQL strings plus named
        expressions (reference map, operator.py:124-131)."""
        exprs = [F.expr(c) if isinstance(c, str) else c for c in cols]
        exprs += [c.alias(name) for name, c in named.items()]
        return DataStream(self.df.select(*exprs), self._key)

    def map_rows(self, fn: Callable[[Any], Any], schema) -> "DataStream":
        """Python-lambda map — the SLOW path (per-row Python), kept for
        reference-API parity; prefer .map with Column expressions. The
        transport is Arrow-batched mapInArrow (rows cross as Arrow
        record batches, fn still sees one plain-Python dict per row and
        returns a dict per row) — no RDD round-trip, and it works on
        streaming DataFrames too, which .rdd never did. Arrow (not
        pandas) on BOTH sides is load-bearing for Row.asDict fidelity:
        a pandas float64 batch cannot distinguish NULL from a genuine
        NaN, and an int64 batch containing a NULL degrades every value
        in it to float (rounding past 2^53); Arrow's to_pylist gives
        exact Python ints, None for NULL, and nan only for real NaNs."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        out_df = self.df.sparkSession.createDataFrame([], schema=schema)
        out_cols = out_df.columns
        pa_schema = to_arrow_schema(out_df.schema)

        def run(batches):
            for batch in batches:
                rows = [fn(rec) for rec in batch.to_pylist()]
                recs = []
                for r in rows:
                    if isinstance(r, dict):
                        recs.append({c: r.get(c) for c in out_cols})
                    elif isinstance(r, (tuple, list)):
                        # legacy rdd.map contract: positional tuples/Rows
                        # (a Row is a tuple subclass) zip with the output
                        # schema
                        if len(r) != len(out_cols):
                            raise TypeError(
                                f"map_rows: fn returned {len(r)} values for "
                                f"{len(out_cols)} output columns {out_cols}"
                            )
                        recs.append(dict(zip(out_cols, r)))
                    else:
                        raise TypeError(
                            "map_rows: fn must return a dict (column->value), "
                            f"tuple, or Row per input row; got {type(r).__name__}"
                        )
                yield pa.RecordBatch.from_pylist(recs, schema=pa_schema)

        return DataStream(
            self.df.mapInArrow(run, out_df.schema), self._key
        )

    def flat_map(self, col: Column | str, alias: str = "value") -> "DataStream":
        """1->N on an array expression (reference flat_map,
        operator.py:134-146) — explode, not a Python generator. A
        source column with the same name as ``alias`` is replaced (the
        reference replaces the element too); keeping both would emit an
        ambiguous duplicate column."""
        c = F.expr(col) if isinstance(col, str) else col
        keep = [k for k in self.df.columns if k != alias]
        return DataStream(
            self.df.select(*keep, F.explode(c).alias(alias)), self._key
        )

    def filter(self, predicate: Column | str) -> "DataStream":
        p = F.expr(predicate) if isinstance(predicate, str) else predicate
        return DataStream(self.df.filter(p), self._key)

    def key_by(self, key: str) -> "DataStream":
        """Declares the partitioning key (reference key_by -> KeyPartition,
        partition.py:37-47). No eager shuffle: the next keyed operator's
        shuffle IS the partitioning."""
        return DataStream(self.df, key)

    def reduce(self, **aggs: Column) -> "DataStream":
        """Keyed aggregate (reference reduce, operator.py:171-191): final
        values per key (on a stream, a streaming aggregation). For one row
        per update, use ``combine.running_reduce`` on a batch."""
        if not self._key:
            raise ValueError("reduce requires key_by first")
        # the key column survives the groupBy, so the stream STAYS
        # keyed (Flink's KeyedStream semantics) — dropping the key here
        # made every subsequent keyed verb demand a redundant key_by
        return DataStream(
            self.df.groupBy(self._key).agg(
                *[c.alias(name) for name, c in aggs.items()]
            ),
            self._key,
        )

    def join(self, other: "DataStream", how: str = "inner") -> "DataStream":
        """Keyed equi-join (reference join, operator.py:213-252 /
        data_stream.py:65-109): both sides must be key_by'd."""
        if not self._key or not other._key:
            raise ValueError("join requires key_by on both streams")
        if self._key == other._key:
            # same key name: join on the name so ONE key column
            # survives — a column-equality condition keeps both and
            # every later reference to the key is ambiguous
            return DataStream(
                self.df.join(other.df, on=self._key, how=how), self._key
            )
        cond = self.df[self._key] == other.df[other._key]
        return DataStream(self.df.join(other.df, cond, how), self._key)

    def union(self, *others: "DataStream") -> "DataStream":
        out = self.df
        for o in others:
            out = out.unionByName(o.df)
        return DataStream(out, self._key)

    # -- partition strategies (reference partition.py:13-68) ---------------

    def rebalance(self, n: int | None = None) -> "DataStream":
        """RoundRobinPartition -> repartition (an explicit shuffle)."""
        return DataStream(
            self.df.repartition(n) if n else self.df.repartition(), self._key
        )

    def broadcast(self) -> "DataStream":
        """BroadcastPartition -> broadcast-join hint on this side."""
        return DataStream(F.broadcast(self.df), self._key)

    def forward(self) -> "DataStream":
        """ForwardPartition == a narrow dependency — the default for
        every non-keyed transform; no-op by construction."""
        return self

    # -- sinks --------------------------------------------------------------

    def sink_collect(self) -> list:
        """Terminal sink for bounded streams (reference sink,
        operator.py:194-201)."""
        return self.df.collect()

    def sink_foreach_batch(self, fn, checkpoint: str, **trigger):
        from svoe_spark.streaming.sinks import foreach_batch

        return foreach_batch(self.df, fn, checkpoint, trigger or None)

    def to_df(self) -> DataFrame:
        return self.df
