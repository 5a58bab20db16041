"""Feature-definition registry: the user extension point.

A FeatureDefinition is a typed DataFrame->DataFrame transformation with
declared upstreams (reference: features/definitions/feature_definition.py:14-67
— `stream(upstreams, params)` + `dep_upstream_schema`). Here the batch
and streaming paths share the same transform wherever the expression is
window/group based; genuinely stateful definitions override
`transform_stream`.

Contract: every produced DataFrame carries an event-time column `ts`,
the instrument key columns declared by the source, and the feature's
value columns. The planner as-of joins on (keys, ts).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from svoe_spark.operators.windows import ohlcv, pct_change, sliding_stddev, tvi

REGISTRY: dict[str, type["FeatureDefinition"]] = {}


def register(cls: type["FeatureDefinition"]) -> type["FeatureDefinition"]:
    REGISTRY[cls.name] = cls
    return cls


class FeatureDefinition(ABC):
    name: str = ""
    # upstream slots: list of (slot_name); deps in config bind by order
    dep_slots: tuple[str, ...] = ("source",)

    @classmethod
    @abstractmethod
    def transform(
        cls, upstreams: dict[str, DataFrame], params: dict, keys: list[str]
    ) -> DataFrame:
        ...

    @classmethod
    def transform_stream(
        cls, upstreams: dict[str, DataFrame], params: dict, keys: list[str]
    ) -> DataFrame:
        """Streaming variant; default = same expression (valid for
        stateless/row-local transforms; window-agg definitions override
        with watermarked groupBy-window forms)."""
        return cls.transform(upstreams, params, keys)


@register
class MidPrice(FeatureDefinition):
    """(bid+ask)/2 (reference mid_price_fd.py:25-48); with a single
    price column upstream it passes it through as mid_price."""

    name = "mid_price"

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
    volatility_stddev_fd.py:30-56). Batch = analytic range frame;
    stream = applyInPandasWithState lookback buffer (T1) — same values,
    different physical plan, per the Kappa contract."""

    name = "volatility_stddev"
    dep_slots = ("mid_price",)

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["mid_price"]
        value = params.get("value_col", "mid_price")
        out = sliding_stddev(
            df, on="ts", value=value, by=keys, window=params.get("window", "1m"),
            out="volatility",
        )
        return out.select(*keys, "ts", "volatility")

    @classmethod
    def transform_stream(cls, upstreams, params, keys):
        from svoe_spark.streaming.features import trailing_stddev_stream

        if len(keys) != 1:
            raise ValueError("streaming volatility needs exactly one key column")
        df = upstreams["mid_price"]
        value = params.get("value_col", "mid_price")
        out = trailing_stddev_stream(
            df, on="ts", value=value, by=keys[0], window=params.get("window", "1m")
        )
        return out.select(*keys, "ts", "volatility")


@register
class TradeVolumeImbalance(FeatureDefinition):
    """TVI over trailing notional volume (reference
    trade_volume_imb_fd.py:42-117)."""

    name = "tvi"

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["source"]
        out = tvi(
            df,
            on="ts",
            price=params.get("price_col", "price"),
            amount=params.get("amount_col", "amount"),
            side=params.get("side_col", "side"),
            buy_value=params.get("buy_value", "BUY"),
            by=keys,
            window=params.get("window", "1m"),
        )
        return out.select(*keys, "ts", "tvi")


@register
class OHLCV(FeatureDefinition):
    """Tumbling OHLCV (reference ohlcv_fd.py:28-101). Emits one row per
    closed bucket at the bucket start."""

    name = "ohlcv"

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["source"]
        out = ohlcv(
            df,
            on="ts",
            price=params.get("price_col", "price"),
            amount=params.get("amount_col", "amount"),
            by=keys,
            window=params.get("window", "1m"),
        )
        return out.withColumnRenamed("window_start", "ts")

    @classmethod
    def transform_stream(cls, upstreams, params, keys):
        from svoe_spark.streaming.features import ohlcv_stream

        out = ohlcv_stream(
            upstreams["source"],
            on="ts",
            price=params.get("price_col", "price"),
            amount=params.get("amount_col", "amount"),
            by=keys,
            window=params.get("window", "1m"),
            watermark=params.get("watermark", "10 seconds"),
        )
        return out.withColumnRenamed("window_start", "ts")


@register
class Ewma(FeatureDefinition):
    """Event-indexed exponential moving average of an upstream value:
    e_i = alpha*x_i + (1-alpha)*e_{i-1}. Recursive — not expressible as
    a Spark window function — so batch runs per-key applyInPandas over
    the shared kernel `streaming.kernels.ewma` (pandas
    ewm(adjust=False)), one call per key with no carried state; the
    streaming form (streaming.feature_vector) runs the same kernel per
    micro-batch, carrying its (value, null count) state."""

    name = "ewma"
    dep_slots = ("upstream",)

    @classmethod
    def transform(cls, upstreams, params, keys):
        import pandas as pd

        from pyspark.sql.types import DoubleType, StructField, StructType, TimestampType

        from svoe_spark.streaming.kernels import ewma

        df = upstreams["upstream"]
        value = params["value_col"]
        alpha = float(params.get("alpha", 0.1))
        schema = StructType(
            [
                *[StructField(k, df.schema[k].dataType) for k in keys],
                StructField("ts", TimestampType()),
                StructField("ewma", DoubleType()),
            ]
        )

        def fn(key_tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("ts")
            out, _ = ewma(pdf[value].to_numpy(dtype=float), alpha)
            data = {k: key_tuple[i] for i, k in enumerate(keys)}
            data.update({"ts": pdf["ts"], "ewma": out})
            return pd.DataFrame(data)

        return df.groupBy(*keys).applyInPandas(fn, schema=schema)


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
    """(last-first)/first over a trailing window, generic over any
    single-value upstream (reference transforms/diff/diff.py:29-64)."""

    name = "diff"
    dep_slots = ("upstream",)

    @classmethod
    def transform(cls, upstreams, params, keys):
        df = upstreams["upstream"]
        value = params["value_col"]
        out = pct_change(
            df, on="ts", value=value, by=keys, window=params.get("window", "1m"),
            out="diff",
        )
        return out.select(*keys, "ts", "diff")
