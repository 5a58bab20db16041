"""Featurizer: YAML/dict config -> feature DAG -> point-in-time-joined
FeatureLabelSet DataFrame.

The Spark rebuild of the reference's main entry point (reference:
svoe/featurizer/runner.py:28-164, config schema featurizer/config.py:11-31,
DAG construction batch/task_graph/builder.py:302-330). The reference's
interval algebra, task graph, scheduler, and cache actors all collapse
into: build each distinct feature DataFrame once (content-hash reuse),
``persist()`` when fanned out, declare the joins, let Catalyst/AQE plan.

Config shape (YAML or dict):

    data_source:
      kind: table|parquet|sine        # + kind-specific params
      ...
    keys: [event_type]                # instrument key columns
    features:
      - name: vol
        feature_definition: volatility_stddev
        deps: [mid]                   # bind by name to earlier features
        params: {window: '1m'}
    label_feature: mid
    label_lookahead: '5s'
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField

from svoe_spark.functions.time import duration_ns
from svoe_spark.operators.sampling import every_nth
from svoe_spark.plans.definitions import (
    REGISTRY,
    FeatureDefinition,
    KernelStep,
    concat,
    kernel_inputs,
    load_definitions_from_file,
    per_key_map,
    run_plan,
    source_inputs,
)
from svoe_spark.plans.feature_tree import Feature
from svoe_spark.sources.synthetic import sine_mid_price
from svoe_spark.sources.tables import DEFAULT_SF_DIR, load_table, read_parquet


@dataclass
class FeatureConfig:
    name: str
    feature_definition: str
    params: dict = field(default_factory=dict)
    deps: list[str] = field(default_factory=list)


@dataclass
class FeaturizerConfig:
    data_source: dict
    features: list[FeatureConfig]
    keys: list[str] = field(default_factory=list)
    label_feature: str | None = None
    label_lookahead: str | None = None
    # names of features to materialize into the FeatureStore and reuse
    # across runs (reference features_to_store, config.py:11-31; the
    # stored-feature short-circuit builder.py:83-150)
    features_to_store: list[str] = field(default_factory=list)
    # Python files whose FeatureDefinition subclasses are registered
    # before resolution (reference X5 remote-definition loading,
    # featurizer_utils/definitions_loader.py — minus the fetch)
    definition_paths: list[str] = field(default_factory=list)

    @staticmethod
    def load(obj) -> "FeaturizerConfig":
        """Accepts a dict, a YAML string, or a path to a YAML file."""
        if isinstance(obj, str):
            import yaml

            if "\n" not in obj and obj.endswith((".yaml", ".yml")):
                with open(obj) as f:
                    obj = yaml.safe_load(f)
            else:
                obj = yaml.safe_load(obj)
        feats = [fc if isinstance(fc, FeatureConfig) else FeatureConfig(**fc) for fc in obj.get("features", [])]
        return FeaturizerConfig(
            data_source=obj["data_source"],
            features=feats,
            keys=list(obj.get("keys", [])),
            label_feature=obj.get("label_feature"),
            label_lookahead=obj.get("label_lookahead"),
            features_to_store=list(obj.get("features_to_store", [])),
            definition_paths=list(obj.get("definition_paths", [])),
        )


def _load_definitions(config: FeaturizerConfig) -> None:
    for p in config.definition_paths:
        load_definitions_from_file(p)


def _definition(fc: FeatureConfig) -> type[FeatureDefinition]:
    defn = REGISTRY.get(fc.feature_definition)
    if defn is None:
        raise ValueError(f"unknown feature_definition: {fc.feature_definition!r}; registered: {sorted(REGISTRY)}")
    return defn


#: the side tag of ``run``'s per-key pass: 0 the source, 1, 2, ... each other feature
_SIDE = "__side"


def _value_cols(df: DataFrame, keys: list[str]) -> list[str]:
    return [c for c in df.columns if c != "ts" and c not in keys]


def kernel_plan(config: FeaturizerConfig, columns: list[str], exclude=()) -> list[KernelStep]:
    """The one feature-graph plan of ``run`` and ``run_stream``: in
    config order, the features whose definition has a per-event kernel
    and whose deps are planned too, bar ``exclude``. Each step's inputs
    come from its definition's ``inputs`` (``kernel_inputs``), out of
    the source's value ``columns`` (or SQL expressions over them) when
    it has no deps, else out of its first dep's outputs."""
    plan: dict[str, KernelStep] = {}
    for fc in config.features:
        defn = _definition(fc)
        if not defn.outputs or fc.name in exclude or not all(d in plan for d in fc.deps):
            continue
        dep = plan[fc.deps[0]] if fc.deps else None
        up = dict(zip(dep.defn.outputs, dep.columns)) if dep else {c: c for c in columns}
        inputs = kernel_inputs(fc.name, defn, list(up), fc.params)
        plan[fc.name] = KernelStep(fc.name, defn, fc.params, [up.get(c, c) for c in inputs])
    return list(plan.values())


def _take(v, idx):
    """v, a float64 ndarray or an Arrow array, at the indices ``idx``."""
    return v[idx] if isinstance(v, np.ndarray) else v.take(idx)


def _ffill(v):
    """v with each null (NaN in a float64 ndarray; in an Arrow array a
    null, not a NaN) replaced by the last non-null value before it."""
    null = np.isnan(v) if isinstance(v, np.ndarray) else v.is_null().to_numpy(zero_copy_only=False)
    return _take(v, np.maximum.accumulate(np.where(null, 0, np.arange(len(v)))))


def _fused(config: FeaturizerConfig, plan: list[KernelStep], sides: dict, label_name: str):
    """``run``'s per-key pass as ``per_key_map``'s (inputs, outputs, fn):
    the kernel ``plan`` over side 0's rows, and each of ``sides`` (name
    -> its ``StructField``s; side 1, 2, ...) as Arrow arrays. Carried
    from batch to batch: the kernels' state, each column's last non-null
    value, and the rows not yet resolved (the trailing peer group, and
    the rows whose lookahead no later event of the label's side passed)."""
    cols = {s.name: s.columns for s in plan} | sides
    label = cols[label_name] if config.label_lookahead else []
    outputs = [f"label_{c}" if isinstance(c, str) else StructField(f"label_{c.name}", c.dataType) for c in label]
    outputs += [c for name in dict.fromkeys(fc.name for fc in config.features) for c in cols[name]]
    source_cols, kernel_cols = source_inputs(plan), [c for s in plan for c in s.columns]
    inputs = [*source_cols, *([_SIDE] if sides else []), *(f for fs in sides.values() for f in fs)]
    names, labels = [getattr(c, "name", c) for c in inputs], [getattr(c, "name", c) for c in label]
    held_cols = [getattr(c, "name", c) for c in outputs[len(label):]]
    tag = list(sides).index(label_name) + 1 if label_name in sides else 0
    ahead = duration_ns(config.label_lookahead) if labels else 0

    def resolve(ts, tags, held, n):
        """The outputs of the label side's rows among the first ``n`` held:
        their ``ts`` and the forward-filled ``held`` columns reaching past them."""
        t = ts[np.flatnonzero(tags[:n] == tag) if sides else slice(0, n)]
        peer, at = np.searchsorted(ts, t, "right") - 1, np.searchsorted(ts, t + ahead, "right") - 1
        return t, {c: _take(held[c], peer) for c in held_cols} | {f"label_{c}": _take(held[c], at) for c in labels}

    def fused_pass(batches):
        state, last, held, ts, tags = None, None, {}, np.empty(0, np.int64), np.empty(0)
        for bts, up in batches:
            vals = dict(zip(names, up))
            if not sides:
                state, last = run_plan(plan, bts, vals, state), bts[-1]
            else:
                side = vals[_SIDE]
                src, tags = side == 0, np.concatenate([tags, side])
                sub = {c: vals[c][src] for c in source_cols}
                state = run_plan(plan, bts[src], sub, state) if src.any() else state
                for c in kernel_cols:  # NaN on other sides' rows, or all NaN with no source row
                    vals[c] = np.full(len(bts), np.nan)
                    vals[c][src] = sub.get(c, np.nan)
                last = bts[side == tag][-1] if (side == tag).any() else last
            # the last event is always held, so its values seed the forward fill
            held = {c: _ffill(concat([held[c], vals[c]]) if held else vals[c]) for c in held_cols}
            ts = np.concatenate([ts, bts])
            # resolved: a later event of the label's side has passed ts + lookahead (and
            # ended the peer group); before that side's first event, all but the last peers
            n = np.searchsorted(ts, ts[-1] if last is None else last - ahead, "left")
            if n:
                out = resolve(ts, tags, held, n)
                if len(out[0]):
                    yield out
                ts, tags, held = ts[n:], tags[n:], {c: v[n:] for c, v in held.items()}
        if last is not None:  # the key's end: keep the rows whose lookahead the side's last event reaches
            yield resolve(ts, tags, held, np.searchsorted(ts, last - ahead, "right"))

    return inputs, outputs, fused_pass


class Featurizer:
    """run(config) -> FeatureLabelSet (reference Featurizer.run +
    get_materialized_data, runner.py:28-164)."""

    def __init__(self, spark: SparkSession, store=None):
        """store: optional svoe_spark.sources.catalog.FeatureStore; when
        set, features listed in config.features_to_store are read from
        the lake if already materialized (content-hash keyed), else
        computed and written."""
        self.spark = spark
        self.store = store
        self._df_cache: dict[str, DataFrame] = {}

    # -- sources ------------------------------------------------------------

    def _load_source(self, cfg: dict) -> DataFrame:
        kind = cfg.get("kind", "table")
        if kind == "table":
            df = load_table(self.spark, cfg["table"], cfg.get("sf_dir", DEFAULT_SF_DIR))
        elif kind == "parquet":
            df = read_parquet(self.spark, cfg["path"])
        elif kind == "sine":
            return sine_mid_price(
                self.spark,
                start_ts=cfg.get("start_ts", 0.0),
                end_ts=cfg.get("end_ts", 3600.0),
                step=cfg.get("step", 1.0),
                amplitude=cfg.get("amplitude", 2000.0),
                mean=cfg.get("mean", 10000.0),
                freq=cfg.get("freq", 5.0),
                keys=cfg.get("keys"),
            )
        else:
            raise ValueError(f"unknown data_source kind: {kind}")
        return df.selectExpr(*cfg["select"]) if "select" in cfg else df

    # -- planning -----------------------------------------------------------

    def build_features(self, config: FeaturizerConfig) -> dict[str, tuple[Feature, DataFrame]]:
        """Resolve every configured feature to a DataFrame, deduping
        shared subtrees by content hash and persisting fan-out > 1
        nodes (the reference's ref-count heuristic,
        cache_actor.py:34-35, done declaratively)."""
        _load_definitions(config)
        source_df = self._load_source(config.data_source)
        source_feature = Feature.make("__source__", config.data_source)

        by_name: dict[str, tuple[Feature, DataFrame]] = {}
        # fan-out is counted AND looked up by feature NAME: deps refer
        # to names, and by_name is empty at counting time, so a
        # content-key lookup here would never match (dead persist)
        fanout: dict[str, int] = {}
        for fc in config.features:
            for d in fc.deps:
                fanout[d] = fanout.get(d, 0) + 1

        for fc in config.features:
            defn = _definition(fc)
            dep_feats = [by_name[d][0] for d in fc.deps] or [source_feature]
            node = Feature.make(
                fc.feature_definition, fc.params, dep_feats, name=fc.name
            )
            key = node.key()
            if key in self._df_cache:
                by_name[fc.name] = (node, self._df_cache[key])
                continue
            upstream_dfs = [by_name[d][1] for d in fc.deps] or [source_df]
            upstreams = dict(zip(defn.dep_slots, upstream_dfs))
            if self.store is not None and fc.name in config.features_to_store:
                df = self.store.get_or_compute(
                    f"{fc.name}-{key}",
                    lambda: defn.transform(upstreams, fc.params, config.keys),
                )
            else:
                df = defn.transform(upstreams, fc.params, config.keys)
            if fanout.get(fc.name, 0) > 1:
                df = df.persist()
            self._df_cache[key] = df
            by_name[fc.name] = (node, df)
        return by_name

    def run(self, config) -> DataFrame:
        """Compute the FeatureLabelSet: one row per label-feature event,
        every feature as-of joined (J1), label = the label feature
        ``label_lookahead`` in the future (J2). Column naming matches
        the reference: '{feature}-{col}' and 'label_{feature}-{col}'
        (tasks.py:243-252).

        One ``groupBy(keys).applyInArrow`` (``per_key_map``, which
        ignores events with no event time) over tagged sides (``_fused``).
        Side 0 is the source inputs of the features with a per-event
        kernel (every built-in) whose deps reach the source only through
        such features, bar stored ones; each other feature (kernel-less
        user definitions, stored features and their dependents) is one
        more side, its ``build_features`` frame in its own types. Per key,
        over its ts-ordered Arrow batches: the kernels over side 0's rows,
        then ``asof_join_multi``'s contract: each column forward-filled
        over nulls from its own side's rows and read at the row's last
        equal-ts peer across all sides; one row per event of the label
        feature's side, the label read at that side's last row with ts <=
        ts + lookahead, and rows whose lookahead passes that side's last
        event dropped. A row's features read no event after it: ``ohlcv``
        gives the last bar closed by then. Cost: O(rows) per key, however
        dense the ticks. Memory: one Arrow batch, the kernels' state and
        the rows held for the trailing peer group and the lookahead. A
        kernel that declares no ``state_fields`` raises a ValueError
        naming its feature (``kernel_inputs``)."""
        config = config if isinstance(config, FeaturizerConfig) else FeaturizerConfig.load(config)
        _load_definitions(config)
        keys = config.keys
        names = [fc.name for fc in config.features]
        label_name = config.label_feature or names[0]
        if label_name not in names:
            raise ValueError(f"label_feature {label_name!r} is not a configured feature: {names}")
        source_df = self._load_source(config.data_source)
        stored = config.features_to_store if self.store is not None else ()
        plan = kernel_plan(config, _value_cols(source_df, keys), stored)
        rest = [n for n in dict.fromkeys(names) if all(s.name != n for s in plan)]
        needed = set(rest)  # and, below, what they depend on
        for fc in reversed(config.features):
            if fc.name in needed:
                needed.update(fc.deps)
        feats = self.build_features(replace(
            config, features=[fc for fc in config.features if fc.name in needed], definition_paths=[]
        )) if rest else {}
        sides, frames = {}, [source_df.withColumn(_SIDE, F.lit(0))] if plan else []
        for tag, name in enumerate(rest, 1):
            side = feats[name][1]
            cols = _value_cols(side, keys)
            sides[name] = [StructField(f"{name}-{c}", side.schema[c].dataType) for c in cols]
            frames.append(side.select(*keys, "ts", F.lit(tag).alias(_SIDE),
                                      *[side[c].alias(f"{name}-{c}") for c in cols]))
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames) if rest else source_df
        inputs, outputs, fn = _fused(config, plan, sides, label_name)
        return per_key_map(df, keys, inputs, outputs, fn).select("ts", *keys, *[getattr(c, "name", c) for c in outputs])

    def run_stream(self, config, source_stream: DataFrame) -> DataFrame:
        """The Kappa ONLINE path (reference entry point 2, §3.2): the
        configured per-event feature graph over a streaming DataFrame,
        one combined vector row per source event: (key, ts,
        '{name}_value'...) as doubles. The graph is ``run``'s kernel
        plan (``kernel_plan``), run per micro-batch by ONE per-key
        stateful operator (streaming.feature_vector) that carries each
        kernel's state — Spark permits a single stateful operator per
        streaming query, and it is the execution shape of the
        reference's worker actor pushing each event through its streamz
        graph. A graph of row-local kernels only carries no state and
        runs as a stateless ``mapInPandas`` of the same plan. A feature
        with several outputs (``ohlcv``) gives one ``{name}_{output}``
        column each.

        Every feature must be in the plan: a kernel-less user definition
        raises, as does a kernel that declares no ``state_fields``
        (``kernel_inputs``, the input rule ``run`` shares). A config must
        have exactly one key column."""
        from svoe_spark.streaming.feature_vector import feature_vector_stream

        config = config if isinstance(config, FeaturizerConfig) else FeaturizerConfig.load(config)
        _load_definitions(config)
        if len(config.keys) != 1:
            raise ValueError("run_stream needs exactly one key column")
        (key,) = config.keys
        plan = kernel_plan(config, _value_cols(source_stream, config.keys))
        planned = {s.name for s in plan}
        for fc in config.features:
            if fc.name not in planned:
                raise ValueError(f"feature {fc.feature_definition!r} has no fused streaming form: "
                                 "it needs a per-event kernel")
        return feature_vector_stream(source_stream, plan, key=key, on="ts")

    def get_materialized_data(self, config, pick_every_nth_row: int = 1) -> DataFrame:
        """Reference runner.py:148-164: the label set, optionally
        decimated."""
        out = self.run(config)
        cfg = config if isinstance(config, FeaturizerConfig) else FeaturizerConfig.load(config)
        if pick_every_nth_row > 1:
            out = every_nth(out, pick_every_nth_row, on="ts", by=cfg.keys)
        return out
