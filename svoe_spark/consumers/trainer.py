"""Trainer surface: FeatureLabelSet -> time-ordered train/valid/test
split -> Spark ML model -> batch/stream scoring.

Reference (reference: trainer/trainer_manager.py:39-120): splits the
FeatureLabelSet, trains XGBoost on Ray with MLflow tracking. Spark
shape: time-based splits (never random for time series — leakage),
pyspark.ml pipeline (VectorAssembler + estimator), and scoring exposed
both as a batch transform and as the inference path over a stream
(reference inference_loop.py:16-71 polls a served model via HTTP; here
the model scores INSIDE the stream — no RPC hop)."""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import GBTRegressor, LinearRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def time_split(
    df: DataFrame, fracs: tuple[float, float, float] = (0.7, 0.15, 0.15), on: str = "ts"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Chronological train/valid/test split at the fracs quantiles of
    event time (approxQuantile — one pass, no sort)."""
    lo_frac = fracs[0]
    mid_frac = fracs[0] + fracs[1]
    q = df.select(F.col(on).cast("double").alias("e")).approxQuantile(
        "e", [lo_frac, mid_frac], 0.001
    )
    if len(q) < 2:
        raise ValueError(
            "time_split: input has no (non-null) event timestamps — "
            "nothing to split; check the featurizer config/time range"
        )
    t1, t2 = q
    e = F.col(on).cast("double")
    return (
        df.filter(e <= t1),
        df.filter((e > t1) & (e <= t2)),
        df.filter(e > t2),
    )


def _fit(
    train: DataFrame, feature_cols: list[str], label_col: str, kind: str, **params
) -> PipelineModel:
    """Assemble features, drop rows with missing values (warmup windows
    produce nulls), fit the ``kind`` estimator with ``params``."""
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="features", handleInvalid="skip"
    )
    estimator = GBTRegressor if kind == "gbt" else LinearRegression
    est = estimator(featuresCol="features", labelCol=label_col, **params)
    return Pipeline(stages=[assembler, est]).fit(train.na.drop(subset=feature_cols + [label_col]))


def train_regressor(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    kind: str = "linear",
) -> PipelineModel:
    """The ``kind`` regressor with its default parameters, fit on the
    rows of ``train`` with no missing feature or label."""
    return _fit(train, feature_cols, label_col, kind)


def score(model: PipelineModel, df: DataFrame) -> DataFrame:
    """Batch or streaming scoring — a fitted pyspark.ml PipelineModel
    transforms streaming DataFrames directly, which replaces the
    reference's HTTP inference loop with in-stream scoring."""
    return model.transform(df)


def r2(scored: DataFrame, label_col: str, pred_col: str = "prediction") -> float:
    from pyspark.ml.evaluation import RegressionEvaluator

    return RegressionEvaluator(
        labelCol=label_col, predictionCol=pred_col, metricName="r2"
    ).evaluate(scored)


def best_model(
    train: DataFrame,
    valid: DataFrame,
    feature_cols: list[str],
    label_col: str,
    kind: str = "linear",
) -> tuple[PipelineModel, dict]:
    """Grid search against the chronological validation split — the
    reference's `trainer best-model` verb (Ray Tune + MLflow picks,
    trainer_manager.py:39-120) as a plain fit-per-candidate loop over a
    stock param grid; every fit is itself distributed, the grid is
    driver-sized. Returns (best fitted pipeline, {params, valid_r2})."""
    if kind == "gbt":
        grid: list[dict] = [
            {"maxDepth": d, "maxIter": it} for d in (3, 5) for it in (10, 20)
        ]
    else:
        grid = [{"regParam": rp, "elasticNetParam": en}
                for rp in (0.0, 0.01, 0.1) for en in (0.0, 0.5)]
    best: tuple[float, PipelineModel, dict] | None = None
    clean_valid = valid.na.drop(subset=feature_cols + [label_col])
    for params in grid:
        model = _fit(train, feature_cols, label_col, kind, **params)
        metric = r2(model.transform(clean_valid), label_col)
        if best is None or metric > best[0]:
            best = (metric, model, params)
    assert best is not None, "empty parameter grid"
    return best[1], {"params": best[2], "valid_r2": best[0]}
