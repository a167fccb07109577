"""ML layer (SURVEY §2.9 M1-M6): Spark ML pipelines replacing the
reference's sklearn/xgboost stack.

- M1 feature assembly + standardization: VectorAssembler+StandardScaler
  (prediction_ML_pipeline.py:180-240)
- M2 RandomForest + grid search: CrossValidator(numFolds)
  (prediction_ML_pipeline.py:265-301)
- M3 boosted trees: the reference's per-day incremental XGBoost
  (chunk_pipeline.py:26-96) becomes ONE distributed GBT fit — xgboost
  is not available in this environment, and continuation-training is an
  artifact of single-machine memory bounds that Spark removes. If
  xgboost.spark is importable we use SparkXGBClassifier instead (same
  params, BASELINE.md).
- M4 predict + threshold: prob > 0.5 -> ±1 (chunk_pipeline.py:154-161)
- M6 logistic benchmark + AUC: LogisticRegression +
  BinaryClassificationEvaluator (direction_analysis.ipynb cell 37)

Everything keeps data distributed; only fitted model params live on
the driver.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 42


def feature_pipeline(feature_cols: list[str]) -> list:
    """M1: assemble + z-score standardize (withMean like the reference's
    (x-mean)/std at prediction_ML_pipeline.py:222-224)."""
    return [
        VectorAssembler(inputCols=feature_cols, outputCol="features_raw"),
        StandardScaler(
            inputCol="features_raw",
            outputCol="features",
            withMean=True,
            withStd=True,
        ),
    ]


def direction_label(df: DataFrame) -> DataFrame:
    """Reference remaps direction −1→0 for binary loss
    (chunk_pipeline.py:63-64)."""
    return df.withColumn(
        "label", F.when(F.col("direction") == 1, 1.0).otherwise(0.0)
    )


def train_rf(
    df: DataFrame,
    feature_cols: list[str],
    cv: bool = False,
    num_trees: int = 50,
) -> PipelineModel:
    """M2: RandomForest (depth 6); with cv=True a 5-fold accuracy grid
    search like GridSearchCV(cv=5, scoring='accuracy')."""
    rf = RandomForestClassifier(
        featuresCol="features",
        labelCol="label",
        numTrees=num_trees,
        maxDepth=6,
        seed=SEED,
    )
    pipe = Pipeline(stages=[*feature_pipeline(feature_cols), rf])
    if not cv:
        return pipe.fit(df)
    grid = (
        ParamGridBuilder()
        .addGrid(rf.maxDepth, [4, 6])
        .addGrid(rf.numTrees, [25, 50])
        .build()
    )
    cv_est = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(metricName="accuracy"),
        numFolds=5,
        seed=SEED,
        parallelism=4,
    )
    return cv_est.fit(df).bestModel


# The reference's exact XGBoost hyperparameters (test_workflow.py:56-64)
# — passed verbatim to SparkXGBClassifier when xgboost is importable, so
# the M3 parity path lights up without code changes if the environment
# ever gains the package.
XGB_REFERENCE_PARAMS = {
    "objective": "binary:logistic",
    "learning_rate": 0.1,
    "max_depth": 6,
    "subsample": 0.8,
    "colsample_bytree": 0.8,
    "n_estimators": 100,
    "eval_metric": "logloss",
}


def train_boosted(df: DataFrame, feature_cols: list[str]) -> PipelineModel:
    """M3: distributed boosted trees with the reference's exact XGB
    params (XGB_REFERENCE_PARAMS) when xgboost is available; GBT
    stand-in with the translatable subset otherwise."""
    try:  # optional: real XGBoost if the environment provides it
        from xgboost.spark import SparkXGBClassifier  # noqa: PLC0415

        est = SparkXGBClassifier(
            features_col="features",
            label_col="label",
            seed=SEED,
            **XGB_REFERENCE_PARAMS,
        )
    except ImportError:
        est = GBTClassifier(
            featuresCol="features",
            labelCol="label",
            stepSize=0.1,
            maxDepth=6,
            subsamplingRate=0.8,
            maxIter=10,
            seed=SEED,
        )
    pipe = Pipeline(stages=[*feature_pipeline(feature_cols), est])
    return pipe.fit(df)


def predict_direction(model: PipelineModel, df: DataFrame) -> DataFrame:
    """M4: pred_prob = P(class 1); pred_dir = +1 if prob > 0.5 else −1."""
    from pyspark.ml.functions import vector_to_array

    out = model.transform(df)
    prob1 = F.element_at(vector_to_array(F.col("probability")), 2)
    return out.withColumn("pred_prob", prob1).withColumn(
        "pred_dir", F.when(prob1 > 0.5, F.lit(1)).otherwise(F.lit(-1))
    )


def evaluate_binary(pred: DataFrame) -> dict:
    acc = MulticlassClassificationEvaluator(metricName="accuracy").evaluate(pred)
    auc = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(pred)
    return {"accuracy": acc, "auc": auc}


def train_logistic(
    df: DataFrame,
    feature_cols: list[str],
    tol: float = 1e-6,
    max_iter: int = 50,
) -> PipelineModel:
    """M6: logistic-regression benchmark. ``tol``/``max_iter`` default
    to the benchmark semantics (LBFGS tol 1e-6, 50 iters); the
    logistic_irls_gram parity pin passes tighter values because the
    default tol truncates coefficients ~5e-6 short of the optimum
    (measured, tests/test_regression_kernel.py)."""
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", maxIter=max_iter, tol=tol
    )
    return Pipeline(stages=[*feature_pipeline(feature_cols), lr]).fit(df)


def feature_importances(model: PipelineModel, feature_cols: list[str]) -> dict:
    """A17: per-feature gain/importance off the fitted model."""
    last = model.stages[-1]
    imp = getattr(last, "featureImportances", None)
    if imp is None:
        return {}
    arr = imp.toArray().tolist()
    return dict(zip(feature_cols, arr))
