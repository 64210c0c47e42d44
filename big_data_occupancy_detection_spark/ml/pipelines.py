"""MLlib pipeline builders (SURVEY.md §2.10).

Reproduces the reference's two training recipes as parameterized builders:

- class-weighted logistic regression: VectorAssembler → StandardScaler
  (withStd, no mean — keeps the feature matrix sparse-friendly) → LR with a
  ``weightCol`` (reference: ``ml/train_model.py:179-198``). Class weights
  come from ``operators.relational.class_weights`` — fully distributed,
  unlike the reference's driver-side collect (``ml/train_model.py:150-175``).
- oversampled + CV-tuned random forest: minority oversampling with
  replacement (fraction > 1 Poisson semantics preserved — do NOT "fix" to
  exact ratios, ``ml/model_creation_and_tuning.ipynb:J128``), ParamGrid ×
  CrossValidator on BinaryClassificationEvaluator
  (``ipynb:J179-186``).

Seeds are pinned (42, like the reference throughout) and models persist
via ``PipelineModel.save/load`` directory artifacts.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import LogisticRegression, RandomForestClassifier
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 42


def build_weighted_lr_pipeline(
    feature_cols: list[str],
    label_col: str = "label",
    weight_col: str = "class_weight",
) -> Pipeline:
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="features_raw", handleInvalid="skip"
    )
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withStd=True, withMean=False
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol=label_col,
        weightCol=weight_col,
        maxIter=50,
        regParam=0.01,
        elasticNetParam=0.0,
    )
    return Pipeline(stages=[assembler, scaler, lr])


def oversample_minority(
    df: DataFrame, label_col: str = "label", minority: int = 1, seed: int = SEED
) -> DataFrame:
    """Balance classes by sampling the minority WITH replacement at
    fraction = major/minor (>1 ⇒ per-row Poisson draw) and unioning back.

    The two class counts are a 2-row aggregate collected to the driver —
    that collect is O(K), not O(rows), so it scales.
    """
    counts = dict(
        df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    major_n = max(counts.values())
    minor_n = counts[minority]
    ratio = major_n / minor_n
    major_df = df.filter(F.col(label_col) != minority)
    minor_df = df.filter(F.col(label_col) == minority)
    return major_df.unionAll(
        minor_df.sample(withReplacement=True, fraction=ratio, seed=seed)
    )


def build_rf_cv_pipeline(
    feature_cols: list[str],
    label_col: str = "label",
    num_trees_grid: list[int] | None = None,
    max_depth_grid: list[int] | None = None,
    subsampling_grid: list[float] | None = None,
    num_folds: int = 3,
) -> CrossValidator:
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="features_raw", handleInvalid="skip"
    )
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withStd=True, withMean=True
    )
    rf = RandomForestClassifier(
        featuresCol="features", labelCol=label_col, seed=SEED
    )
    pipeline = Pipeline(stages=[assembler, scaler, rf])
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, num_trees_grid or [50, 100, 200])
        # the reference's 3x4x2 grid (ml/model_creation_and_tuning.ipynb
        # cell 12): maxDepth [10, 15, 20, 25]
        .addGrid(rf.maxDepth, max_depth_grid or [10, 15, 20, 25])
        .addGrid(rf.subsamplingRate, subsampling_grid or [0.8, 1.0])
        .build()
    )
    evaluator = BinaryClassificationEvaluator(
        labelCol=label_col, metricName="areaUnderROC"
    )
    return CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        seed=SEED,
        parallelism=4,
    )


def strip_training_summary(model):
    """Drop the driver-side training summary from a fitted model (recursing
    into ``PipelineModel`` stages); returns the model for chaining.

    Why this exists: Spark's summary impls (e.g.
    ``BinaryLogisticRegressionTrainingSummaryImpl``) hold a NON-transient
    ``SparkSession`` reference, and ``SparkSession.observationManager`` is a
    lazily-initialized, non-serializable field. The moment any
    ``DataFrame.observe`` runs in the session (quality-metric counters
    piggybacked on a write — standard practice in production pipelines),
    that lazy field materializes, and every subsequent
    ``model.transform`` whose prediction UDF captures a summary-bearing model
    dies with ``NotSerializableException: ObservationManager`` at task
    serialization. The summary is a training-time diagnostic that lives on
    the driver; stripping it changes nothing about ``transform``.

    Call this on every model that outlives its training step (serving,
    streaming scorers, registry queries).
    """
    from pyspark.ml import PipelineModel

    if isinstance(model, PipelineModel):
        for stage in model.stages:
            strip_training_summary(stage)
        return model
    java_obj = getattr(model, "_java_obj", None)
    if java_obj is not None and getattr(model, "hasSummary", False):
        from pyspark import SparkContext

        jvm = SparkContext._active_spark_context._jvm
        model._call_java("setSummary", jvm.scala.Option.empty())
    return model
