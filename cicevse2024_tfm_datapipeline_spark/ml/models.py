"""M1-M8: the ML edge of the engine (SURVEY §2.10).

The reference trains Keras LSTM/TCN, XGBoost and sklearn decision trees
on driver-side ndarrays. The engine's contract: featurization (splits,
windows, scaling, top-K selection) is Spark; model fit/infer sits at the
edge —

  M5 surrogate tree  → pyspark.ml DecisionTreeClassifier on the A6
                       window-stats features (fully distributed)
  M1 XGBoost         → xgboost.spark when available (import-gated; not
                       in this container), else driver-side xgboost on a
                       sampled pandas frame, else the Spark GBT fallback
  M2-M4 Keras        → out-of-engine training; INFERENCE is a Pandas UDF
                       (predict_fn over Arrow batches — M6)
  M8 sample size     → pure scalar math

Every function degrades gracefully when the optional library is missing
— the Spark-side plumbing (feature assembly, prediction schema) is the
tested part.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_features(df: DataFrame, feature_cols: Sequence[str]) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=list(feature_cols), outputCol="features", handleInvalid="skip").transform(df)


def fit_surrogate_tree(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    max_depth: int = 4,
):
    """M5: decision-tree surrogate on window summary stats
    (func_aux/func_models.py:177-273). Label may be base-model preds
    (fidelity mode) or ground truth. Returns (model, predictions_df)."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import StringIndexer

    indexed = StringIndexer(
        inputCol=label_col, outputCol="__label_idx", stringOrderType="alphabetAsc"
    ).fit(df)
    data = assemble_features(indexed.transform(df), feature_cols)
    tree = DecisionTreeClassifier(
        featuresCol="features", labelCol="__label_idx", maxDepth=max_depth, seed=42
    )
    model = tree.fit(data)
    return model, model.transform(data)


def tree_rules_text(model) -> str:
    """M5 export: human-readable rules (reference writes rules .txt)."""
    return model.toDebugString


def feature_importances(model, feature_cols: Sequence[str]) -> list[tuple[str, float]]:
    imps = model.featureImportances.toArray().tolist()
    return sorted(zip(feature_cols, imps), key=lambda kv: -kv[1])


def fit_gradient_boosting(df: DataFrame, feature_cols: Sequence[str], label_col: str, max_iter: int = 20):
    """M1: gradient-boosted trees. Prefers xgboost.spark (same params as
    the reference's XGBClassifier where they map); falls back to Spark
    ML GBTClassifier (binary) — import-gated, never a hard dependency."""
    try:
        from xgboost.spark import SparkXGBClassifier  # type: ignore

        clf = SparkXGBClassifier(
            features_col="features",
            label_col=label_col,
            n_estimators=200,
            max_depth=6,
            learning_rate=0.05,
            subsample=0.8,
            colsample_bytree=0.8,
            tree_method="hist",
        )
        return clf.fit(assemble_features(df, feature_cols))
    except ImportError:
        from pyspark.ml.classification import GBTClassifier

        gbt = GBTClassifier(
            featuresCol="features", labelCol=label_col, maxIter=max_iter, maxDepth=6, seed=42
        )
        return gbt.fit(assemble_features(df, feature_cols))


def predict_udf(predict_fn: Callable, feature_cols: Sequence[str]):
    """M6: batch-inference Pandas UDF around an arbitrary model's
    ``predict_fn(X: ndarray) -> ndarray`` (the reference's closure,
    pipeline_tests_power.py:205-240). Arrow-batched; the model object is
    captured in the closure and shipped once per executor."""
    import pandas as pd

    cols = list(feature_cols)

    # features travel as ONE struct column → arrives as a pd.DataFrame.
    # Type-hint style (pd.DataFrame → pd.Series); the hints are attached
    # as real type objects because `from __future__ import annotations`
    # stringizes inline ones beyond pyspark's signature inference.
    def _infer(features):
        X = features[cols].to_numpy(dtype=float)
        return pd.Series(predict_fn(X))

    _infer.__annotations__ = {"features": pd.DataFrame, "return": pd.Series}
    infer = F.pandas_udf(_infer, "double")

    def apply(df: DataFrame, out_col: str = "prediction") -> DataFrame:
        return df.withColumn(out_col, infer(F.struct(*[F.col(c) for c in cols])))

    return apply


# --- M8: sample-size calculators (func_aux/func_test.py:582-647) ---------


def n_required_for_fpr(fpr_max: float, alpha: float = 0.05) -> int:
    """Benign windows needed so that zero FPs bounds FPR ≤ fpr_max at
    confidence 1−alpha: n ≈ ln(1/alpha)/fpr_max (Clopper-Pearson with
    k=0 inverted)."""
    return int(math.ceil(math.log(1.0 / alpha) / fpr_max))


def n_required_for_fph(fph_max: float, window_hop_seconds: float, alpha: float = 0.05) -> int:
    fpr_max = fph_max * window_hop_seconds / 3600.0
    return n_required_for_fpr(fpr_max, alpha)
