"""The binary operational evaluation battery — the engine twin of the
reference's ``evaluate_binary_operational``
(/root/reference/func_aux/func_test.py:272-510), emitting the SAME
artifact keys (BASELINE.md metric contract) from Spark aggregations.

Inputs are window-level DataFrames with a binary truth column, an attack
score column, and (for TTD) an episode-id column. Model inference happens
upstream (ml/models.predict_udf); this module is pure dataflow:

  threshold ← VAL curve at fpr_target (A13)
  test rates/cells/CIs/FPH         (A12, A14, A15)
  ROC-AUC / PR-AUC                 (A13)
  TTD episode stats                 (W6)
  curves (bounded: one point per distinct threshold)
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.metrics import (
    average_precision,
    binary_confusion_rates,
    clopper_pearson_ci,
    roc_auc_trapezoid,
    roc_points,
    threshold_at_fpr,
)
from cicevse2024_tfm_datapipeline_spark.operators.sessionize import ttd_stats


def _f(x) -> float:
    """None (degenerate class balance) → NaN, matching the reference's
    numpy NaN propagation."""
    return float(x) if x is not None else float("nan")


def evaluate_binary_operational(
    val: DataFrame,
    test: DataFrame,
    y_true_col: str,
    score_col: str,
    fpr_target: float,
    window_hop_seconds: float,
    episode_col: str | None = None,
    order_cols: tuple[str, ...] = ("window_id",),
    collect_curves: bool = True,
) -> dict:
    """Returns the reference-shaped artifact dict (threshold, validation,
    test{...}, curves). One Spark job per aggregation; curves are bounded
    by |distinct thresholds|, never |rows|."""
    # -------- threshold from VAL --------
    thr_row = threshold_at_fpr(val, y_true_col, score_col, fpr_target).collect()[0]
    thr, fpr_val, tpr_val = thr_row["threshold"], thr_row["fpr"], thr_row["tpr"]
    roc_auc_val = roc_auc_trapezoid(val, y_true_col, score_col).collect()[0]["roc_auc"]

    # -------- test predictions at the selected threshold --------
    t0 = time.perf_counter()
    scored = test.withColumn("__pred", (F.col(score_col) >= F.lit(thr if thr is not None else float("inf"))).cast("int"))
    n_test = scored.count()  # materializes the scoring pass → latency proxy
    total_inference_time = time.perf_counter() - t0
    avg_latency = total_inference_time / n_test if n_test else float("nan")

    rates = binary_confusion_rates(scored, y_true_col, "__pred").collect()[0]
    tn, fp, fn, tp = rates["tn"], rates["fp"], rates["fn"], rates["tp"]
    n_neg = tn + fp

    roc_auc_test = roc_auc_trapezoid(test, y_true_col, score_col).collect()[0]["roc_auc"]
    ap = average_precision(test, y_true_col, score_col).collect()[0]["average_precision"]

    def fbeta(beta: float) -> float:
        b2 = beta * beta
        prec = tp / (tp + fp) if (tp + fp) else 0.0
        rec = tp / (tp + fn) if (tp + fn) else 0.0
        denom = b2 * prec + rec
        return (1 + b2) * prec * rec / denom if denom > 0 else 0.0

    ci_low_cp, ci_high_cp = clopper_pearson_ci(int(fp), int(n_neg), alpha=0.05)
    fpr_to_fph = 3600.0 / window_hop_seconds if window_hop_seconds > 0 else float("nan")
    total_hours_benign = n_neg * window_hop_seconds / 3600.0
    fp_per_hour = fp / total_hours_benign if total_hours_benign > 0 else float("nan")

    ttd = ttd_stats(
        scored,
        list(order_cols),
        y_true_col,
        "__pred",
        window_hop_seconds,
        episode_id_col=episode_col,
    ).collect()[0].asDict()

    curves: dict = {}
    if collect_curves:
        test_pts = roc_points(test, y_true_col, score_col).orderBy(F.asc("fpr")).collect()
        val_pts = roc_points(val, y_true_col, score_col).orderBy(F.asc("fpr")).collect()
        curves = {
            "roc_val": {
                "fpr": [r["fpr"] for r in val_pts],
                "tpr": [r["tpr"] for r in val_pts],
            },
            "roc_test": {
                "fpr": [r["fpr"] for r in test_pts],
                "tpr": [r["tpr"] for r in test_pts],
            },
        }

    return {
        "threshold": _f(thr),
        "fpr_target": fpr_target,
        "validation": {
            "FPR": _f(fpr_val),
            "TPR": _f(tpr_val),
            "ROC_AUC": _f(roc_auc_val),
        },
        "test": {
            "TN": int(tn),
            "FP": int(fp),
            "FN": int(fn),
            "TP": int(tp),
            "FPR": float(rates["fpr"]) if rates["fpr"] is not None else float("nan"),
            "TPR": _f(rates["tpr"]),
            "TNR": float(rates["tnr"]) if rates["tnr"] is not None else float("nan"),
            "precision": _f(rates["precision"]),
            "recall": _f(rates["recall"]),
            "balanced_accuracy": float(rates["balanced_accuracy"])
            if rates["balanced_accuracy"] is not None
            else float("nan"),
            "ROC_AUC": _f(roc_auc_test),
            "PR_AUC": _f(ap),
            "F1": fbeta(1.0),
            "F2": fbeta(2.0),
            "F0_5": fbeta(0.5),
            "FPR_CI_normal": [
                float(rates["fpr_ci_low_norm"]) if rates["fpr_ci_low_norm"] is not None else float("nan"),
                float(rates["fpr_ci_high_norm"]) if rates["fpr_ci_high_norm"] is not None else float("nan"),
            ],
            "FPR_CI_clopper_pearson": [float(ci_low_cp), float(ci_high_cp)],
            "FPH_CI_normal": [
                (float(rates["fpr_ci_low_norm"]) * fpr_to_fph) if rates["fpr_ci_low_norm"] is not None else float("nan"),
                (float(rates["fpr_ci_high_norm"]) * fpr_to_fph) if rates["fpr_ci_high_norm"] is not None else float("nan"),
            ],
            "FPH_CI_clopper_pearson": [ci_low_cp * fpr_to_fph, ci_high_cp * fpr_to_fph],
            "false_positives_per_hour": float(fp_per_hour),
            "average_FP_per_hour": float(fp_per_hour),
            "avg_inference_latency_per_window_sec": float(avg_latency),
            "TTD_stats": ttd,
            "total_hours_test": float(n_test * window_hop_seconds / 3600.0),
        },
        "curves": curves,
    }


def robustness_sweep(
    windows: DataFrame,
    matrix_col: str,
    window_id_col: str,
    evaluate_fn,
    kinds: tuple[str, ...] = ("packet_loss", "missing_variables"),
    severities: tuple[float, ...] = (0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6),
    n_repeats: int = 5,
) -> list[dict]:
    """Pipeline-3 robustness harness (pipeline_tests_power.py:255-364):
    degrade → re-evaluate per (kind, severity, repeat), seeds from 42;
    aggregate with A8 downstream. ``evaluate_fn(degraded_df) -> dict`` plugs in the model."""
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import severity_sweep

    out = []
    for kind, sev, rep, degraded in severity_sweep(
        windows, matrix_col, window_id_col, kinds, severities, n_repeats, 42
    ):
        metrics = evaluate_fn(degraded)
        out.append({"kind": kind, "severity": sev, "repeat": rep, **metrics})
    return out
