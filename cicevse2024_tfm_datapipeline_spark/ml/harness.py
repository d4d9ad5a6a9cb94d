"""M7/M9: driver-side experiment harnesses (SURVEY §2.10).

These mirror the reference's experiment loops — permutation importance
(pipelines_host/pipeline_host_importance.py:154-407) and leave-one-attack-
out generalization (pipelines_power/pipeline_tests_power.py:484-785) — as
plain-Python orchestration over ENGINE operators. Each inner step is a
lazy Spark plan; only small metric rows are collected.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.functions.scalars import BENIGN_LIKE, norm_str
from cicevse2024_tfm_datapipeline_spark.operators.degrade import permute_feature_globally
from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split


def permutation_importance(
    df: DataFrame,
    feature_cols: Sequence[str],
    loss_fn: Callable[[DataFrame], float],
    n_repeats: int = 3,
) -> list[dict]:
    """M7: for each feature, permute it globally (R5) ``n_repeats`` times
    and record the loss increase over baseline. Seeds derive as
    42+1000·i+r (reference derivation); ties in the permutation order
    break on ``event_id``. Returns ranked records
    [{feature, mean_drop, std_drop}] sorted by mean_drop desc."""
    baseline = loss_fn(df)
    results = []
    for i, feat in enumerate(feature_cols):
        drops = []
        for r in range(n_repeats):
            seed = 42 + 1000 * i + r
            permuted = permute_feature_globally(df, feat, seed, "event_id")
            drops.append(loss_fn(permuted) - baseline)
        n = len(drops)
        mean = sum(drops) / n
        var = sum((d - mean) ** 2 for d in drops) / (n - 1) if n > 1 else 0.0
        results.append({"feature": feat, "mean_drop": mean, "std_drop": var**0.5})
    return sorted(results, key=lambda r: -r["mean_drop"])


def attack_candidates(df: DataFrame) -> list[str]:
    """Non-benign ``attack`` names, sorted (reference
    _get_attack_candidates_from_df, func_preproc.py:445-455)."""
    rows = (
        df.select(F.col("attack").alias("a"))
        .na.drop()
        .filter(~norm_str(F.col("a")).isin(*BENIGN_LIKE))
        .distinct()
        .orderBy("a")
        .collect()
    )
    return [r["a"] for r in rows]


def leave_one_attack_out(
    df: DataFrame,
    evaluate_fn: Callable[[DataFrame, DataFrame, str], dict],
    max_attacks: int | None = None,
) -> list[dict]:
    """M9: per held-out attack — remove it from train/val (anti-filter
    P10/J3), keep it in test, re-split chronologically, hand both frames
    to ``evaluate_fn(train_val, test, held_out)``. The reference re-trains
    a model here; the harness stays model-agnostic. The frame carries the
    events columns: ``attack``, ``state``, time ``ts``, tie-break
    ``event_id``."""
    out = []
    for name in attack_candidates(df)[: max_attacks or None]:
        tagged = chrono_split(df, ["attack", "state"], "ts", "event_id")
        train_val = tagged.filter(
            (F.col("split") != "test") & (F.col("attack") != name)
        )
        test = tagged.filter(F.col("split") == "test")
        metrics = evaluate_fn(train_val, test, name)
        out.append({"held_out": name, **metrics})
    return out
