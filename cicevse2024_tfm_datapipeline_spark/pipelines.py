"""End-to-end pipeline drivers mirroring the reference's three entry
points (SURVEY §3) — a user of the reference runs the same lifecycle here:

  scan → label derive → task filter → project → per-group chrono split →
  train-only scaling → sliding windows → (train at the ML edge) →
  metric battery → artifacts

Steps 1-7 are ONE lazy DataFrame DAG materialized to parquet once
(SURVEY §3.1 'Spark shape'); metrics are aggregation queries over it.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.functions.scalars import (
    BENIGN_LIKE,
    attack_group_expr,
    binary_label_expr,
    charging_flag_expr,
)
from cicevse2024_tfm_datapipeline_spark.functions.encoders import label_encode
from cicevse2024_tfm_datapipeline_spark.operators.metrics import (
    multiclass_point_metrics,
)
from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split
from cicevse2024_tfm_datapipeline_spark.operators.windows import (
    apply_standardizer,
    fit_standardizer,
    window_summary_stats,
)


@dataclass
class PipelineConfig:
    """Reference run_pipeline1 knobs (pipeline_trainingmodels_power.py:78-100)."""

    task: str = "binary"
    seq_len: int = 15
    step: int = 1
    train_frac: float = 0.7
    val_frac: float = 0.15
    sample_period_seconds: float = 1.0
    num_features: tuple[str, ...] = ("value",)
    cat_features: tuple[str, ...] = ("state_bin",)
    attack_col: str = "attack"
    state_col: str = "state"
    time_col: str = "ts"
    tiebreak_col: str = "event_id"
    output_dir: str | None = None
    extra: dict = field(default_factory=dict)


def prepare_labels_for_task(df: DataFrame, task: str, attack_col: str = "attack") -> tuple[DataFrame, str]:
    """F4/F6 label derivation (func_aux/func_preproc.py:97-125)."""
    task = task.lower()
    if task == "binary":
        return df.withColumn("Label", binary_label_expr(attack_col, BENIGN_LIKE)), "Label"
    if task == "scenario":
        return df.withColumn("AttackGroup", attack_group_expr(attack_col)), "AttackGroup"
    if task == "multiattack":
        return df, attack_col
    raise ValueError("task must be 'binary', 'scenario' or 'multiattack'")


def run_power_pipeline(spark: SparkSession, events: DataFrame, cfg: PipelineConfig) -> dict:
    """The flagship lifecycle (SURVEY §3.1) on a power-shaped frame with
    columns (ts, event_id, attack, state, value). Returns the metrics
    artifact dict; writes windows parquet + metrics.json/config.json when
    cfg.output_dir is set (S5/S6 artifact contract)."""
    t0 = time.perf_counter()
    df = events.withColumn("state_bin", charging_flag_expr(cfg.state_col))
    df, target_col = prepare_labels_for_task(df, cfg.task, cfg.attack_col)
    if cfg.task == "binary":
        df = df  # keep all rows; benign-vs-attack is the target itself
    # P5 + F11: clean and encode
    feats = list(cfg.num_features) + list(cfg.cat_features)
    df = df.na.drop(subset=feats + [target_col])
    df = label_encode(df, target_col, "y")

    # W1: per-(attack,state) chronological split
    tagged = chrono_split(
        df, [cfg.attack_col, cfg.state_col], cfg.time_col, cfg.tiebreak_col,
        cfg.train_frac, cfg.val_frac,
    )

    # W5: train-only standardization of numeric features
    stats = fit_standardizer(tagged.filter(F.col("split") == "train"), cfg.num_features)
    scaled = apply_standardizer(tagged, stats)

    # W3/W4 + A6: windowed features per (split, attack, state)
    windows = window_summary_stats(
        scaled,
        ["split", cfg.attack_col, cfg.state_col],
        cfg.time_col,
        cfg.tiebreak_col,
        feats,
        cfg.seq_len,
        cfg.step,
        label_col="y",
    )
    windows = windows.persist()
    n_windows = {r["split"]: r["n"] for r in windows.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}

    # stand-in detector at the window level (the ML edge plugs in here —
    # swap the score expression for ml.models.predict_udf output)
    mean_col = f"{cfg.num_features[0]}_mean"
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(mean_col)))
    test = windows.filter(F.col("split") == "test").withColumn(
        "y_pred", (F.col(mean_col) > 0).cast("int")
    )
    hop = cfg.step * cfg.sample_period_seconds

    if cfg.task == "binary":
        from cicevse2024_tfm_datapipeline_spark.evaluation import (
            evaluate_binary_operational,
        )

        # label code for 'attack' is 0 (alphabetical) → y_true = 1 - y
        def _binify(frame: DataFrame) -> DataFrame:
            return frame.withColumn(
                "y_true", (F.col("window_label") == 0).cast("int")
            ).withColumn("score", score)

        val_b = _binify(windows.filter(F.col("split") == "val"))
        test_b = _binify(windows.filter(F.col("split") == "test"))
        metrics = {
            "binary": evaluate_binary_operational(
                val_b,
                test_b,
                "y_true",
                "score",
                fpr_target=cfg.extra.get("fpr_target", 1e-3),
                window_hop_seconds=hop,
                order_cols=(cfg.attack_col, cfg.state_col, "window_id"),
                collect_curves=False,
            )
        }
    else:
        mc = multiclass_point_metrics(
            test.withColumn("yp_label", F.col("y_pred")), "window_label", "yp_label"
        ).collect()[0].asDict()
        metrics = {"global": mc}

    artifact = {
        "config": {
            "task": cfg.task,
            "seq_len": cfg.seq_len,
            "step": cfg.step,
            "train_frac": cfg.train_frac,
            "val_frac": cfg.val_frac,
            "features": feats,
        },
        "n_windows": n_windows,
        "metrics": metrics,
        "training_time_seconds": time.perf_counter() - t0,
    }
    if cfg.output_dir:
        os.makedirs(cfg.output_dir, exist_ok=True)
        windows.write.mode("overwrite").parquet(os.path.join(cfg.output_dir, "windows.parquet"))
        _dump_json(os.path.join(cfg.output_dir, "metrics.json"), {"metrics": metrics, "n_windows": n_windows})
        _dump_json(os.path.join(cfg.output_dir, "config.json"), artifact["config"])
    windows.unpersist()
    return artifact


#: attacks the reference's host pipeline leaves out (DROP_ATTACKS)
HOST_DROP_ATTACKS = ("serice-detection", "icmp-fragmentation_old")


def run_host_pipeline(
    spark: SparkSession,
    host_df: DataFrame,
    importances: list[tuple[str, float]],
    cfg: PipelineConfig,
    top_k: int = 10,
) -> dict:
    """§3.2 host lifecycle: DROP_ATTACKS filter → W8 top-K feature
    selection from a precomputed importance ranking (the M7 cross-stage
    IR, pipelines_host/pipeline_trainingmodels_host.py:57-166) → the
    shared split/scale/window/metric chain."""
    ranked = [f for f, _ in sorted(importances, key=lambda kv: -kv[1])]
    selected = [f for f in ranked if f in host_df.columns][:top_k]
    df = host_df.filter(~F.col(cfg.attack_col).isin(*HOST_DROP_ATTACKS))
    cfg2 = PipelineConfig(**{**cfg.__dict__, "num_features": tuple(selected)})
    return run_power_pipeline(spark, df, cfg2)


def run_network_pipeline(
    spark: SparkSession,
    raw_glob: str,
    cfg: PipelineConfig,
    evse: str = "B",
) -> dict:
    """§3.3 network lifecycle: S3 multi-file scan + F9 filename labels →
    F7 broadcast label maps → P9 EVSE filter → P6/P7/P8 narrowing → the
    shared chain (pipeline_trainingmodels_network.py:167-720)."""
    from cicevse2024_tfm_datapipeline_spark.functions.network_maps import (
        ATTACK_TO_SCENARIO,
        LABEL_MAPPING,
        apply_mapping,
    )
    from cicevse2024_tfm_datapipeline_spark.operators.narrowing import (
        drop_blocklisted,
        drop_constant_columns,
        drop_high_null_columns,
    )
    from cicevse2024_tfm_datapipeline_spark.sources.readers import scan_network_dir

    df = scan_network_dir(spark, raw_glob)
    df = df.filter(F.upper(F.trim(F.col("evse"))) == evse.upper())
    df = apply_mapping(df, LABEL_MAPPING, "label_mul_raw", "attack")
    df = apply_mapping(df, ATTACK_TO_SCENARIO, "attack", "scenario", F.lit("Benign"))
    df = drop_blocklisted(df)
    df = drop_high_null_columns(df, 0.95)
    df = drop_constant_columns(df, [c for c in df.columns if c not in ("attack", "scenario")])
    # file-order time axis (F12) within each source file
    from pyspark.sql import Window as W

    df = df.withColumn(
        "ts", F.row_number().over(W.partitionBy("source_file").orderBy(F.monotonically_increasing_id())).cast("double")
    ).withColumn("event_id", F.monotonically_increasing_id())
    df = df.withColumn("state", F.when(F.lower("label_mul_raw").contains("charging"), "charging").otherwise("idle"))
    num_feats = [
        c for c, t_ in df.dtypes
        if t_ in ("double", "bigint", "int") and c not in ("ts", "event_id")
    ][:4]
    cfg2 = PipelineConfig(**{**cfg.__dict__, "num_features": tuple(num_feats), "cat_features": ()})
    return run_power_pipeline(spark, df, cfg2)


def _dump_json(path: str, obj: dict) -> None:
    """S6 + F14: JSON artifact sink with NaN/inf → null sanitization
    (func_aux/func_preproc.py:481-534)."""
    import math

    def clean(v):
        if isinstance(v, dict):
            return {k: clean(x) for k, x in v.items()}
        if isinstance(v, (list, tuple)):
            return [clean(x) for x in v]
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return None
        return v

    with open(path, "w") as fh:
        json.dump(clean(obj), fh, indent=2)
