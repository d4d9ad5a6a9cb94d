"""A8-A15: evaluation-metric aggregations (SURVEY §2.5).

The reference computes these with sklearn/NumPy on driver arrays
(func_aux/func_test.py). Here every point metric is a Spark aggregation —
confusion cells via conditional sums, the multiclass battery via per-class
TP/FP/FN algebra, ROC/PR machinery via the two-phase range-partitioned
prefix sum (operators.scan) over the score ordering — no unpartitioned
window anywhere, so the curves stay parallel even when |distinct scores|
≈ |rows|. Only the exact Clopper-Pearson bound needs scalar numerics
(pure-NumPy bisection; scipy optional).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPS = 1e-12  # reference smoothing (func_aux/func_test.py:356-360)
Z95 = 1.96  # two-sided 95% normal quantile of the FPR interval


def confusion_matrix(
    df: DataFrame, y_true: str, y_pred: str, labels: list | None = None
) -> DataFrame:
    """A10: counts over the (y_true, y_pred) grid. With ``labels`` the grid
    is densified (zero cells present) via a crossjoin of the label domain —
    matching sklearn's fixed-label-universe matrix
    (pipeline_trainingmodels_power.py:200-211)."""
    counts = df.groupBy(
        F.col(y_true).alias("true_label"), F.col(y_pred).alias("pred_label")
    ).agg(F.count(F.lit(1)).alias("n"))
    if labels is None:
        return counts
    spark = df.sparkSession
    # literal label domain built JVM-side (no Python local relation)
    dom = spark.range(1).select(
        F.explode(F.array(*[F.lit(str(x)) for x in labels])).alias("l")
    )
    grid = dom.select(F.col("l").alias("true_label")).crossJoin(
        dom.select(F.col("l").alias("pred_label"))
    )
    return grid.join(counts, ["true_label", "pred_label"], "left").select(
        "true_label", "pred_label", F.coalesce("n", F.lit(0)).alias("n")
    )


def binary_confusion_rates(df: DataFrame, y_true: str, y_pred: str) -> DataFrame:
    """A12: TN/FP/FN/TP cells + threshold rates + normal-approx FPR CI
    (func_aux/func_test.py:334-373). One aggregation pass."""
    yt, yp = F.col(y_true), F.col(y_pred)
    cells = df.agg(
        F.sum(((yt == 0) & (yp == 0)).cast("long")).alias("tn"),
        F.sum(((yt == 0) & (yp == 1)).cast("long")).alias("fp"),
        F.sum(((yt == 1) & (yp == 0)).cast("long")).alias("fn"),
        F.sum(((yt == 1) & (yp == 1)).cast("long")).alias("tp"),
    )
    n_neg = F.col("tn") + F.col("fp")
    fpr = F.when(n_neg > 0, F.col("fp") / n_neg)
    tpr = F.col("tp") / (F.col("tp") + F.col("fn") + F.lit(EPS))
    precision = F.col("tp") / (F.col("tp") + F.col("fp") + F.lit(EPS))
    tnr = F.when(n_neg > 0, F.col("tn") / (n_neg + F.lit(EPS)))
    balanced = F.lit(0.5) * (tpr + tnr)
    se = F.sqrt(fpr * (1 - fpr) / n_neg)
    return cells.select(
        "tn",
        "fp",
        "fn",
        "tp",
        fpr.alias("fpr"),
        tpr.alias("tpr"),
        precision.alias("precision"),
        tpr.alias("recall"),
        tnr.alias("tnr"),
        balanced.alias("balanced_accuracy"),
        F.when(n_neg > 0, F.greatest(F.lit(0.0), fpr - F.lit(Z95) * se)).alias("fpr_ci_low_norm"),
        F.when(n_neg > 0, F.least(F.lit(1.0), fpr + F.lit(Z95) * se)).alias("fpr_ci_high_norm"),
    )


def multiclass_point_metrics(df: DataFrame, y_true: str, y_pred: str) -> DataFrame:
    """A11 point metrics: accuracy, balanced accuracy, macro & weighted
    precision/recall/F1 (+F2, F0.5) from one per-class TP/FP/FN pass
    (func_aux/func_test.py:61-171). Zero-division → 0 (sklearn
    ``zero_division=0``)."""
    yt, yp = F.col(y_true), F.col(y_pred)
    # class universe = union of labels present in y_true and y_pred
    # (sklearn labels=None); zero-support classes contribute recall 0 to
    # the macro averages but are excluded from balanced accuracy.
    classes = df.select(yt.alias("c")).union(df.select(yp.alias("c"))).distinct()
    per_class = (
        classes.join(
            df.groupBy(yt.alias("c")).agg(
                F.count(F.lit(1)).alias("support"),
                F.sum((yp == yt).cast("long")).alias("tp"),
            ),
            "c",
            "left",
        )
        .join(
            df.groupBy(yp.alias("c")).agg(F.count(F.lit(1)).alias("pred_n")),
            "c",
            "left",
        )
        .select(
            "c",
            F.coalesce("support", F.lit(0)).alias("support"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("pred_n", F.lit(0)).alias("pred_n"),
        )
    )

    def safe_div(a, b):
        return F.when(b > 0, a / b).otherwise(F.lit(0.0))

    prec = safe_div(F.col("tp"), F.col("pred_n"))
    rec = safe_div(F.col("tp"), F.col("support"))

    def fbeta(beta: float):
        b2 = beta * beta
        denom = b2 * prec + rec
        return F.when(denom > 0, (1 + b2) * prec * rec / denom).otherwise(F.lit(0.0))

    enriched = per_class.select(
        "c",
        "support",
        "tp",
        prec.alias("prec"),
        rec.alias("rec"),
        fbeta(1.0).alias("f1"),
        fbeta(2.0).alias("f2"),
        fbeta(0.5).alias("f05"),
    )
    total = F.sum("support")
    return enriched.agg(
        (F.sum("tp") / total).alias("accuracy"),
        F.avg(F.when(F.col("support") > 0, F.col("rec"))).alias("balanced_accuracy"),
        F.avg("prec").alias("precision_macro"),
        F.avg("rec").alias("recall_macro"),
        F.avg("f1").alias("f1_macro"),
        F.avg("f2").alias("f2_macro"),
        F.avg("f05").alias("f0_5_macro"),
        (F.sum(F.col("prec") * F.col("support")) / total).alias("precision_weighted"),
        (F.sum(F.col("rec") * F.col("support")) / total).alias("recall_weighted"),
        (F.sum(F.col("f1") * F.col("support")) / total).alias("f1_weighted"),
    )


def _threshold_cum_counts(
    df: DataFrame, y_true: str, score: str, domain_bounds=None
) -> DataFrame:
    """Shared A13 core: one row per distinct score (descending-threshold
    order) with per-threshold counts (pos, neg, cnt), running totals
    (cum_pos, cum_neg, cum_cnt) and grand totals (tot_pos, tot_neg).

    ``domain_bounds``: a literal bucket-boundary grid the caller derives
    from CONSTRUCTION knowledge of the score domain (e.g. a 3-decimal
    rounding of a bounded ratio — the binary twin of
    ``ovr_auc_per_class``'s ``bounded_curves``). The scan then skips the
    driver-side quantile pre-pass, which the round-10 profile measured
    as ~0.3 s of the watch item's ~0.35 s constant on a 900-row
    domain-bounded frame (SCALE.md "A13 profile") — the grid literals
    give the same monotone bucketing with zero jobs. Leave None for
    continuous/unknown-domain scores, where equal-population quantile
    bounds are the only safe bucketing.

    Scale shape: with continuous double scores |distinct scores| ≈ |rows|,
    so the cumulative sums run through operators.scan.global_cumsum — the
    two-phase range-partitioned prefix sum — instead of a single-task
    unpartitioned window. Grand totals are a 1-row broadcast cross-join.

    Bucketing mode (flipped round 9, the staged r08 note): the
    lineage-free ``bounds`` mapping — the scan key is a high-cardinality
    double score (exactly the tie-skew-safe case), and the quantile-bound
    expression removes the localCheckpoint pin (no persisted copy, full
    lineage recovery). Measured trade (SCALE.md "A13 checkpoint cost"):
    ~+0.07 s per query locally (the driver-side quantile job), a
    constant; at scale the pinned alternative is a corpus-sized
    lineage-cut storage copy, which is the thing that cannot survive a
    100-TB run.
    """
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    per_score = df.groupBy(F.col(score).alias("threshold")).agg(
        F.sum((F.col(y_true) == 1).cast("long")).alias("pos"),
        F.sum((F.col(y_true) == 0).cast("long")).alias("neg"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # deliberately NO persist/checkpoint on per_score: the quantile pass
    # and the main job share the same exchange RDDs, so the agg's shuffle
    # stage computes once and later jobs skip it (shuffle-stage reuse) —
    # an explicit cache only added columnar-build overhead (paired A/B
    # round 9: persist 1.20 s median vs plain 0.91 s), and in bounds
    # mode every consumer is a deterministic expression, so nothing
    # needs a frozen copy for correctness. Grand totals ride on the
    # scan's own per-partition totals frame — no separate full
    # aggregation pass over per_score.
    return global_cumsum(
        per_score,
        ["threshold"],
        ["pos", "neg", "cnt"],
        descending=True,
        with_totals=True,
        bucketing="bounds",
        fixed_bounds=domain_bounds,
    )


def roc_points(
    df: DataFrame, y_true: str, score: str, domain_bounds=None
) -> DataFrame:
    """A13: ROC curve points at every distinct score threshold.

    Cumulative TP/FP over the descending-score order with ties grouped
    (each distinct score is one threshold, as in sklearn ``roc_curve``
    without intermediate dropping). Returns (threshold, cum_tp, cum_fp,
    fpr, tpr).
    """
    cum = _threshold_cum_counts(df, y_true, score, domain_bounds)
    # zero positives/negatives → null rates (sklearn emits NaN + warning)
    return cum.select(
        "threshold",
        F.col("cum_pos").alias("cum_tp"),
        F.col("cum_neg").alias("cum_fp"),
        F.when(F.col("tot_neg") > 0, F.col("cum_neg") / F.col("tot_neg")).alias("fpr"),
        F.when(F.col("tot_pos") > 0, F.col("cum_pos") / F.col("tot_pos")).alias("tpr"),
    )


def threshold_at_fpr(
    df: DataFrame,
    y_true: str,
    score: str,
    fpr_target: float,
    domain_bounds=None,
) -> DataFrame:
    """A13: largest-FPR point with fpr ≤ target (the reference's
    ``idx_candidates[-1]`` on the ascending-fpr curve,
    func_aux/func_test.py:252-269); fallback = nearest |fpr − target|.
    Tie-break on threshold ascending within equal fpr (the curve's last
    point at that fpr = highest tpr = lowest threshold)."""
    pts = roc_points(df, y_true, score, domain_bounds)
    is_candidate = (F.col("fpr") <= F.lit(fpr_target)).cast("int")
    rank_key = F.when(
        F.col("fpr") <= F.lit(fpr_target), -F.col("fpr")
    ).otherwise(F.abs(F.col("fpr") - F.lit(fpr_target)))
    return (
        pts.orderBy(is_candidate.desc(), rank_key.asc(), F.asc("threshold"))
        .limit(1)
        .select("threshold", "fpr", "tpr")
    )


def average_precision(
    df: DataFrame, y_true: str, score: str, domain_bounds=None
) -> DataFrame:
    """A13/PR: AP = Σ (recall_i − recall_{i−1}) · precision_i over
    descending thresholds (sklearn ``average_precision_score``).

    No lag window: over the descending-threshold cumulative curve,
    recall_i − recall_{i−1} = pos_i / tot_pos exactly (the previous
    cumulative is this row's cumulative minus this row's own count), so
    the whole integral is a plain aggregation over the scan output.
    """
    cum = _threshold_cum_counts(df, y_true, score, domain_bounds)
    # tot_pos=0 guard → null AP (sklearn NaN); cum_cnt ≥ 1 by construction
    d_recall = F.when(F.col("tot_pos") > 0, F.col("pos") / F.col("tot_pos"))
    precision = F.col("cum_pos") / F.col("cum_cnt")
    return cum.agg(F.sum(d_recall * precision).alias("average_precision"))


def roc_auc_trapezoid(
    df: DataFrame, y_true: str, score: str, domain_bounds=None
) -> DataFrame:
    """A13: ROC-AUC by trapezoid over the (fpr, tpr) curve with the (0,0)
    anchor — matches sklearn ``roc_auc_score`` (which integrates the same
    curve; collinear interior points don't change the integral).

    No lag window: walking thresholds descending, the previous curve point
    is (cum_fp − neg_i, cum_tp − pos_i) — each trapezoid is expressible
    from the current scan row alone (the first row's predecessor is the
    (0,0) anchor by construction).
    """
    cum = _threshold_cum_counts(df, y_true, score, domain_bounds)
    # degenerate single-class input → null AUC (ANSI-safe: the guarded
    # branch never evaluates the division, matching the old curve's nulls)
    ok = (F.col("tot_neg") > 0) & (F.col("tot_pos") > 0)
    fpr = F.col("cum_neg") / F.col("tot_neg")
    pfpr = (F.col("cum_neg") - F.col("neg")) / F.col("tot_neg")
    tpr = F.col("cum_pos") / F.col("tot_pos")
    ptpr = (F.col("cum_pos") - F.col("pos")) / F.col("tot_pos")
    area = F.sum(F.when(ok, (fpr - pfpr) * (tpr + ptpr) / F.lit(2.0)))
    return cum.agg(area.alias("roc_auc"))


def _ovr_per_score(
    df: DataFrame, class_col: str, y_true: str, score: str
) -> DataFrame:
    """Per-(class, distinct score) counts — the single shared input of the
    whole OVR AUC battery (macro AND micro sides re-group this frame, so
    the base data is scanned once)."""
    return df.groupBy(F.col(class_col), F.col(score).alias("threshold")).agg(
        F.sum((F.col(y_true) == 1).cast("long")).alias("pos"),
        F.sum((F.col(y_true) == 0).cast("long")).alias("neg"),
        F.count(F.lit(1)).alias("cnt"),
    )


def _auc_ap_aggs(ok) -> tuple:
    """Trapezoid ROC area + AP terms over a cumulative threshold scan
    (lag-free: the previous curve point is the current row minus its own
    counts; first row's predecessor is the (0,0) anchor)."""
    fpr = F.col("cum_neg") / F.col("tot_neg")
    pfpr = (F.col("cum_neg") - F.col("neg")) / F.col("tot_neg")
    tpr = F.col("cum_pos") / F.col("tot_pos")
    ptpr = (F.col("cum_pos") - F.col("pos")) / F.col("tot_pos")
    d_recall = F.when(F.col("tot_pos") > 0, F.col("pos") / F.col("tot_pos"))
    precision = F.col("cum_pos") / F.col("cum_cnt")
    area = F.sum(F.when(ok, (fpr - pfpr) * (tpr + ptpr) / F.lit(2.0)))
    ap = F.sum(d_recall * precision)
    return area, ap


def _per_class_auc(
    per_score: DataFrame, class_col: str, bounded_curves: bool = False
) -> DataFrame:
    """Grouped cumulative scan + per-class ROC-AUC / AP aggregation.

    Scale shape: operators.scan.grouped_cumsum range-partitions on
    (class, threshold), so even ONE class's full curve spreads across
    partitions — per-class OVR curves are embarrassingly parallel and no
    class is ever a single task (reference computes these with sklearn on
    a driver-sized array, func_aux/func_test.py:61-171)."""
    from cicevse2024_tfm_datapipeline_spark.operators.scan import grouped_cumsum

    cum = grouped_cumsum(
        per_score,
        [class_col],
        ["threshold"],
        ["pos", "neg", "cnt"],
        descending=True,
        with_totals=True,
        # bounded_curves: callers whose scores are rounded/discretized
        # cap each class curve at the threshold-domain size, so the
        # plain class-partitioned window is the right plan at any scale
        small_groups=bounded_curves,
        # unbounded curves take the lineage-free bounds scan (round 9):
        # the order key is a double score and the group key is class-like
        # (small) — exactly the case the bounds docstring blesses
        bucketing="bounds",
    )
    # zero-pos/neg classes → null AUC/AP (sklearn NaN + warning)
    ok = (F.col("tot_neg") > 0) & (F.col("tot_pos") > 0)
    area, ap = _auc_ap_aggs(ok)
    return cum.groupBy(class_col).agg(
        area.alias("roc_auc"), ap.alias("average_precision")
    )


def ovr_auc_per_class(
    df: DataFrame,
    class_col: str,
    y_true: str,
    score: str,
    bounded_curves: bool = False,
) -> DataFrame:
    """A11 one-vs-rest probability AUCs: per-class ROC-AUC (trapezoid)
    and average precision over a LONG frame of (class, indicator, score)
    rows — the distributed twin of the reference's per-class
    ``roc_auc_score`` / ``average_precision_score`` loop
    (func_aux/func_test.py:61-171, AUC block ~:120-171).

    Same lag-free trapezoid/AP arithmetic as the binary operators, summed
    per class — one grouped scan, one groupBy; classes evaluate in
    parallel."""
    return _per_class_auc(
        _ovr_per_score(df, class_col, y_true, score), class_col, bounded_curves
    )


def ovr_auc_summary(
    df: DataFrame,
    class_col: str,
    y_true: str,
    score: str,
    bounded_curves: bool = False,
    micro_domain_bounds=None,
) -> DataFrame:
    """A11 multiclass probability-AUC battery: macro ROC-AUC / PR-AUC
    (mean of per-class values) and micro ROC-AUC / PR-AUC (binary metrics
    over the flattened (class, indicator, score) frame) — the reference's
    ``average='macro'/'micro'`` variants (func_aux/func_test.py:120-171).

    One row out. Both sides derive from ONE per-(class, threshold) count
    frame, which is PINNED (lazy local checkpoint) before branching: the
    macro side's grouped scan and the micro side's threshold re-group
    each materialize through their own checkpointed subtree, so without
    the pin the base-data scan + first aggregation would execute twice —
    the dominant cost when the input is the full corpus. The pinned frame
    is small by construction (|classes| x |distinct rounded scores|).
    Round 9 note: a lineage-preserving persist was TRIED here instead
    (the bounds-mode consumers are all deterministic, so it would be
    correct) and measured ~1 s SLOWER in the paired A/B (persist 2.41 s
    median vs checkpoint 1.23 s) — the columnar cache build costs more
    than it saves when shuffle-stage reuse already dedupes the agg; the
    tiny-frame checkpoint stays."""
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    per_score = _ovr_per_score(df, class_col, y_true, score).localCheckpoint(
        eager=False
    )
    macro = _per_class_auc(per_score, class_col, bounded_curves).agg(
        F.avg("roc_auc").alias("roc_auc_macro"),
        F.avg("average_precision").alias("pr_auc_macro"),
    )
    mper = per_score.groupBy("threshold").agg(
        F.sum("pos").alias("pos"),
        F.sum("neg").alias("neg"),
        F.sum("cnt").alias("cnt"),
    )
    # micro_domain_bounds (round 10): when the caller knows the score
    # DOMAIN by construction (same knowledge bounded_curves asserts for
    # the macro side), literal grid bounds replace the micro scan's
    # quantile pre-pass — the measured ~0.3 s flat driver job that a
    # domain-bounded per-threshold frame never needs (SCALE.md "A13
    # profile"); None keeps the quantile-bound lineage-free scan
    mcum = global_cumsum(
        mper,
        ["threshold"],
        ["pos", "neg", "cnt"],
        descending=True,
        with_totals=True,
        bucketing="bounds",
        fixed_bounds=micro_domain_bounds,
    )
    ok = (F.col("tot_neg") > 0) & (F.col("tot_pos") > 0)
    area, ap = _auc_ap_aggs(ok)
    micro = mcum.agg(area.alias("roc_auc_micro"), ap.alias("pr_auc_micro"))
    return macro.crossJoin(F.broadcast(micro))


def weighted_log_loss(df: DataFrame, weight: str, p_true: str) -> DataFrame:
    """A9: sum(w · −log(clip(p))) / sum(w)
    (pipelines_host/pipeline_host_importance.py:128-151; clip at 1e-7)."""
    p = F.least(F.greatest(F.col(p_true), F.lit(1e-7)), F.lit(1.0 - 1e-7))
    return df.agg(
        (F.sum(F.col(weight) * -F.log(p)) / F.sum(F.col(weight))).alias("weighted_log_loss")
    )


def mean_std_over_runs(df: DataFrame, key_cols: list[str], value: str) -> DataFrame:
    """A8: nanmean + nanstd(ddof=1) per key; single-run groups get std 0.0
    (func_aux/func_test.py:513-527 guards len>1)."""
    return df.groupBy(*key_cols).agg(
        F.avg(value).alias(f"{value}_mean"),
        F.when(F.count(value) > 1, F.coalesce(F.stddev_samp(value), F.lit(0.0)))
        .otherwise(F.lit(0.0))
        .alias(f"{value}_std"),
    )


# --- A14: exact Clopper-Pearson CI (scalar numerics) --------------------


def clopper_pearson_ci(k: int, n: int, alpha: float = 0.05) -> tuple[float, float]:
    """Exact binomial CI (func_aux/func_test.py:179-193). Uses scipy's
    beta.ppf when present; otherwise bisects the exact log-space binomial
    CDF (the bounds' defining equations — no incomplete-beta needed):

        lower: P(Bin(n, p) ≥ k) = α/2   ⇔  P(X ≤ k−1) = 1 − α/2
        upper: P(Bin(n, p) ≤ k) = α/2

    Only min(k, n−k)+1 pmf terms per evaluation (k = FP count, small).
    """
    if n == 0:
        return float("nan"), float("nan")
    try:
        from scipy.stats import beta  # type: ignore

        lo = 0.0 if k == 0 else float(beta.ppf(alpha / 2, k, n - k + 1))
        hi = 1.0 if k == n else float(beta.ppf(1 - alpha / 2, k + 1, n - k))
        return lo, hi
    except ImportError:
        pass

    import math

    def log_binom_cdf(j_max: int, p: float) -> float:
        """log P(Bin(n, p) ≤ j_max), exact log-space sum."""
        if p <= 0.0:
            return 0.0
        if p >= 1.0:
            return 0.0 if j_max >= n else -math.inf
        terms = []
        for j in range(j_max + 1):
            terms.append(
                math.lgamma(n + 1)
                - math.lgamma(j + 1)
                - math.lgamma(n - j + 1)
                + j * math.log(p)
                + (n - j) * math.log1p(-p)
            )
        m = max(terms)
        return m + math.log(sum(math.exp(t - m) for t in terms))

    def solve(j_max: int, target_log: float) -> float:
        # P(X ≤ j_max) is DECREASING in p; find p with log CDF = target
        lo_p, hi_p = 0.0, 1.0
        for _ in range(100):
            mid = (lo_p + hi_p) / 2
            if log_binom_cdf(j_max, mid) > target_log:
                lo_p = mid
            else:
                hi_p = mid
        return (lo_p + hi_p) / 2

    lo = 0.0 if k == 0 else solve(k - 1, math.log(1 - alpha / 2))
    hi = 1.0 if k == n else solve(k, math.log(alpha / 2))
    return lo, hi
