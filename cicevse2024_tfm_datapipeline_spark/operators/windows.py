"""W3/W4/W5: sliding-window featurization + train-only standardization
(SURVEY §2.6).

Reference semantics (func_aux/func_preproc.py:206-247): within each split,
windows of ``seq_len`` rows with hop ``step`` slide over the (scaled)
feature matrix; window ``k`` covers rows ``[k*step, k*step + seq_len)`` and
takes the LAST row's label / episode id. Features are standardized with a
StandardScaler fit on TRAIN ONLY (population std, ddof=0 —
func_preproc.py:391-392).

Spark-first shape:
- W5 standardization = one small agg on the train split (avg + stddev_pop
  per feature) broadcast back as literal arithmetic — no shuffle of the
  big table, stays in whole-stage codegen.
- W3 windows = trailing row frames ``rowsBetween(-(L-1), 0)`` over
  ``partitionBy(group).orderBy(ts, tiebreak)``; a row is a window END iff
  ``rn >= L`` and ``(rn - L) % step == 0``. The label/episode at the frame
  end is just the current row's value (W4) — no extra pass.

Scale note (SURVEY §7.4 risk 2): the reference windows one global series;
a single unpartitioned ``Window.orderBy`` would serialize 100 TB through
one task. The engine therefore always windows within group keys
(attack/state/split — matching reference semantics, which builds windows
per split anyway), so the shuffle is by group and parallel. For very long
single groups, ``windows_via_pandas`` does the same per contiguous chunk
with Arrow batches.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def fit_standardizer(train: DataFrame, features: Sequence[str]) -> dict[str, tuple[float, float]]:
    """W5: mean/population-std per feature from the TRAIN split only.

    Returns driver-side scalars (one tiny agg job); apply with
    :func:`apply_standardizer`. sklearn's StandardScaler uses ddof=0 →
    ``stddev_pop``.
    """
    aggs = []
    for c in features:
        aggs.append(F.avg(c).alias(f"{c}__mu"))
        aggs.append(F.stddev_pop(c).alias(f"{c}__sigma"))
    row = train.agg(*aggs).collect()[0]
    out: dict[str, tuple[float, float]] = {}
    for c in features:
        mu = row[f"{c}__mu"]
        sigma = row[f"{c}__sigma"]
        # sklearn maps zero variance → scale 1.0 so constant cols pass through
        if sigma is None or sigma == 0.0:
            sigma = 1.0
        out[c] = (float(mu if mu is not None else 0.0), float(sigma))
    return out


def apply_standardizer(df: DataFrame, stats: dict[str, tuple[float, float]]) -> DataFrame:
    """(c - mu) / sigma as literal arithmetic — codegen'd, no UDF."""
    cols = []
    for c in df.columns:
        if c in stats:
            mu, sigma = stats[c]
            cols.append(((F.col(c) - F.lit(mu)) / F.lit(sigma)).alias(c))
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def standardize_via_join(
    df: DataFrame, features: Sequence[str], train_predicate: Column
) -> DataFrame:
    """W5 as ONE lazy plan: broadcast cross-join of the train-split
    aggregate instead of a driver round-trip.

    Both subtrees (stats and apply) hang off the same upstream plan, so
    Spark reuses the split's shuffle (ReusedExchange) rather than
    recomputing it — one pass over the data plus a KB-sized broadcast.
    Semantics match :func:`fit_standardizer`/:func:`apply_standardizer`
    (population std; zero/NULL variance → scale 1.0, NULL mean → 0.0).
    """
    aggs = []
    for c in features:
        aggs.append(F.coalesce(F.avg(c), F.lit(0.0)).alias(f"__mu_{c}"))
        aggs.append(
            F.coalesce(F.nullif(F.stddev_pop(c), F.lit(0.0)), F.lit(1.0)).alias(
                f"__sigma_{c}"
            )
        )
    stats = df.filter(train_predicate).agg(*aggs)
    joined = df.crossJoin(F.broadcast(stats))
    cols = []
    for c in df.columns:
        if c in features:
            cols.append(
                ((F.col(c) - F.col(f"__mu_{c}")) / F.col(f"__sigma_{c}")).alias(c)
            )
        else:
            cols.append(F.col(c))
    return joined.select(*cols)


def sliding_windows(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    features: Sequence[str],
    seq_len: int,
    step: int = 1,
    label_col: str | None = None,
) -> DataFrame:
    """W3+W4: one row per window.

    Output: group cols, ``window_id`` (0-based, reference's ``start/step``),
    per-feature ``<f>_seq`` arrays (ordered oldest→newest), plus the
    window-end label column.
    """
    order_win = W.partitionBy(*group_cols).orderBy(F.col(time_col).asc(), F.col(tiebreak_col).asc())
    frame = order_win.rowsBetween(-(seq_len - 1), 0)

    out = df.withColumn("__rn", F.row_number().over(order_win))
    cols: list[Column] = [F.col(c) for c in group_cols]
    cols.append((((F.col("__rn") - F.lit(seq_len)) / F.lit(step)).cast("long")).alias("window_id"))
    for f in features:
        out = out.withColumn(f"{f}_seq", F.collect_list(F.col(f)).over(frame))
        cols.append(F.col(f"{f}_seq"))
    if label_col is not None:
        cols.append(F.col(label_col).alias("window_label"))
    is_end = (F.col("__rn") >= F.lit(seq_len)) & (
        ((F.col("__rn") - F.lit(seq_len)) % F.lit(step)) == 0
    )
    return out.filter(is_end).select(*cols)


def window_summary_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    features: Sequence[str],
    seq_len: int,
    step: int = 1,
    label_col: str | None = None,
) -> DataFrame:
    """A6 over W3 framing: per-window mean/std/min/max per feature — the
    surrogate-model tabular featurization (func_aux/func_models.py:351-391;
    NumPy ``std`` there is population std → ``stddev_pop``).

    Computed directly with frame aggregates — never materializes the
    window arrays, so row width stays O(features), not O(features·seq_len).
    """
    order_win = W.partitionBy(*group_cols).orderBy(F.col(time_col).asc(), F.col(tiebreak_col).asc())
    frame = order_win.rowsBetween(-(seq_len - 1), 0)

    out = df.withColumn("__rn", F.row_number().over(order_win))
    cols: list[Column] = [F.col(c) for c in group_cols]
    cols.append((((F.col("__rn") - F.lit(seq_len)) / F.lit(step)).cast("long")).alias("window_id"))
    for f in features:
        out = (
            out.withColumn(f"{f}_mean", F.avg(F.col(f)).over(frame))
            .withColumn(f"{f}_std", F.stddev_pop(F.col(f)).over(frame))
            .withColumn(f"{f}_min", F.min(F.col(f)).over(frame))
            .withColumn(f"{f}_max", F.max(F.col(f)).over(frame))
        )
        cols += [F.col(f"{f}_{s}") for s in ("mean", "std", "min", "max")]
    if label_col is not None:
        cols.append(F.col(label_col).alias("window_label"))
    is_end = (F.col("__rn") >= F.lit(seq_len)) & (
        ((F.col("__rn") - F.lit(seq_len)) % F.lit(step)) == 0
    )
    return out.filter(is_end).select(*cols)


def windows_via_pandas(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    features: Sequence[str],
    seq_len: int,
    step: int = 1,
    label_col: str | None = None,
) -> DataFrame:
    """W3 fallback via applyInPandas: per-group contiguous windowing with
    NumPy stride tricks. Same output contract as :func:`sliding_windows`
    (arrays per feature). Preferred when seq_len is large enough that
    ``collect_list`` frame re-evaluation dominates — measured crossover at
    seq_len ≈ 100 for ~70 channels (SCALE.md "W3 tensor-path probe");
    below that the JVM variant wins at every data size.

    Scale caveat: applyInPandas materializes each GROUP as one pandas
    frame in executor memory. Use only where groups are bounded by
    construction (the reference's per-(attack, state, split) series are);
    for unbounded groups pre-split the key (e.g. add a coarse time bucket
    with seq_len-1 rows of overlap) or stay on :func:`sliding_windows`,
    whose window frames stream through the JVM without per-group
    materialization.
    """
    import numpy as np
    import pandas as pd

    feat = list(features)
    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_fields = [f"{c} {in_types[c]}" for c in group_cols]
    out_fields.append("window_id long")
    out_fields += [f"{f}_seq array<double>" for f in feat]
    if label_col is not None:
        # same contract as sliding_windows: the label keeps its input type
        out_fields.append(f"window_label {in_types[label_col]}")
    schema = ", ".join(out_fields)

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([time_col, tiebreak_col], kind="mergesort")
        n = len(pdf)
        if n < seq_len:
            # object dtype, not the default float64: Arrow cannot convert
            # an empty float64 ndarray to list<double>, so a short group
            # (n < seq_len) would crash the whole job otherwise
            return pd.DataFrame(
                {f.split(" ")[0]: pd.Series([], dtype=object) for f in out_fields}
            )
        starts = np.arange(0, n - seq_len + 1, step)
        data: dict[str, object] = {c: pdf[c].iloc[0] for c in group_cols}
        rows = {c: [data[c]] * len(starts) for c in group_cols}
        rows["window_id"] = list(range(len(starts)))
        for f in feat:
            vals = pdf[f].to_numpy(dtype=float)
            rows[f"{f}_seq"] = [vals[s : s + seq_len].tolist() for s in starts]
        if label_col is not None:
            lab = pdf[label_col].to_numpy()
            rows["window_label"] = [lab[s + seq_len - 1] for s in starts]
        return pd.DataFrame(rows)

    return df.groupBy(*group_cols).applyInPandas(per_group, schema=schema)


def ewma_truncated(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    alpha: float,
    max_terms: int = 32,
) -> DataFrame:
    """Per-key exponentially-weighted moving average (column ``ewma``),
    truncated to the last ``max_terms`` observations (pandas
    ``ewm(adjust=False)`` semantics while the history fits the window;
    after that the oldest
    retained term carries the full head weight, so the truncation error
    is bounded by ``(1-alpha)^(max_terms-1)`` of the dropped mass —
    ~1e-5 at alpha 0.3, K 32).

    Recursive smoothing resists distribution; this closed form does not:
    a trailing ``collect_list`` frame (bounded at K values, so state per
    row is K doubles, never the key's history) and one sequential
    weighted fold — both engine-portable, so the whole smoother is
    SQL-oracle-checkable. One shuffle by key; ``order_cols`` must be a
    deterministic total order per key (include a tiebreak) or the frame
    contents are ambiguous."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    w = (
        W.partitionBy(*[F.col(c) for c in key_cols])
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(max_terms - 1), 0)
    )
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    # 0-based i over oldest→newest: head term carries (1-a)^(n-1); the
    # rest a*(1-a)^(n-1-i). Sequential fold → identical doubles anywhere.
    a = float(alpha)
    weighted = (
        f"transform(__ewma_arr, (x, i) -> CASE WHEN i = 0 "
        f"THEN x * power({1.0 - a!r}, size(__ewma_arr) - 1) "
        f"ELSE x * {a!r} * power({1.0 - a!r}, size(__ewma_arr) - 1 - i) END)"
    )
    fold = f"aggregate({weighted}, cast(0.0 as double), (acc, x) -> acc + x)"
    return (
        df.withColumn("__ewma_arr", arr)
        .withColumn("ewma", F.expr(fold))
        .drop("__ewma_arr")
    )
