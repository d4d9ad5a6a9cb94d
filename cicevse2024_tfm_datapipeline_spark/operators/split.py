"""W1/W2: per-group chronological train/val/test split (SURVEY §2.6).

Reference semantics (func_aux/func_preproc.py:154-203): for each
(Attack, State) group, sort by time, take the first ``int(train_frac*n)``
rows as train, the next ``int(val_frac*n)`` as val, the rest as test, with
a small-group guard when ``n_train + n_val >= n``:

    n_train = max(1, n_train)
    n_val   = max(0, min(n - n_train - 1, n_val))

Spark-first shape: one window pass — ``row_number`` + ``count`` over
``partitionBy(groups).orderBy(time, tiebreak)`` and a CASE on floor-of-count
arithmetic. No iteration over groups, no concat: the split of ALL groups is
a single shuffle by the group key, which scales linearly with data and is
skew-tolerant under AQE. ``percent_rank`` would NOT reproduce the ``int()``
truncation on small groups, so we use explicit floor arithmetic.

The tiebreak column matters: pandas ``sort_values`` is stable on file
order, so equal timestamps keep input order. A distributed engine must pin
that with an explicit unique key (e.g. the row id) to stay deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def split_size_exprs(n: Column, train_frac: float, val_frac: float) -> tuple[Column, Column]:
    """Train/val row counts for a group of size ``n`` (guard included)."""
    n_train0 = F.floor(F.lit(train_frac) * n)
    n_val0 = F.floor(F.lit(val_frac) * n)
    guard = (n_train0 + n_val0) >= n
    n_train = F.when(guard, F.greatest(F.lit(1), n_train0)).otherwise(n_train0)
    n_val = F.when(
        guard, F.greatest(F.lit(0), F.least(n - n_train - F.lit(1), n_val0))
    ).otherwise(n_val0)
    return n_train, n_val


def chrono_split(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    train_frac: float = 0.7,
    val_frac: float = 0.15,
) -> DataFrame:
    """Tag every row with its chronological split (W1 + W2 fused).

    Returns the input plus a ``split`` column ∈ {train, val, test}. Rows
    with a null group key are dropped (reference dropna at :163).
    """
    df = df.na.drop(subset=list(group_cols))
    order = [F.col(time_col).asc(), F.col(tiebreak_col).asc()]
    win = W.partitionBy(*group_cols).orderBy(*order)
    cnt = W.partitionBy(*group_cols)
    rn = F.row_number().over(win)
    n = F.count(F.lit(1)).over(cnt)
    n_train, n_val = split_size_exprs(n, train_frac, val_frac)
    split = (
        F.when(rn <= n_train, F.lit("train"))
        .when(rn <= n_train + n_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)
