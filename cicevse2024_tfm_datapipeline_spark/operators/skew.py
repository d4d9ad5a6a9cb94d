"""Skew mitigation utilities — the 100 TB operational layer (SCALE.md).

AQE's skew-join splitting covers sort-merge joins automatically; these
helpers cover the cases AQE doesn't: skewed AGGREGATIONS (one hot group
key) and skewed joins where the hot side must be salted explicitly.

Pattern: salted two-phase aggregation —
  phase 1: groupBy(key, salt) partial aggregate  (hot key spread over S
           partitions)
  phase 2: groupBy(key) combine partials          (S rows per key, tiny)
Algebraic aggregates (sum/count/min/max → and anything derivable: avg,
stddev via (n, Σx, Σx²)) compose exactly across phases.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: memo for ensure_min_parallelism keyed on the INPUT PLAN OBJECT's
#: identity (r12, guide §5 — driver-side build cost): the partition-count
#: probe costs a full physical-planning pass (`df.rdd`) per call, and the
#: decision is a pure function of the plan, so the same DataFrame object
#: (the readers plan cache returns shared scan objects) never pays it
#: twice. Values hold (input, result) — keeping the input alive pins its
#: id() so keys cannot alias; entries are plan objects only, no data.
_EMP_MEMO: dict[int, tuple[DataFrame, DataFrame]] = {}
_EMP_MEMO_MAX = 256


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Fan out before expensive per-row compute when the scan yields fewer
    splits than cores (a single small parquet row-group = ONE task, which
    serializes the whole projection). On a cluster a 100-TB input already
    scans as many splits and this is a no-op; the round-robin shuffle moves
    only the raw rows once and buys full-width CPU — measured 4× on the
    sf0.1 single-file documents table."""
    if df.isStreaming:
        # partition count is a micro-batch property; .rdd is illegal on a
        # streaming frame — the source's maxFilesPerTrigger/cluster conf
        # governs parallelism there
        return df
    hit = _EMP_MEMO.get(id(df))
    if hit is not None and hit[0] is df:
        return hit[1]
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    out = df.repartition(target) if df.rdd.getNumPartitions() < target else df
    if len(_EMP_MEMO) >= _EMP_MEMO_MAX:
        # evict the oldest entry (dicts keep insertion order)
        del _EMP_MEMO[next(iter(_EMP_MEMO))]
    _EMP_MEMO[id(df)] = (df, out)
    return out


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Uniform random salt ``__salt`` in 0..n_salts-1 (non-deterministic is
    fine: the salt only routes rows; results are salt-invariant)."""
    return df.withColumn("__salt", (F.rand() * n_salts).cast("int"))


def salted_sum_count(
    df: DataFrame, keys: Sequence[str], value: str, n_salts: int = 16
) -> DataFrame:
    """Skew-proof sum/count/avg per key via two-phase salted aggregation."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "__salt").agg(
        F.sum(value).alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    return partial.groupBy(*keys).agg(
        F.sum("__s").alias(f"{value}_sum"),
        F.sum("__n").alias("n_rows"),
        (F.sum("__s") / F.sum("__n")).alias(f"{value}_avg"),
    )


def salted_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "left",
) -> DataFrame:
    """Skewed fact ⋈ small dim: replicate the dim across salts and join on
    (key, salt) so one hot key spreads over ``n_salts`` tasks. With a
    broadcastable dim this is belt-and-braces (broadcast alone avoids the
    shuffle); the same pattern applies to shuffle joins with an exploded
    dim when the dim is too big to broadcast."""
    salted_fact = with_salt(fact, n_salts)
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_fact.join(F.broadcast(salted_dim), [key, "__salt"], how).drop("__salt")
