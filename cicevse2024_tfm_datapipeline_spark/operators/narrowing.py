"""P6/P7/P8: data-dependent schema narrowing (SURVEY §2.2).

Reference: per-column nunique loop (func_aux/func_preproc.py:570-579) and
null-ratio loop (pipeline_trainingmodels_network.py:390-410) — O(cols)
passes in pandas. Here it is ONE aggregation job over all columns
(SURVEY §7.4 risk 7): every countDistinct + null-fraction computed in a
single shuffle-free scan; the decision is driver-side on a 1-row result.
At 100 TB approx_count_distinct could replace countDistinct — constant
detection only needs "is it > 1", which it answers exactly as reliably.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_profile(df: DataFrame, cols: Sequence[str] | None = None) -> dict[str, dict]:
    """{col: {n_distinct, null_frac}} from one scan."""
    cols = list(cols or df.columns)
    aggs = []
    for c in cols:
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__nd"))
        aggs.append(F.avg(F.col(c).isNull().cast("double")).alias(f"{c}__nf"))
        aggs.append(F.count(F.lit(1)).alias(f"{c}__n"))
    row = df.agg(*aggs).collect()[0]
    out: dict[str, dict] = {}
    for c in cols:
        # nunique(dropna=False): count nulls as one extra distinct value
        has_null = (row[f"{c}__nf"] or 0.0) > 0.0
        out[c] = {
            "n_distinct": int(row[f"{c}__nd"]) + (1 if has_null else 0),
            "null_frac": float(row[f"{c}__nf"] or 0.0),
        }
    return out


def drop_constant_columns(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """P7: drop columns with nunique(dropna=False) <= 1."""
    profile = column_profile(df, cols)
    drop = [c for c, p in profile.items() if p["n_distinct"] <= 1]
    return df.drop(*drop)


def drop_high_null_columns(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """P6: drop columns with null ratio > threshold."""
    profile = column_profile(df)
    drop = [c for c, p in profile.items() if p["null_frac"] > threshold]
    return df.drop(*drop)


#: P8: leak-prone column blocklist (IDs / addresses / times / label-derived)
DEFAULT_BLOCKLIST_PATTERNS = (
    "id",
    "src_ip",
    "dst_ip",
    "src_mac",
    "dst_mac",
    "src_port",
    "dst_port",
    "first_seen",
    "last_seen",
    "time",
    "timestamp_raw",
)


def drop_blocklisted(df: DataFrame) -> DataFrame:
    drop = [c for c in df.columns if any(p in c.lower() for p in DEFAULT_BLOCKLIST_PATTERNS)]
    return df.drop(*drop)
