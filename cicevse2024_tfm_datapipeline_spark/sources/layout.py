"""Z-order (Morton-curve) file layout — multi-column data skipping.

Partition pruning (sources/readers, s9) and bucketing (sources/bucketing)
skip data on ONE key. When queries filter on several columns at once
(user AND time, quality AND length), sorting the files by any single
column leaves the others scattered across every file. Interleaving the
bits of the filter columns into one Morton z-value and range-sorting the
write on it clusters rows so every file covers a small HYPER-RECTANGLE of
the filter space: parquet min/max footer stats then prune files for box
predicates on ANY of the interleaved columns — the standard layout lever
behind Delta/Iceberg OPTIMIZE ZORDER, built here from plain Spark
primitives (no table format required).

Scale shape: one 1-row min/max aggregate (broadcast), one per-row bit
interleave (pure codegen arithmetic), one range exchange on the z-value.
The z-value is a deterministic function of the data and the published
normalization bounds, so layouts are reproducible and the cell arithmetic
is SQL-oracle-checkable on any engine with integer bit ops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "minmax_scaled_ints",
    "zvalue_expr",
    "with_zvalue",
    "write_zordered",
    "parquet_file_ranges",
    "files_overlapping_box",
]


def zvalue_expr(int_cols: Sequence[Column], bits: int) -> Column:
    """Interleave ``bits`` low bits of each already-scaled integer column
    into one Morton z-value: output bit ``b·n + i`` = bit ``b`` of column
    ``i``. Disjoint target bits → plain shift/mask/or chain, fully inside
    whole-stage codegen; ``n·bits`` must fit a long (≤ 63)."""
    n = len(int_cols)
    if n * bits > 63:
        raise ValueError(f"z-value needs {n * bits} bits; max 63")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(int_cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def column_bounds(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple[float, float]]:
    """Global (min, max) per column — ONE 1-row aggregate, fetched to the
    driver. This is the standard two-phase layout build (stats job, then
    layout job) every OPTIMIZE ZORDER implementation runs; inlining the
    bounds as literals keeps the scaling a pure foldable projection, so
    the range-partitioner's sampling pass and the write pass don't each
    re-evaluate a stats subplan."""
    row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__mx_{c}") for c in cols],
    ).collect()[0]
    return {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in cols}


def minmax_scaled_ints(
    df: DataFrame,
    cols: Sequence[str],
    bits: int,
) -> tuple[DataFrame, list[str]]:
    """Scale each column to an integer in ``[0, 2^bits)`` by global
    min/max: ``least(2^bits − 1, floor(((x − mn) / (mx − mn)) · 2^bits))``
    (exactly this operation order — the oracle mirrors it). Constant
    columns and nulls map to 0. Bounds come from :func:`column_bounds`
    and are inlined as literals — the
    scaling is per-row codegen arithmetic with no stats subplan. Adds
    ``__zi_<col>`` columns."""
    scale = (1 << bits) - 1
    bounds = column_bounds(df, cols)
    out = df
    names = []
    for c in cols:
        mn_v, mx_v = bounds[c]
        mn = F.lit(None).cast("double") if mn_v is None else F.lit(float(mn_v))
        mx = F.lit(None).cast("double") if mx_v is None else F.lit(float(mx_v))
        frac = (F.col(c).cast("double") - mn) / (mx - mn)
        scaled = F.least(F.lit(scale).cast("long"), F.floor(frac * F.lit(float(scale + 1))).cast("long"))
        names.append(f"__zi_{c}")
        out = out.withColumn(f"__zi_{c}", F.coalesce(scaled, F.lit(0).cast("long")))
    return out, names


def with_zvalue(df: DataFrame, cols: Sequence[str], bits: int = 8) -> DataFrame:
    """Add ``__z``: the Morton value of ``cols`` after min/max scaling to
    ``bits`` bits per column."""
    scaled, names = minmax_scaled_ints(df, cols, bits)
    z = zvalue_expr([F.col(n) for n in names], bits)
    return scaled.withColumn("__z", z).drop(*names)


def write_zordered(
    df: DataFrame,
    cols: Sequence[str],
    path: str,
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """Write ``df`` as parquet laid out along the z-curve of ``cols``:
    range-repartition on ``__z`` (contiguous curve segments per file) and
    sort within partitions so row-group stats are tight too."""
    (
        with_zvalue(df, cols, bits)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def parquet_file_ranges(path: str, cols: Sequence[str]) -> list[dict]:
    """Per-file [min, max] of each column from parquet footer statistics —
    what a pruning scanner consults. Driver-side metadata read (footers
    only, never data)."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        rec: dict = {"file": name}
        for c in cols:
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            rec[c] = (min(mins), max(maxs)) if mins else None
        out.append(rec)
    return out


def files_overlapping_box(
    ranges: list[dict], box: dict[str, tuple]
) -> int:
    """How many files a min/max-pruning scan must read for a box
    predicate ``{col: (lo, hi)}`` — the skipping metric the layout is
    judged on (fewer = better)."""
    n = 0
    for rec in ranges:
        hit = True
        for c, (lo, hi) in box.items():
            r = rec.get(c)
            if r is not None and (r[1] < lo or r[0] > hi):
                hit = False
                break
        n += 1 if hit else 0
    return n
