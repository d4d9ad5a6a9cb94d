"""R1-R5: seeded randomized degradation operators (SURVEY §2.8).

Reference semantics (func_aux/func_test.py:548-574, degrade_sequences):
given windows X (n, T, F) and a severity,
  packet_loss        — zero all features at Bernoulli(severity) timesteps
  missing_variables  — zero Bernoulli(severity) features at all timesteps
  clock_offset       — circular roll by uniform ±int(severity·T) steps
  drift              — add t/(T−1) · N(0, severity) per-feature ramps
R5 (pipeline_host_importance.py:154-221) — permute ONE feature's values
globally across all windows/timesteps (breaks label alignment).

Spark shape: windows live as rows with array<array<double>> feature
matrices; degradations are seeded ``mapInPandas`` — Arrow-batched NumPy,
the sanctioned Python edge for bitwise-reproducible randomness (SURVEY
§4: Catalyst can't seed numpy). Seeding is per-row from (seed, window
id) with ``np.random.default_rng`` so the result is independent of
partitioning and row order — the distributed-determinism requirement the
reference never had to face.

R5 at scale is a pure-DataFrame shuffle-join: rank rows by rand(seed),
rank a copy of the values by a second rand, join on rank — no driver
materialization.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KINDS = ("packet_loss", "missing_variables", "clock_offset", "drift")


def _rng_for(seed: int, window_id: int) -> np.random.Generator:
    return np.random.default_rng((seed, int(window_id)))


def _degrade_matrix(
    x: np.ndarray, severity: float, kind: str, rng: np.random.Generator
) -> np.ndarray:
    T, n_feat = x.shape
    if severity <= 0:
        return x
    if kind == "packet_loss":
        mask = rng.random(T) < severity
        x = x.copy()
        x[mask, :] = 0.0
    elif kind == "missing_variables":
        mask = rng.random(n_feat) < severity
        x = x.copy()
        x[:, mask] = 0.0
    elif kind == "clock_offset":
        max_shift = int(severity * T)
        if max_shift > 0:
            shift = int(rng.integers(-max_shift, max_shift + 1))
            x = np.roll(x, shift=shift, axis=0)
    elif kind == "drift":
        coef = rng.normal(0.0, severity, size=(n_feat,))
        ramp = np.linspace(0.0, 1.0, T)[:, None] * coef[None, :]
        x = x + ramp
    else:
        raise ValueError(f"unknown degradation kind: {kind}")
    return x


def degrade_windows(
    df: DataFrame,
    matrix_col: str,
    window_id_col: str,
    severity: float,
    kind: str,
    seed: int,
) -> DataFrame:
    """Apply one degradation to every window row. ``matrix_col`` is
    array<array<double>> (T × F). Seeded per (seed, window_id): stable
    under repartitioning and re-ordering."""
    if kind not in KINDS:
        raise ValueError(f"kind must be one of {KINDS}")
    schema = df.schema

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            degraded = []
            append = degraded.append
            for wid, mat in zip(pdf[window_id_col], pdf[matrix_col]):
                if not len(mat):
                    # np.stack raises on zero rows; an empty window
                    # degrades to an empty window
                    append([])
                    continue
                # np.stack / ndarray.tolist are the single-call forms of
                # the former per-row list comprehensions — identical
                # values (r12; the per-window seeded Generator stream is
                # the determinism contract and stays per-row)
                x = np.stack(mat).astype(np.float64, copy=False)
                rng = _rng_for(seed, wid)
                y = _degrade_matrix(x, severity, kind, rng)
                append(y.tolist())
            out[matrix_col] = degraded
            yield out

    return df.mapInPandas(batches, schema=schema)


def severity_sweep(
    df: DataFrame,
    matrix_col: str,
    window_id_col: str,
    kinds: tuple[str, ...],
    severities: tuple[float, ...],
    n_repeats: int,
    base_seed: int,
) -> Iterator[tuple[str, float, int, DataFrame]]:
    """R6: the severity-sweep harness — lazy plan per (kind, severity,
    repeat) with the reference's seed derivation base+1000·i+r
    (pipeline_tests_power.py:296-297). Driver-side loop over lazy plans;
    evaluation composes with the metric queries."""
    for kind in kinds:
        for i, sev in enumerate(severities):
            for r in range(n_repeats):
                seed = base_seed + 1000 * i + r
                yield kind, sev, r, degrade_windows(
                    df, matrix_col, window_id_col, sev, kind, seed
                )


def permute_feature_globally(
    df: DataFrame, value_col: str, seed: int, order_tiebreak: str
) -> DataFrame:
    """R5: global permutation of one column's values — breaks row↔value
    alignment everywhere. Pure DataFrame: rank rows by seeded rand, rank
    a projected copy of the values by an independent seeded rand, join on
    rank. The ranks come from the two-phase scan (operators.scan), not an
    unpartitioned row_number window, so both rankings parallelize at any
    scale; no driver materialization."""
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_row_number

    rows = global_row_number(
        df.withColumn("__k", F.rand(seed)), ["__k", order_tiebreak], "__slot"
    ).drop("__k")
    vals = global_row_number(
        df.select(F.col(value_col).alias("__pv"), order_tiebreak).withColumn(
            "__k", F.rand(seed + 1)
        ),
        ["__k", order_tiebreak],
        "__slot",
    ).select("__slot", "__pv")
    return (
        rows.join(vals, "__slot")
        .drop("__slot")
        .withColumn(value_col, F.col("__pv"))
        .drop("__pv")
    )


def permute_feature_hash(
    df: DataFrame,
    value_col: str,
    id_col: str,
    seed: int,
    id_bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """R5 hash twin: global permutation of one column keyed by
    md5(seed|id) instead of seeded ``rand()`` — the permutation is a pure
    function of row identity, so it is partition/order-independent AND
    fully SQL-oracle-checkable (seeded rand() is neither: its draw order
    depends on the physical partitioning).

    Slot pairing: row side ranked by ``id_col``, value side ranked by
    (md5 key, id); the join on the dense slot rank re-aligns each row
    with a value drawn from a uniformly-shuffled order. Both ranks come
    from the two-phase scan (operators.scan.global_row_number) — no
    unpartitioned window; the slot join is a uniform unique-key
    equi-join."""
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_row_number

    key = F.md5(
        F.concat_ws("|", F.lit(str(int(seed))), F.col("__vid").cast("string"))
    )
    # r12 (guide §2.4 / §5): both rank sides flip to the LINEAGE-FREE
    # bounds scan with construction-known literal grids — no pinned
    # range exchange, no localCheckpoint planning pass, no quantile job
    # (the r11 N1 negative result only condemned QUANTILE-bounds on
    # derived inputs; these inputs are direct scans and the grids are
    # plan literals). Grid correctness never depends on the data —
    # out-of-range/unbalanced bounds only shift bucket populations, and
    # the within-bucket window applies the full total order — so:
    # - id side: a uniform grid over [min_id, max_id] from ``id_bounds``
    #   (callers pass footer-metadata min/max — an input-table property,
    #   like the SRP ladder width);
    # - key side: md5-hex is uniform by construction, so a uniform grid
    #   over the 32-bit integer value of the FIRST 8 hex chars is
    #   perfectly balanced at any corpus size. ``__pknum`` (that prefix
    #   as a number) is prepended to the order — lexicographic order of
    #   fixed-length lowercase hex equals numeric order of its value, so
    #   (pknum, pk, vid) is the IDENTICAL total order as (pk, vid) and
    #   the assigned row numbers are unchanged.
    from cicevse2024_tfm_datapipeline_spark.operators.scan import uniform_grid

    n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    key_grid = uniform_grid(0.0, 4294967296.0, n_buckets)
    pknum = F.conv(F.substring(F.col("__pk"), 1, 8), 16, 10).cast("long")
    if id_bounds is not None:
        id_grid = uniform_grid(id_bounds[0], id_bounds[1], n_buckets)
        rows = global_row_number(
            df, [id_col], "__slot", bucketing="bounds", fixed_bounds=id_grid
        )
    else:
        rows = global_row_number(df, [id_col], "__slot")
    vals = global_row_number(
        df.select(F.col(value_col).alias("__pv"), F.col(id_col).alias("__vid"))
        .withColumn("__pk", key)
        .withColumn("__pknum", pknum),
        ["__pknum", "__pk", "__vid"],
        "__slot",
        bucketing="bounds",
        fixed_bounds=key_grid,
    ).select("__slot", "__pv")
    return (
        rows.join(vals, "__slot")
        .drop("__slot")
        .withColumn(value_col, F.col("__pv"))
        .drop("__pv")
    )


def degrade_windows_hash(
    df: DataFrame,
    matrix_col: str,
    window_id_col: str,
    severity: float,
    kind: str,
    seed: int,
) -> DataFrame:
    """Hash-keyed degradation twin of :func:`degrade_windows` for the
    Bernoulli-mask kinds — pure Column expressions, no Python edge at all.

    The per-site uniform is md5-derived: u(key) = first 8 hex digits of
    md5(seed|window_id|axis-index) as a 32-bit integer / 2³². md5 is the
    one hash both Spark and DuckDB (and any engine) compute identically,
    so the ENTIRE degradation is SQL-oracle-checkable — and it is
    partition/order-independent by construction, with zero serialization
    cost (stays in whole-stage codegen). The numpy-Generator variant
    remains for bit-parity with the reference's streams; this is the
    100 TB-native form.

    All four R1-R4 kinds are covered:
      packet_loss        — Bernoulli(severity) mask over timesteps
      missing_variables  — Bernoulli(severity) mask over features
      clock_offset       — circular roll by floor(u·(2·ms+1)) − ms steps,
                           ms = int(severity·T)  (uniform on [−ms, ms])
      drift              — per-feature ramp t/(T−1)·coef, coef =
                           Box–Muller normal(0, severity) from two
                           md5 uniforms (u + ½)/2³² (never 0 → ln safe)
    """
    if kind not in KINDS:
        raise ValueError(f"kind must be one of {KINDS}")
    # SQL lambdas with explicit distinct variable names (nested Python
    # Column-lambdas risk NamedLambdaVariable capture collisions)
    u = (
        f"cast(conv(substr(md5(concat('{int(seed)}|', cast({window_id_col} as string), "
        f"'|{{axis}}|', cast({{i}} as string))), 1, 8), 16, 10) as bigint) / 4294967296.0"
    )
    u_half = (
        f"(cast(conv(substr(md5(concat('{int(seed)}|', cast({window_id_col} as string), "
        f"'|{{axis}}|', cast({{i}} as string))), 1, 8), 16, 10) as bigint) + 0.5d) "
        f"/ 4294967296.0"
    )
    sev = f"{float(severity)}d"
    m = matrix_col
    if kind == "packet_loss":
        expr = (
            f"transform({m}, (row, t) -> "
            f"case when {u.format(axis='t', i='t')} < {sev} "
            f"then transform(row, v -> 0.0d) else row end)"
        )
    elif kind == "missing_variables":
        expr = (
            f"transform({m}, row -> "
            f"transform(row, (v, fi) -> "
            f"case when {u.format(axis='fi', i='fi')} < {sev} then 0.0d else v end))"
        )
    elif kind == "clock_offset":
        # ms and the drawn shift are integer arithmetic — exact in any
        # engine; floor (not cast) so the SQL twin can't diverge (DuckDB
        # CAST(double AS INT) rounds, Spark truncates)
        ms = f"cast(floor({sev} * size({m})) as int)"
        shift = (
            f"(cast(floor({u.format(axis='s', i='0')} * (2 * {ms} + 1)) as int) - {ms})"
        )
        expr = (
            f"case when {ms} > 0 then "
            f"transform(sequence(0, size({m}) - 1), t -> "
            f"{m}[pmod(t - {shift}, size({m}))]) "
            f"else {m} end"
        )
    else:  # drift
        z = (
            f"(sqrt(-2.0d * ln({u_half.format(axis='d1', i='fi')})) "
            f"* cos(2.0d * pi() * {u_half.format(axis='d2', i='fi')}))"
        )
        ramp = f"(case when size({m}) > 1 then cast(t as double) / (size({m}) - 1) else 0.0d end)"
        expr = (
            f"transform({m}, (row, t) -> "
            f"transform(row, (v, fi) -> v + {ramp} * {z} * {sev}))"
        )
    return df.withColumn(matrix_col, F.expr(expr))
