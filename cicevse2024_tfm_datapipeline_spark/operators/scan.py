"""Scalable global ordered scans — the two-phase prefix-sum pattern.

A single ``Window.orderBy(...)`` with no partition key funnels every row
through ONE task ("No Partition Defined for Window operation"): correct on
a laptop, serialized at 100 TB. The classic distributed fix (MPI scan /
Pregel prefix) maps onto Spark as:

  1. ``repartitionByRange`` on the scan order → partition *i* holds a
     contiguous, ordered slice of the key domain, and partition ids are
     monotone in the scan order.
  2. per-partition window functions ``partitionBy(__pid)`` — parallel.
  3. a per-partition summary frame (one row per partition — hundreds to
     thousands of rows, never data-sized) joined triangularly to turn
     partition totals into prefix offsets, broadcast back.

No unbounded-input unpartitioned window appears anywhere: the only
cross-partition combine is over the partition-summary frame, whose size is
the shuffle-partition count, via joins (not windows).

Used by operators/metrics.py (ROC/PR cumulative curves) and
operators/sessionize.py (global gaps-and-islands) — the two places the
reference's semantics genuinely demand a total order
(func_aux/func_test.py:196-249, :429-458).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

PID = "__scan_pid"


def _ordering(order_cols: Sequence[str], descending: bool) -> list[Column]:
    return [F.col(c).desc() if descending else F.col(c).asc() for c in order_cols]


def _n_range_parts(df: DataFrame) -> int:
    """Explicit partition count for the range exchange. An UNPINNED
    repartitionByRange is fair game for AQE partition coalescing; pinning
    the count keeps the exchange non-optimizable and the bucket count
    predictable."""
    try:
        return max(1, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        return 200


def _pin_buckets(bucketed: DataFrame) -> DataFrame:
    """Materialize the bucketed frame ONCE (lazy local checkpoint).

    The scan's correctness requires every consumer (the per-partition
    window pass, the totals pass, the offsets branch) to see the
    IDENTICAL row→partition mapping. Leaving that to exchange/stage
    reuse is fragile: when the planner re-executes the range exchange
    per branch, each execution re-SAMPLES its own partition bounds
    (RangePartitioner seeds by RDD id), boundary rows migrate between
    partitions, and spark_partition_id() disagrees across branches —
    observed at sf0.1 as a silently corrupted permutation (an inner
    join on derived ranks dropping a handful of rows, varying run to
    run). The lazy localCheckpoint freezes the physical partitioning:
    one materialization, every branch reads the same partitions. It
    also removes the former 3x re-execution of the child subtree —
    the price is one persisted copy of the scan input (the standard
    cost of a multi-consumer pass; lineage is truncated like the
    connected-components fixpoint already does)."""
    return bucketed.localCheckpoint(eager=False)


def range_bucketed(
    df: DataFrame,
    order_cols: Sequence[str],
    descending: bool = False,
    pin: bool = True,
) -> DataFrame:
    """Range-repartition on the scan order and tag each row with its
    partition id. Because range partitions are contiguous and ordered,
    ``PID`` is monotone in the scan order — the bucket key for phase-2
    windows and the join key for prefix offsets.

    ``pin=False`` skips the checkpoint — ONLY valid when the caller
    feeds the bucketed frame into a single consumer and pins THAT
    consumer instead (e.g. sessionize pins the post-window pass so the
    sort+window subtree runs once); the correctness requirement is that
    exactly one materialization of the range exchange exists, wherever
    the checkpoint sits."""
    rp = df.repartitionByRange(_n_range_parts(df), *_ordering(order_cols, descending))
    tagged = rp.withColumn(PID, F.spark_partition_id())
    return _pin_buckets(tagged) if pin else tagged


#: buckets per super-group in the hierarchical prefix combine. The combine
#: over the B-row partition-summary frame must itself scale: a flat
#: triangle join is O(B²) pairs (10¹⁰ at B=100k partitions) and a flat
#: window over the frame would serialize it into one task. Two levels fix
#: both: a window PARTITIONED by super-group (≤ SUPER rows per task) plus
#: a triangle over the (B/SUPER)-row super-totals frame — ≤10⁴ pairs even
#: at B=100k. Deeper nesting is never needed below B ≈ SUPER².
SUPER = 1024

_SUP = "__scan_sup"


def _with_super(frame: DataFrame) -> DataFrame:
    return frame.withColumn(_SUP, F.floor(F.col(PID) / F.lit(SUPER)))


def offsets_from_totals(totals: DataFrame, tot_cols: Sequence[str], prefix: str = "__off_") -> DataFrame:
    """Turn a per-partition totals frame (one row per ``PID``) into prefix
    offsets: ``<prefix><c>`` = sum of ``<c>`` over all STRICTLY EARLIER
    partitions.

    Hierarchical two-level combine (see ``SUPER``): within each
    super-group of buckets a PARTITIONED running sum over the
    strictly-preceding frame; across super-groups a triangle join over
    the super-totals frame; one broadcast join stitches the two. Work is
    O(B·log SUPER + (B/SUPER)²) instead of the flat triangle's O(B²),
    and no window in the plan is unpartitioned."""
    tagged = _with_super(totals.select(F.col(PID), *[F.col(c) for c in tot_cols]))
    w_in = (
        W.partitionBy(_SUP)
        .orderBy(F.col(PID).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    within = tagged.select(
        PID,
        _SUP,
        *[
            F.coalesce(F.sum(c).over(w_in), F.lit(0)).alias(f"__win_{c}")
            for c in tot_cols
        ],
    )
    # bucket count is pinned to the shuffle-partition conf (range_bucketed),
    # so "one super-group" is decidable at plan time: the cross-super level
    # is a no-op — skip its 3 stages rather than scheduling empty work.
    # STRICT <: pinned PIDs live in [0, B) but bounds-mode PIDs reach B
    # (asc null bucket 0 shifts non-null buckets to 1..B), and
    # floor(B/SUPER) = 1 at exact equality — the shortcut must only fire
    # when the whole PID DOMAIN provably fits one super-group
    if _n_range_parts(totals) < SUPER:
        return within.select(
            PID, *[F.col(f"__win_{c}").alias(f"{prefix}{c}") for c in tot_cols]
        )
    sup_tot = tagged.groupBy(_SUP).agg(
        *[F.sum(c).alias(f"__st_{c}") for c in tot_cols]
    )
    b = sup_tot.select(
        F.col(_SUP).alias("__bsup"),
        *[F.col(f"__st_{c}").alias(f"__b_{c}") for c in tot_cols],
    )
    sup_off = (
        sup_tot.select(_SUP)
        .join(b, F.col("__bsup") < F.col(_SUP), "left")
        .groupBy(_SUP)
        .agg(
            *[
                F.coalesce(F.sum(f"__b_{c}"), F.lit(0)).alias(f"__so_{c}")
                for c in tot_cols
            ]
        )
    )
    return (
        within.join(F.broadcast(sup_off), _SUP)
        .select(
            PID,
            *[
                (F.col(f"__win_{c}") + F.col(f"__so_{c}")).alias(f"{prefix}{c}")
                for c in tot_cols
            ],
        )
    )


def prev_nonempty_value(frame: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """For a per-partition summary frame ``(PID, value)`` return
    ``(PID, out_col = value of the NEAREST STRICTLY-EARLIER PID present in
    the frame)`` — the boundary-fill primitive for scans whose first row
    per bucket needs its true predecessor (empty range partitions leave
    PID gaps, so ``PID - 1`` is not enough).

    Same hierarchical two-level shape as ``offsets_from_totals``: within a
    super-group the frame holds only non-empty buckets, so a PARTITIONED
    lag IS the nearest-earlier value; across super-groups a triangle
    argmax over the (B/SUPER)-row super-tails frame. NULL where no
    earlier bucket exists."""
    tagged = _with_super(frame.select(F.col(PID), F.col(value_col).alias("__pv_val")))
    w_in = W.partitionBy(_SUP).orderBy(F.col(PID).asc())
    within = tagged.select(PID, _SUP, F.lag("__pv_val").over(w_in).alias("__in_val"))
    if _n_range_parts(frame) < SUPER:
        # single super-group (plan-time decidable, like offsets_from_totals;
        # strict < for the bounds-mode PID domain [0, B])
        return within.select(PID, F.col("__in_val").alias(out_col))
    sup_last = tagged.groupBy(_SUP).agg(F.max_by("__pv_val", PID).alias("__sl_val"))
    bb = sup_last.select(F.col(_SUP).alias("__bsup"), F.col("__sl_val").alias("__b_val"))
    sup_fill = (
        sup_last.select(_SUP)
        .join(bb, F.col("__bsup") < F.col(_SUP), "left")
        .groupBy(_SUP)
        .agg(F.max_by("__b_val", "__bsup").alias("__sf_val"))
    )
    return (
        within.join(F.broadcast(sup_fill), _SUP)
        .select(PID, F.coalesce("__in_val", "__sf_val").alias(out_col))
    )


def _bounds_key_expr(df: DataFrame, key: str) -> Column:
    """The double-valued bucketing expression for ``bounds_bucketed``'s
    first order column — defined ONLY for types whose natural sort order
    survives the numeric cast (numeric, boolean, date, timestamp). A
    string key would bucket by numeric cast (null for non-numeric text →
    the edge bucket) while the within-bucket window sorts
    lexicographically, silently corrupting prefix sums ('10' < '9'
    lexicographically but not numerically) — so anything else raises
    instead of mis-bucketing."""
    from pyspark.sql import types as T

    dt = df.schema[key].dataType
    col = F.col(key)
    if isinstance(dt, (T.NumericType, T.BooleanType)):
        return col.cast("double")
    if isinstance(dt, T.DateType):
        # date→double is not a legal cast; go through timestamp (seconds
        # since epoch — monotone in the date order)
        return col.cast("timestamp").cast("double")
    if isinstance(dt, T.TimestampType):
        return col.cast("double")
    if isinstance(dt, T.TimestampNTZType):
        # NTZ→double is not a legal cast, and NTZ→timestamp applies the
        # SESSION zone — which is NOT a constant offset in a DST zone
        # (spring-forward gaps resolve non-monotonically: a nonexistent
        # 02:30 can land past 03:00), breaking the order consistency the
        # bucketing requires. So derive the key zone-independently from
        # the NTZ's own calendar fields: days-since-epoch × 86400 plus
        # in-day seconds (date_part SECOND carries the microsecond
        # fraction). Strictly monotone in NTZ order; double keeps µs
        # resolution out past year 2200 (51 bits < 53).
        return (
            F.unix_date(col.cast("date")).cast("double") * F.lit(86400.0)
            + F.hour(col).cast("double") * F.lit(3600.0)
            + F.minute(col).cast("double") * F.lit(60.0)
            + F.date_part(F.lit("SECOND"), col).cast("double")
        )
    raise TypeError(
        f"bounds_bucketed: first order column {key!r} has type {dt} — the "
        "quantile-bound bucketing is only order-consistent for numeric/"
        "boolean/date/timestamp keys (a string key would bucket by numeric "
        "cast but sort lexicographically). Use the pinned range exchange "
        "(bucketing='pinned') for non-numeric scan keys."
    )


def bounds_bucketed(
    df: DataFrame,
    order_cols: Sequence[str],
    descending: bool = False,
    n_buckets: int | None = None,
    relative_error: float = 1e-4,
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Lineage-free twin of :func:`range_bucketed`: ``PID`` is DERIVED
    FROM THE DATA via driver-computed quantile bounds on the first order
    column, instead of ``spark_partition_id()`` over a pinned range
    exchange.

    Why this exists (SCALE.md "Known local-vs-cluster deltas"): the
    pinned path materializes a data-sized localCheckpoint so every
    consumer sees one frozen row→partition mapping — correct, but the
    persisted copy lives in executor storage and its lineage is cut (an
    executor loss mid-query kills surviving-replica reads). Here the
    mapping is a PURE EXPRESSION over frozen bound literals: every
    branch recomputes it bit-identically, exchange reuse is safe by
    construction, nothing is pinned, and recovery replays lineage.

    Mechanics: ``B-1`` quantile bounds of ``order_cols[0]`` (cast to
    double; one driver-side Greenwald–Khanna pass, the analogue of
    RangePartitioner's sample job) are embedded as an array literal;
    ``PID = size(filter(bounds, b -> b < key))`` (``>`` for descending) —
    monotone in the scan order because strict comparison puts every tie
    group in ONE bucket, with the full multi-column ordering applied by
    the within-bucket window. Nulls get the edge bucket matching Spark's
    default null ordering: LAST for desc (bucket ``len(bounds) + 1``),
    FIRST for asc — bucket 0, with every non-null bucket shifted +1.
    PIDs must stay NON-NEGATIVE: a ``-1`` null bucket would land in
    super-group ``floor(-1/SUPER) = -1`` and the single-super-group
    shortcut in ``offsets_from_totals``/``grouped_cumsum`` would
    silently drop its total from later buckets' offsets (caught by the
    hypothesis differential on ``[None, 0.0]``, round 9).

    Tradeoff vs the pinned range exchange: tie groups cannot be SPLIT
    across buckets, so a heavy-duplicate first order column skews bucket
    sizes (the range exchange splits ties and disambiguates via physical
    partition id). Use for high-cardinality scan keys — scores,
    timestamps — which is exactly what the ROC/sessionize scans order
    by.

    ``fixed_bounds``: skip the quantile job entirely and bucket on the
    caller's literal boundary grid — for keys whose DOMAIN is known by
    construction (see global_cumsum's fixed_bounds note). Non-finite
    entries are dropped (same reason as the quantile filter below); the
    grid need not match the data range — out-of-range bounds only leave
    empty buckets, which the offsets combine already tolerates."""
    # Materialize the key ONCE per row: the PID expression below embeds
    # the key inside a higher-order filter lambda, where it would be
    # re-evaluated PER BOUND (B-1 times per row — lambda bodies get no
    # common-subexpression elimination and HOFs sit outside whole-stage
    # codegen). A cheap cast key hid this; the r11 NTZ field-extraction
    # key made it measurable (w6 probe 3.6 s vs 1.9 s). One projected
    # column caps any key at one evaluation per row.
    if "__bb_key" in df.columns:  # withColumn would silently overwrite
        raise ValueError("bounds_bucketed: input already has a __bb_key column")
    keyed = df.withColumn("__bb_key", _bounds_key_expr(df, order_cols[0]))
    keyc = F.col("__bb_key")
    if fixed_bounds is not None:
        # caller-provided DOMAIN grid (see global_cumsum's fixed_bounds
        # note): no quantile job at all — the bounds are plan literals
        # from construction knowledge, identical at every corpus size
        bounds = sorted(
            {float(x) for x in fixed_bounds if x is not None and math.isfinite(x)}
        )
        probs = []
    else:
        b = n_buckets or _n_range_parts(df)
        probs = [i / b for i in range(1, b)]
    if probs:
        bounds = keyed.select("__bb_key").approxQuantile(
            "__bb_key", probs, relative_error
        )
        # drop non-finite quantiles BEFORE dedup/sort (r09 ADVICE): NaN is
        # neither deduped by set() (NaN != NaN) nor ordered by sorted(), so
        # a NaN-bearing score column could embed duplicate NaN bounds —
        # wasted buckets, and in desc mode every non-null PID would shift
        # by the NaN-bound count. NaN keys still bucket correctly without
        # a NaN bound: Spark orders NaN above every double, so the strict
        # comparison sends them to the edge bucket on its own.
        bounds = sorted({x for x in bounds if x is not None and math.isfinite(x)})
    elif fixed_bounds is None:
        bounds = []
    def _arr_lit(vals: list[float]) -> Column:
        # one parsed expression instead of a py4j round trip per bound
        # (r12, guide §5); repr + D suffix parses to bit-identical doubles
        return F.expr("array(" + ", ".join(f"{float(x)!r}D" for x in vals) + ")")

    if not bounds:
        pid = F.lit(0)
    elif descending:
        arr = _arr_lit(sorted(bounds, reverse=True))
        pid = F.size(F.filter(arr, lambda bb: bb > keyc))
    else:
        # +1 keeps the asc null bucket (0) below every non-null bucket
        # while all PIDs stay non-negative (docstring: the -1 trap)
        arr = _arr_lit(list(bounds))
        pid = F.size(F.filter(arr, lambda bb: bb < keyc)) + F.lit(1)
    null_bucket = F.lit(len(bounds) + 1 if descending else 0)
    return keyed.withColumn(
        PID, F.when(keyc.isNull(), null_bucket).otherwise(pid).cast("int")
    ).drop("__bb_key")


def uniform_grid(lo, hi, n_buckets: int) -> list[float]:
    """Literal bucket-bound grid for ``fixed_bounds``: ``n_buckets - 1``
    uniform bounds over ``[lo, hi]`` (typically parquet footer statistics
    — an input-table property). Grid values only set bucket BALANCE;
    bucketing correctness never depends on them (out-of-range or skewed
    grids just leave uneven/empty buckets, and the within-bucket window
    applies the full order)."""
    lo, hi = float(lo), float(hi)
    step = (hi - lo) / n_buckets
    return [lo + i * step for i in range(1, n_buckets)] if step > 0 else []


def global_cumsum(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    descending: bool = False,
    keep_pid: bool = False,
    with_totals: bool = False,
    bucketing: str = "pinned",
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Running sum of each ``sum_cols`` entry over the global
    ``order_cols`` order (ties summed in one step is the caller's job —
    pre-aggregate to one row per distinct key for sklearn-style threshold
    semantics). Adds ``cum_<c>`` columns; all input columns pass through.
    With ``with_totals``, also broadcasts grand totals as ``tot_<c>`` —
    derived from the same per-partition totals frame, so callers get the
    denominator without a separate full pass over ``df``.

    Equivalent to ``F.sum(c).over(Window.orderBy(...).rowsBetween(
    unboundedPreceding, 0))`` but with no unpartitioned window: per-range-
    partition cumsums plus broadcast prefix offsets.

    Cost model: the bucketed frame is lazily checkpointed (see
    ``_pin_buckets`` — required for correctness, not just speed), so the
    input subtree executes once and every branch (window pass, totals,
    offsets) reads the same materialized partitions; the data-sized
    shuffle happens exactly once (the range exchange).

    ``bucketing="bounds"`` swaps in :func:`bounds_bucketed` — the
    lineage-free mapping (no pinned copy, no lineage cut; see its
    docstring for the tie-skew tradeoff). Results are identical; the
    plans differ in recovery/storage behavior.

    ``fixed_bounds`` (bounds mode only) replaces the driver-side quantile
    job with CALLER-PROVIDED literal bucket boundaries — the right move
    when the first order column's DOMAIN is known by construction (e.g. a
    score that is a 3-decimal rounding of a bounded ratio): the quantile
    pre-pass measured ~0.3 s flat (SCALE.md "A13 profile", round 10) and
    buys nothing a fixed grid over the known domain doesn't already give;
    at any corpus size the same literals hold because the DOMAIN, not the
    data, defines them. Bucket balance then tracks the score distribution
    instead of equal-population quantiles — acceptable exactly when the
    domain (hence per-bucket tie volume) is bounded.
    """
    if bucketing == "bounds":
        bucketed = bounds_bucketed(df, order_cols, descending, fixed_bounds=fixed_bounds)
    else:
        bucketed = range_bucketed(df, order_cols, descending)
    w = (
        W.partitionBy(PID)
        .orderBy(*_ordering(order_cols, descending))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = bucketed.select(
        "*", *[F.sum(c).over(w).alias(f"__loc_{c}") for c in sum_cols]
    )
    totals = bucketed.groupBy(PID).agg(
        *[F.sum(c).alias(f"__tot_{c}") for c in sum_cols]
    )
    offs = offsets_from_totals(totals, [f"__tot_{c}" for c in sum_cols], prefix="__o_")
    out = local.join(F.broadcast(offs), PID)
    keep = list(df.columns) + ([PID] if keep_pid else [])
    out = out.select(
        *keep,
        *[
            (F.col(f"__loc_{c}") + F.col(f"__o___tot_{c}")).alias(f"cum_{c}")
            for c in sum_cols
        ],
    )
    if with_totals:
        grand = totals.agg(
            *[F.sum(f"__tot_{c}").alias(f"tot_{c}") for c in sum_cols]
        )
        out = out.crossJoin(F.broadcast(grand))
    return out


def grouped_cumsum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    descending: bool = False,
    with_totals: bool = False,
    small_groups: bool = False,
    bucketing: str = "pinned",
) -> DataFrame:
    """Per-group running sums over the global ``order_cols`` order WITHIN
    each group — ``F.sum(c).over(Window.partitionBy(group).orderBy(...))``
    semantics, but no partition is ever a single task regardless of group
    size: rows are range-partitioned on (group, order), so one huge group
    (e.g. one class's million-point ROC curve) spreads over many
    contiguous partitions, and per-(partition, group) offsets are combined
    through the tiny partition-summary frame exactly as
    :func:`global_cumsum` does.

    With ``with_totals``, per-GROUP grand totals are joined back as
    ``tot_<c>`` (broadcast — |groups| rows).

    ``small_groups=True`` is the caller's assertion that every group is
    BOUNDED-SMALL by construction (e.g. the input is already aggregated
    to one row per (group, rounded threshold), capping a group at the
    threshold-domain size). Then a plain group-partitioned window is the
    right plan at every scale — one shuffle by group, and the totals
    window reuses the same partitioning (zero extra exchanges) — and the
    two-phase range machinery would only add cost. Never set it for
    data-sized groups: one giant group would serialize into one task.

    ``bucketing="bounds"`` is the lineage-free mapping here too: buckets
    come from :func:`bounds_bucketed` over the ORDER column alone
    (ignoring the group key — global order bounds are monotone within
    EVERY group's order, which is all the per-group prefix combine
    needs; the group key is in every window spec / summary key already).
    Nothing is pinned; the same tie-skew caveat as the global scan
    applies to the order column. One sizing note: order-only buckets can
    each hold every group, so the summary frame is O(B x |groups|) rows
    instead of ~O(B) — fine for class-like group keys (the ROC tier),
    wrong for high-cardinality groups, where the pinned (group, order)
    range keeps the summary near-linear in B. Because of that blow-up
    the bounds path does NOT force-broadcast the offsets/totals frames:
    the planner (AQE) broadcasts them when they measure small and falls
    back to a shuffle join when a high-cardinality group key makes them
    data-sized, instead of OOMing the driver on a forced broadcast.
    """
    gcols = list(group_cols)
    if small_groups:
        wc = (
            W.partitionBy(*[F.col(c) for c in gcols])
            .orderBy(*_ordering(order_cols, descending))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        out = df.select(
            "*", *[F.sum(c).over(wc).alias(f"cum_{c}") for c in sum_cols]
        )
        if with_totals:
            wg = W.partitionBy(*[F.col(c) for c in gcols])
            out = out.select(
                "*", *[F.sum(c).over(wg).alias(f"tot_{c}") for c in sum_cols]
            )
        return out
    if bucketing == "bounds":
        bucketed = bounds_bucketed(df, order_cols, descending)
    else:
        rp = df.repartitionByRange(
            _n_range_parts(df),
            *[F.col(c).asc() for c in gcols],
            *_ordering(order_cols, descending),
        )
        bucketed = _pin_buckets(rp.withColumn(PID, F.spark_partition_id()))
    w = (
        W.partitionBy(PID, *gcols)
        .orderBy(*_ordering(order_cols, descending))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = bucketed.select(
        "*", *[F.sum(c).over(w).alias(f"__loc_{c}") for c in sum_cols]
    )
    totals = bucketed.groupBy(PID, *gcols).agg(
        *[F.sum(c).alias(f"__tot_{c}") for c in sum_cols]
    )
    # hierarchical per-group prefix over the summary frame (same two-level
    # shape as offsets_from_totals, with the group key added to every
    # partition spec / join key)
    tagged = _with_super(totals)
    w_in = (
        W.partitionBy(_SUP, *gcols)
        .orderBy(F.col(PID).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    within = tagged.select(
        PID,
        _SUP,
        *gcols,
        *[
            F.coalesce(F.sum(f"__tot_{c}").over(w_in), F.lit(0)).alias(f"__win_{c}")
            for c in sum_cols
        ],
    )
    if _n_range_parts(totals) < SUPER:
        # single super-group (decidable at plan time; strict < for the
        # bounds-mode PID domain [0, B]): the within-window prefix IS the
        # full offset — skip the cross-super stages
        offs = within.select(
            PID,
            *gcols,
            *[F.col(f"__win_{c}").alias(f"__o_{c}") for c in sum_cols],
        )
    else:
        sup_tot = tagged.groupBy(_SUP, *gcols).agg(
            *[F.sum(f"__tot_{c}").alias(f"__st_{c}") for c in sum_cols]
        )
        b = sup_tot.select(
            F.col(_SUP).alias("__bsup"),
            *[F.col(c).alias(f"__bg_{c}") for c in gcols],
            *[F.col(f"__st_{c}").alias(f"__b_{c}") for c in sum_cols],
        )
        same_group = [F.col(f"__bg_{c}") == F.col(c) for c in gcols]
        sup_off = (
            sup_tot.select(_SUP, *gcols)
            .join(b, [F.col("__bsup") < F.col(_SUP), *same_group], "left")
            .groupBy(_SUP, *gcols)
            .agg(
                *[
                    F.coalesce(F.sum(f"__b_{c}"), F.lit(0)).alias(f"__so_{c}")
                    for c in sum_cols
                ]
            )
        )
        offs = (
            within.join(F.broadcast(sup_off), [_SUP, *gcols])
            .select(
                PID,
                *gcols,
                *[
                    (F.col(f"__win_{c}") + F.col(f"__so_{c}")).alias(f"__o_{c}")
                    for c in sum_cols
                ],
            )
        )
    # forced broadcast only when the summary frame is ~O(B) by
    # construction (pinned (group, order) range); the bounds path's
    # O(B x |groups|) frame is left to the planner (docstring above)
    maybe_bcast = (lambda f: f) if bucketing == "bounds" else F.broadcast
    out = local.join(maybe_bcast(offs), [PID, *gcols])
    out = out.select(
        *df.columns,
        *[
            (F.col(f"__loc_{c}") + F.col(f"__o_{c}")).alias(f"cum_{c}")
            for c in sum_cols
        ],
    )
    if with_totals:
        grand = totals.groupBy(*gcols).agg(
            *[F.sum(f"__tot_{c}").alias(f"tot_{c}") for c in sum_cols]
        )
        out = out.join(maybe_bcast(grand), gcols)
    return out


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "__rn",
    descending: bool = False,
    bucketing: str = "pinned",
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Global 1-based row number over ``order_cols`` with no unpartitioned
    window — the two-phase scan over a constant-1 column. The order should
    be total (add a tiebreak column) for a deterministic assignment.
    ``bucketing`` forwards to :func:`global_cumsum` ("bounds" = the
    lineage-free quantile-bound mapping, identical results);
    ``fixed_bounds`` (bounds mode) skips the quantile job with a
    caller-provided literal grid — see global_cumsum's note."""
    cum = global_cumsum(
        df.withColumn("__one", F.lit(1)), order_cols, ["__one"], descending,
        bucketing=bucketing, fixed_bounds=fixed_bounds,
    )
    return cum.withColumnRenamed("cum___one", out_col).drop("__one")


def global_ntile(
    df: DataFrame,
    order_cols: Sequence[str],
    n_tiles: int,
    out_col: str = "tile",
    bucketing: str = "pinned",
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY ... ASC)`` with no unpartitioned window:
    exact SQL NTILE semantics (the first ``total % n`` tiles get the
    extra row) derived arithmetically from the two-phase global row
    number and the grand total — one range shuffle, same as any other
    global scan here. Order should be total (add a tiebreak column).

    This is the curriculum/decile-binning primitive: rank a corpus by a
    quality score and cut it into equal-population bins at any scale."""
    cum = global_cumsum(
        df.withColumn("__one", F.lit(1)),
        order_cols,
        ["__one"],
        with_totals=True,
        bucketing=bucketing,
        fixed_bounds=fixed_bounds,
    )
    rn = F.col("cum___one")
    total = F.col("tot___one")
    q = F.floor(total / F.lit(n_tiles))
    r = total % F.lit(n_tiles)
    cut = (q + F.lit(1)) * r
    # q can be 0 only when every row falls in the first branch (total < n);
    # greatest() keeps the dead branch division ANSI-safe
    tile = F.when(rn <= cut, F.floor((rn - 1) / (q + 1)) + 1).otherwise(
        r + F.floor((rn - 1 - cut) / F.greatest(q, F.lit(1))) + 1
    )
    return (
        cum.withColumn(out_col, tile.cast("int"))
        .drop("__one", "cum___one", "tot___one")
    )
