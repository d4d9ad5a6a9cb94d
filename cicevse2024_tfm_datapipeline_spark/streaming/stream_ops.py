"""Structured Streaming re-expressions of the engine's time-series
operators (SURVEY §2.9 — an extension beyond reference parity; the
reference is strictly batch).

Mapping:
  A16 binned time average  → tumbling ``window(ts, N seconds)`` + agg
  W3  sliding windows      → sliding ``window(ts, length, hop)`` + agg
  W6  sessionization       → ``session_window(ts, gap)`` counts
All with watermarks for late data; append-mode compatible.

These operate on event-time (the reference's row-index time becomes real
timestamps upstream). For custom stateful logic beyond these,
``applyInPandasWithState`` is the escape hatch — see
``stateful_episode_counts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: event-time watermark of the windowed aggregations below
WATERMARK = "1 day"

#: state sentinel for "no rows folded yet" in the ordering-contract columns
_NO_TS = -(2**62)


def _order_key_i64(series):
    """Canonical int64 order key for either a long or a timestamp column
    (cross-batch ordering enforcement in the stateful folds).

    Hardened per the r05 advisory: tz-aware datetimes are normalized to
    UTC-naive before the int64 cast (a direct tz-aware→datetime64[us]
    astype is a TypeError in pandas 2.x), and null keys raise a clear
    contract error instead of surfacing as an opaque cast failure.
    Spark hands pandas UDFs tz-naive timestamps today, so the tz branch
    is defensive — but session-tz handling is configurable, and the fold
    must not silently misorder if that changes."""
    import numpy as np
    import pandas as pd

    if series.isna().any():
        raise ValueError(
            f"ordering key column {series.name!r} contains nulls — the "
            "stateful-fold ordering contract requires non-null keys"
        )
    if pd.api.types.is_datetime64_any_dtype(series):
        if getattr(series.dtype, "tz", None) is not None:
            series = series.dt.tz_convert("UTC").dt.tz_localize(None)
        return series.astype("datetime64[us]").astype("int64").to_numpy()
    return series.to_numpy(dtype=np.int64)


def _buffer_sorted_batch(pdf_iter, ts_col: str, tiebreak_col: str):
    """Concatenate ALL Arrow chunks of a micro-batch and totally sort
    once (r05 advisory): per-chunk sorting made the cross-batch ordering
    check raise on a large group split across chunks in non-sorted chunk
    order, even when the batch as a whole was sortable. Memory is bounded
    by the group's rows within ONE micro-batch — the same bound
    applyInPandasWithState already implies for per-group state handling.
    Returns None for an empty batch."""
    import pandas as pd

    frames = [p for p in pdf_iter if len(p)]
    if not frames:
        return None
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    return pdf.sort_values([ts_col, tiebreak_col], kind="mergesort")


def tumbling_avg_stream(events: DataFrame, window_sec: int = 86400) -> DataFrame:
    """A16 streaming twin: tumbling event-time window average."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", f"{window_sec} seconds"), F.col("event_type"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "avg_value",
            "n_rows",
        )
    )


def tumbling_sums_stream(events: DataFrame, window_sec: int = 86400) -> DataFrame:
    """A16 streaming twin in ORACLE-CANONICAL form: window start as epoch
    seconds (no timestamp-formatting parity risk) and sum+count instead of
    avg (the caller derives the canonicalized decimal mean — see
    plans.common.pround). Drive with complete output mode for a full,
    batch-equal result set."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", f"{window_sec} seconds"), F.col("event_type"))
        .agg(F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("window.start").cast("long").alias("window_start_epoch"),
            "event_type",
            "sum_value",
            "n_rows",
        )
    )


def sliding_sums_stream(events: DataFrame, length_sec: int, hop_sec: int) -> DataFrame:
    """W3 streaming twin in oracle-canonical form (epoch-second window
    starts, sums not means)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", f"{length_sec} seconds", f"{hop_sec} seconds"))
        .agg(
            F.sum("value").alias("sum_value"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start_epoch"),
            "sum_value",
            "value_min",
            "value_max",
            "n_rows",
        )
    )


def session_window_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """W6 streaming twin: session windows per user with inactivity gap."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def run_to_completion(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = 32,
) -> DataFrame:
    """Drive a streaming plan over the available files and return the
    result as a batch DataFrame (memory sink; test/smoke harness).

    ``append`` emits only watermark-finalized windows (production shape);
    ``complete`` emits the full aggregate state — use it when comparing
    the stream against a batch/SQL oracle over the whole input.

    The state-store shard count is frozen per checkpoint from
    ``spark.sql.shuffle.partitions`` at first start; these harness
    streams always begin from a fresh checkpoint, so the conf is scoped
    down here (and restored after) — under a default 200-partition
    session every stateful stage would otherwise run 200 near-empty
    state tasks PER MICRO-BATCH (measured 58 s for a two-batch dedup
    stream that runs in ~6 s right-sized). Production sizes this by
    throughput; pass ``shuffle_partitions=None`` to inherit."""
    spark = stream_df.sparkSession
    prev = None
    if shuffle_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def stateful_episode_counts(
    events: DataFrame,
    group_col: str,
    ts_col: str,
    tiebreak_col: str,
    y_true_col: str,
    y_pred_col: str,
):
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState): the
    W6 episode scan as arbitrary per-group state — the escape hatch for
    semantics session_window can't express (episode = contiguous y=1 run;
    detected = any y_pred=1 inside the run).

    Per group the state carries (prev_y, episodes_total, episodes_
    detected, current-episode-detected); each micro-batch is sorted by
    event time and folded in VECTORIZED NumPy (no per-row Python), then
    the running totals are emitted (update mode — last emission per group
    is the final answer). Counting an episode at its START makes a drained
    single-source run equal the batch gaps-and-islands computation,
    including a trailing open episode.

    Ordering contract (ENFORCED): rows must arrive in event-time order
    ACROSS batches; WITHIN a batch all Arrow chunks are buffered and
    totally sorted before folding, so chunk arrival order is irrelevant.
    Production sources need watermark-ordered replay or a session-gap
    timeout design. Like sprt_decision_state, the fold carries the last
    folded (ts, tiebreak) in state and raises on a cross-batch
    regression instead of silently over/under-counting episodes.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{group_col} long, episodes_total long, episodes_detected long"
    state_schema = (
        "prev_y integer, total long, detected long, cur_det integer,"
        " last_ts long, last_tb long"
    )
    fold = make_episode_fold(group_col, ts_col, tiebreak_col, y_true_col, y_pred_col)
    return events.groupBy(group_col).applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def make_episode_fold(
    group_col: str, ts_col: str, tiebreak_col: str, y_true_col: str, y_pred_col: str
):
    """Build the episode-count fold (module-level so tests can drive it
    with a fake GroupState — e.g. to pin the ordering-contract raise)."""
    import numpy as np
    import pandas as pd

    def fold(key, pdf_iter, state):
        if state.exists:
            prev_y, total, detected, cur_det, last_ts, last_tb = state.get
        else:
            prev_y, total, detected, cur_det = 0, 0, 0, 0
            last_ts, last_tb = None, None
        if last_ts == _NO_TS:
            last_ts, last_tb = None, None
        pdf = _buffer_sorted_batch(pdf_iter, ts_col, tiebreak_col)
        if pdf is not None:
            y = pdf[y_true_col].to_numpy(dtype=np.int64)
            p = pdf[y_pred_col].to_numpy(dtype=np.int64)
            tsv = _order_key_i64(pdf[ts_col])
            # the tiebreak takes the same null-guarded route as ts (r06
            # advisory: a bare int64 cast dies opaquely on nulls — the
            # exact failure mode the ts guard was added to eliminate)
            tbv = _order_key_i64(pdf[tiebreak_col])
            if last_ts is not None and (int(tsv[0]), int(tbv[0])) < (last_ts, last_tb):
                raise ValueError(
                    "stateful_episode_counts: cross-batch ordering contract "
                    f"violated for group {key[0]!r}: batch head "
                    f"({int(tsv[0])}, {int(tbv[0])}) sorts before previously "
                    f"folded tail ({last_ts}, {last_tb})"
                )
            last_ts, last_tb = int(tsv[-1]), int(tbv[-1])
            prev = np.concatenate(([prev_y], y[:-1]))
            starts = (y == 1) & (prev != 1)
            ep = np.cumsum(starts)  # 0 = episode carried from prior batch
            total += int(starts.sum())
            hit = (y == 1) & (p == 1)
            # carried episode: detect once if not already detected
            if cur_det == 0 and bool(hit[ep == 0].any()):
                detected += 1
                cur_det = 1
            n_local = int(ep[-1])
            det_local = np.zeros(n_local + 1, dtype=bool)
            if n_local:
                np.logical_or.at(det_local, ep[hit & (ep > 0)], True)
                detected += int(det_local[1:].sum())
            # roll state to the batch tail
            prev_y = int(y[-1])
            if prev_y == 1:
                tail_ep = int(ep[-1])
                cur_det = int(det_local[tail_ep]) if tail_ep > 0 else cur_det
            else:
                cur_det = 0
        state.update(
            (
                prev_y,
                total,
                detected,
                cur_det,
                last_ts if last_ts is not None else _NO_TS,
                last_tb if last_tb is not None else _NO_TS,
            )
        )
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "episodes_total": [total],
                "episodes_detected": [detected],
            }
        )

    return fold


def sprt_decision_state(
    events: DataFrame,
    group_col: str,
    ts_col: str,
    tiebreak_col: str,
    llr_col: str,
    upper: int,
    lower: int,
):
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState): the
    sequential probability ratio test as arbitrary per-group state — each
    group carries its running integer-tick log-likelihood ratio and the
    first Wald-boundary crossing (decision is sticky once made; events
    keep counting so the emitted row always reflects the full stream).

    Per batch the rows sort by event time and fold in vectorized NumPy:
    cumulative LLR, first index crossing either boundary if still
    undecided. Emission (update mode): (group, n_events, decision_code
    [0 undecided / 1 accept-H1 / -1 accept-H0], n_to_decision,
    llr_at_decision) — the last emission per group equals the batch
    windowed-cumsum SQL.

    Ordering contract (ENFORCED): events must arrive in global
    (ts, tiebreak) order ACROSS micro-batches — the buffered total sort
    inside the fold only totalizes order WITHIN a batch (all Arrow
    chunks concatenated, so chunk arrival order is irrelevant), but a
    later batch delivering a row that sorts before the previous batch's
    last row would silently shift the first-crossing readout. The fold
    carries the last folded (ts, tiebreak) in state and raises on any
    cross-batch regression instead of producing a wrong decision.
    Single-file sources (the `_events_stream` shape: one parquet file =
    one batch) satisfy the contract trivially; multi-file delivery must
    be time-partitioned in file order.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{group_col} long, n_events long, decision_code integer,"
        " n_to_decision long, llr_at long"
    )
    state_schema = (
        "cum long, n long, decision integer, n_to long, llr_at long,"
        " last_ts long, last_tb long"
    )
    fold = make_sprt_fold(group_col, ts_col, tiebreak_col, llr_col, upper, lower)
    return events.groupBy(group_col).applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def make_sprt_fold(
    group_col: str,
    ts_col: str,
    tiebreak_col: str,
    llr_col: str,
    upper: int,
    lower: int,
):
    """Build the SPRT fold (module-level so tests can drive it with a
    fake GroupState — e.g. to pin the ordering-contract raise)."""
    import numpy as np
    import pandas as pd

    def fold(key, pdf_iter, state):
        if state.exists:
            cum, n, decision, n_to, llr_at, last_ts, last_tb = state.get
        else:
            cum, n, decision, n_to, llr_at = 0, 0, 0, 0, 0
            last_ts, last_tb = None, None
        if last_ts == _NO_TS:
            last_ts, last_tb = None, None
        pdf = _buffer_sorted_batch(pdf_iter, ts_col, tiebreak_col)
        if pdf is not None:
            llr = pdf[llr_col].to_numpy(dtype=np.int64)
            tsv = _order_key_i64(pdf[ts_col])
            # the tiebreak takes the same null-guarded route as ts (r06
            # advisory: a bare int64 cast dies opaquely on nulls — the
            # exact failure mode the ts guard was added to eliminate)
            tbv = _order_key_i64(pdf[tiebreak_col])
            if last_ts is not None and (int(tsv[0]), int(tbv[0])) < (last_ts, last_tb):
                raise ValueError(
                    "sprt_decision_state: cross-batch ordering contract "
                    f"violated for group {key[0]!r}: batch head "
                    f"({int(tsv[0])}, {int(tbv[0])}) sorts before previously "
                    f"folded tail ({last_ts}, {last_tb}); deliver events in "
                    "global (ts, tiebreak) order across micro-batches"
                )
            last_ts, last_tb = int(tsv[-1]), int(tbv[-1])
            c = cum + np.cumsum(llr)
            if decision == 0:
                crossed = (c >= upper) | (c <= lower)
                idx = np.flatnonzero(crossed)
                if idx.size:
                    i = int(idx[0])
                    decision = 1 if c[i] >= upper else -1
                    n_to = n + i + 1
                    llr_at = int(c[i])
            cum = int(c[-1])
            n += len(llr)
        state.update(
            (
                cum,
                n,
                decision,
                n_to,
                llr_at,
                last_ts if last_ts is not None else _NO_TS,
                last_tb if last_tb is not None else _NO_TS,
            )
        )
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_events": [n],
                "decision_code": [decision],
                "n_to_decision": [n_to],
                "llr_at": [llr_at],
            }
        )

    return fold


def dedup_stream(events: DataFrame, key_cols, watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    EVICTED once the watermark passes — the unbounded-stream counterpart
    of the batch digest-groupBy dedup (plain ``dropDuplicates`` would
    grow state forever; WithinWatermark bounds it to the lateness
    horizon). Append-mode compatible."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def enrich_stream_with_dim(events: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static enrichment join: the static dimension is broadcast to
    every micro-batch (no stream-side shuffle, no state) — the standard
    lookup-join shape on a stream."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), key)


def upsert_scd1_sink(
    stream: DataFrame,
    lake_dir: str,
    checkpoint_dir: str,
    key_cols,
    order_cols,
):
    """Streaming SCD1 upsert: each micro-batch MERGEs into a keyed
    parquet lake, keeping the single latest row per key by ``order_cols``
    — the keep-latest compaction (dedup_latest_per_key) as a continuous
    ingest, i.e. what a table format's MERGE INTO does, built from plain
    parquet + an atomic directory swap.

    Per batch: reduce the batch to its own latest-per-key (one shuffle
    of BATCH-sized data), union with the current lake, re-reduce, write
    to a fresh directory and atomically rename over the old one (never
    overwrite a directory Spark is lazily reading from). Lake size stays
    |keys|, so the per-batch cost is batch + key-count, never history.
    Returns the started query (caller awaits/stops)."""
    import os
    import shutil

    from pyspark.sql import Window as W

    def _latest(df: DataFrame) -> DataFrame:
        w = W.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        merged = _latest(batch_df)
        if os.path.exists(lake_dir):
            current = spark.read.parquet(lake_dir)
            merged = _latest(current.unionByName(merged))
        staged = f"{lake_dir}__stage_{batch_id}"
        merged.write.mode("overwrite").parquet(staged)
        shutil.rmtree(lake_dir, ignore_errors=True)
        os.rename(staged, lake_dir)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def user_stats_transform_with_state(events: DataFrame) -> DataFrame:
    """Spark-4 ``transformWithStateInPandas`` twin of the per-key running
    statistics: a StatefulProcessor with an explicit ValueState carries
    (count, floor-value sum, last event time, max inter-event gap) per
    user across micro-batches — the modern replacement for
    applyInPandasWithState with typed state handles (and, in production,
    timers/TTL). Batch rows are sorted by (ts, event_id) inside the
    processor and folded VECTORIZED (diff/max over the pandas block), so
    per-row Python never runs; emitted rows are cumulative, the final
    emit per key equals the batch answer.

    Input must carry: user_id, us (epoch micros), fv (floor(value) long).

    CONTAINER GATE: the transformWithState Python worker speaks protobuf
    to the JVM state server; this environment ships no google.protobuf,
    so the operator is exercised by a skip-gated test
    (tests/test_streaming_equivalence.py::test_transform_with_state)
    rather than a registered driver query. On a protobuf-equipped
    cluster it is fully functional.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("cnt", LongType()),
            StructField("sumv", LongType()),
            StructField("last_us", LongType()),
            StructField("maxgap", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_floor", LongType()),
            StructField("max_gap_us", LongType()),
        ]
    )

    class _UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            cnt, sumv, last, maxgap = 0, 0, None, -1
            if self._state.exists():
                cnt, sumv, last, maxgap = self._state.get()
                last = None if last < 0 else last
            pdf = pd.concat(list(rows), ignore_index=True).sort_values(
                ["us", "event_id"]
            )
            us = pdf["us"].to_numpy()
            if len(us):
                gaps = pd.Series(us).diff().dropna()
                if last is not None:
                    boundary = int(us[0]) - last
                    maxgap = max(maxgap, boundary)
                if len(gaps):
                    maxgap = max(maxgap, int(gaps.max()))
                last = int(us[-1])
                cnt += len(us)
                sumv += int(pdf["fv"].sum())
            self._state.update((cnt, sumv, -1 if last is None else last, maxgap))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [cnt],
                    "sum_floor": [sumv],
                    "max_gap_us": [maxgap],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
