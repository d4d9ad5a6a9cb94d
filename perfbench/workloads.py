"""The benchmark's workloads: what each one generates, runs and checks.

A workload is a fixed list of calls. ``--seed`` generates the input files
and permutes the call order; the program sees only the generated files.
Every call's output is compared against an expectation computed with
DuckDB before timing starts (``expect``).

- ``roster_sf01``: ``bench.HEADLINE`` queries at sf0.1 row counts, each
  run as ``q.spark(spark, sf_dir).count()``, warm, in seeded order — bound by
  Python plan building, py4j round trips and Catalyst.
- ``modality_sf01``: the reference's power-modality entry point,
  ``run_power_pipeline`` (task ``binary``, which runs the ``evaluation``
  battery and writes its artifacts) over an events-schema parquet, then a
  streaming replay of the same events (``stream_tumbling_avg``).
"""

from __future__ import annotations

import json
import os
import random
import re
from dataclasses import dataclass, field

import expect
import fixtures

#: Roster queries (all in ``bench.HEADLINE``): two that send the most py4j
#: commands while building (a11, hll), the ML edge (logreg), joins, aggregates,
#: window and text queries. Each costs at most a few seconds warm on four
#: cores, so two warm passes fit in a run.
ROSTER = (
    "a11_multiclass_auc",
    "a_hll_deterministic",
    "ml_logreg_irls_two_rounds",
    "tpch_q1_pricing_summary",
    "j1_broadcast_lookup_join",
    "j_shapley_attribution",
    "w_ewma_smoothing",
    "text_token_stats",
    "dedup_exact_group_sizes",
)
#: The modality workload's streaming replay of its events: one micro-batch
#: through the file source, a windowed aggregation's state store and the
#: memory sink.
STREAM = "stream_tumbling_avg"
#: The modality workload's warm-up query (also ``bench.py``'s warm-up). The
#: pipeline and the stream themselves are timed as first calls: a warm-up
#: pass over them costs about 30 s more per run, which the 48 runs of a
#: full evaluation cannot afford.
WARMUP = "w1_chrono_split_counts"

#: events rows of the modality workload (sf0.1).
MODALITY_EVENTS = 100_000


@dataclass
class Call:
    name: str
    kind: str  # "query", "stream" or "power"
    input_rows: int
    expected: object = None
    params: dict = field(default_factory=dict)


@dataclass
class Plan:
    """Generated inputs, the calls over them and the warm-up calls."""

    table_dir: str
    calls: list[Call]
    warmup: list[Call]
    fixture_s: float = 0.0
    oracle_s: float = 0.0


def _oracle_tables(sql: str) -> list[str]:
    return [t for t in fixtures.TABLES if re.search(rf"\b{t}\b", sql)]


def _seeded_order(calls: list[Call], seed: int) -> list[Call]:
    order = list(calls)
    random.Random(seed).shuffle(order)
    return order


def prepare(workload: str, work_dir: str, seed: int, queries: dict, clock) -> Plan:
    """Generate the inputs and expectations of one workload (no Spark)."""
    table_dir = os.path.join(work_dir, "tables")
    if workload == "roster_sf01":
        used = {n: _oracle_tables(queries[n].oracle) for n in ROSTER}
        tables = tuple(t for t in fixtures.TABLES if any(t in u for u in used.values()))
        t0 = clock()
        rows = fixtures.write_tables(table_dir, seed, tables)
        fixture_s = clock() - t0
        t0 = clock()
        con = expect.connect(table_dir, tables)
        want = expect.oracle_row_counts(con, {n: queries[n].oracle for n in ROSTER})
        oracle_s = clock() - t0
        calls = _seeded_order(
            [Call(n, "query", sum(rows[t] for t in used[n]), want[n]) for n in ROSTER], seed
        )
        # the warm-up pass runs every call once, so the timed passes are warm
        return Plan(table_dir, calls, list(calls), fixture_s, oracle_s)
    if workload == "modality_sf01":
        t0 = clock()
        rows = fixtures.write_tables(table_dir, seed, ("events",), events_rows=MODALITY_EVENTS)
        fixture_s = clock() - t0
        t0 = clock()
        con = expect.connect(table_dir, ("events",))
        want = expect.oracle_row_counts(con, {n: queries[n].oracle for n in (WARMUP, STREAM)})
        n_windows = expect.n_windows(expect.power_group_sizes(con), 15, 1, 0.7, 0.15)
        oracle_s = clock() - t0
        calls = [
            Call("power_binary", "power", rows["events"], n_windows,
                 {"task": "binary", "output_dir": os.path.join(work_dir, "out", "power")}),
            Call(STREAM, "stream", rows["events"], want[STREAM]),
        ]
        warmup = [Call(WARMUP, "query", rows["events"], want[WARMUP])]
        return Plan(table_dir, calls, warmup, fixture_s, oracle_s)
    raise ValueError(f"unknown workload: {workload}")


WORKLOADS = ("roster_sf01", "modality_sf01")


# --- running one call -------------------------------------------------------

def build(call: Call, spark, plan: Plan, queries: dict):
    """Everything up to the action: the query's DataFrame (for a stream
    query this drives the stream to completion), or the pipeline call."""
    if call.kind in ("query", "stream"):
        return queries[call.name].spark(spark, plan.table_dir)
    from cicevse2024_tfm_datapipeline_spark.pipelines import PipelineConfig, run_power_pipeline
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view

    cfg = PipelineConfig(task=call.params["task"], output_dir=call.params["output_dir"])
    return run_power_pipeline(spark, power_view(spark, plan.table_dir), cfg)


def check(call: Call, result) -> str | None:
    """None when the output matches the expectation, else what differs."""
    if call.kind in ("query", "stream"):
        return None if result == call.expected else f"rows {result} != {call.expected}"
    want = call.expected
    if result["n_windows"] != want:
        return f"n_windows {result['n_windows']} != {want}"
    # the written artifacts carry the same numbers
    import pyarrow.parquet as pq

    out = call.params["output_dir"]
    with open(os.path.join(out, "metrics.json")) as fh:
        written = json.load(fh)["n_windows"]
    n_rows = pq.ParquetDataset(os.path.join(out, "windows.parquet")).read(columns=["split"]).num_rows
    if written != want or n_rows != sum(want.values()):
        return f"artifacts: metrics.json {written}, windows.parquet {n_rows} rows"
    return None
