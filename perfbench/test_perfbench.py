"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import expect  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# --- statistics ---------------------------------------------------------------

def test_median_and_quartiles_match_statistics_module():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    assert stats.median(xs) == 4.0
    assert stats.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.relative_spread(xs) == pytest.approx((q3 - q1) / 4.0)


def test_percentile_interpolates_linearly():
    xs = list(range(11))  # 0..10
    assert stats.percentile(xs, 0.0) == 0
    assert stats.percentile(xs, 0.5) == 5
    assert stats.percentile(xs, 0.9) == 9
    assert stats.percentile(xs, 0.95) == pytest.approx(9.5)
    assert stats.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


@pytest.mark.parametrize(
    "n, q",
    [(1000, 0.99), (200, 0.95), (100, 0.9), (92, 0.9), (91, 0.75), (38, 0.75), (37, 0.5), (20, 0.5)],
)
def test_high_percentile_keeps_ten_samples_beyond(n, q):
    got_q, value = stats.high_percentile([float(i) for i in range(n)])
    assert got_q == q
    assert sum(1 for i in range(n) if i > value) >= 10


def test_high_percentile_none_below_twenty_samples():
    assert stats.high_percentile([1.0] * 19) is None


# --- names and the summary line -----------------------------------------------

@pytest.mark.parametrize("name", ["wall_s", "exec.shuffle_read_mb", "a", "9x", "a-b.c_d"])
def test_metric_name_grammar_accepts(name):
    assert stats.NAME_RE.match(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_metric_name_grammar_rejects(name):
    assert not stats.NAME_RE.match(name)


@pytest.mark.parametrize("unit", ["s", "ms", "1/s", "rows/s", "%", "count", "MB"])
def test_unit_grammar_accepts(unit):
    assert stats.UNIT_RE.match(unit)


def test_summary_line_shape():
    line = stats.summary_line(True, 10, 0, {"wall_s": (1.25, "s"), "rows_per_s": (3, "rows/s")})
    d = json.loads(line)
    assert list(d) == ["correct", "attempted", "failed", "metrics"]
    assert d["metrics"]["wall_s"] == {"value": 1.25, "unit": "s"}
    assert isinstance(d["metrics"]["rows_per_s"]["value"], float)
    assert "\n" not in line


@pytest.mark.parametrize(
    "args",
    [
        (True, 0, 0, {}),
        (True, 2, 3, {}),
        (True, 1, 0, {"bad name": (1.0, "s")}),
        (True, 1, 0, {"x": (1.0, "bad unit")}),
        (True, 1, 0, {"x": (float("nan"), "s")}),
    ],
)
def test_summary_line_refuses_malformed(args):
    with pytest.raises(ValueError):
        stats.summary_line(*args)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == tracing.PER_LAYER_UNITS
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.NAME_RE.match(m["name"]) and stats.UNIT_RE.match(m["unit"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# --- plan and tracker parsing ---------------------------------------------------

_PLAN = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(3) HashAggregate(keys=[], functions=[count(1)])
      +- ShuffleQueryStage 1
         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=71]
            +- *(2) BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight
               :- MapInPandas fold(x#3)#4, [k#1L]
               :  +- Scan ExistingRDD[k#1L]
               +- BroadcastQueryStage 0
                  +- BroadcastExchange HashedRelationBroadcastMode
                     +- *(1) Project [k#2L]
                        +- *(1) Scan parquet [k#2L]
+- == Initial Plan ==
   HashAggregate(keys=[], functions=[count(1)])
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=26]
"""


def test_plan_shape_counts_the_final_plan_only():
    assert tracing.plan_shape(_PLAN) == {"exchanges": 2, "checkpoint_leaves": 1, "python_nodes": 1}


def test_planning_phases_from_tracker_string():
    text = "Map(planning -> PhaseSummary(100, 130), analysis -> PhaseSummary(5, 7))"
    assert tracing.planning_phases_ms(text) == {"planning": 30, "analysis": 2}


def test_py4j_counter_skips_release_commands_and_pauses():
    from py4j.java_gateway import GatewayClient

    sent = []
    orig = GatewayClient.send_command
    GatewayClient.send_command = lambda self, command, *a, **k: sent.append(command)
    try:
        counter = tracing.Py4JCounter()
        counter.install()
        try:
            client = object.__new__(GatewayClient)
            client.send_command("c\no0\nfoo\ne\n")
            client.send_command("m\nd\no12\ne\n")
            with counter.paused():
                client.send_command("c\no0\nbar\ne\n")
        finally:
            counter.uninstall()
        assert counter.count == 1 and len(sent) == 3
    finally:
        GatewayClient.send_command = orig


# --- fixtures and expectations ----------------------------------------------------

def test_tables_repeat_for_a_seed_and_differ_across_seeds(tmp_path):
    names = ("events", "documents", "nation", "orders")
    a = fixtures.write_tables(str(tmp_path / "a"), 7, names, events_rows=2_000)
    fixtures.write_tables(str(tmp_path / "b"), 7, names, events_rows=2_000)
    fixtures.write_tables(str(tmp_path / "c"), 8, names, events_rows=2_000)
    assert a["events"] == 2_000 and a["orders"] == fixtures.SF01_ROWS["orders"]
    for name in names:
        ta, tb, tc = (pq.read_table(str(tmp_path / d / f"{name}.parquet")) for d in "abc")
        assert ta.equals(tb)
        if name != "nation":  # nation is fixed
            assert not ta.equals(tc)


def test_events_ts_strictly_increasing(tmp_path):
    fixtures.write_tables(str(tmp_path), 3, ("events",), events_rows=5_000)
    ts = pq.read_table(str(tmp_path / "events.parquet")).column("ts").to_pylist()
    assert all(a < b for a, b in zip(ts, ts[1:]))


@pytest.mark.parametrize("n", [1, 2, 3, 6, 7, 10, 2610])
def test_split_sizes_match_the_oracle_split(n):
    import duckdb

    from cicevse2024_tfm_datapipeline_spark.plans.common import split_sql

    con = duckdb.connect()
    con.execute(f"CREATE TABLE base AS SELECT 'a' AS attack, 's' AS state, i AS ts, i AS event_id FROM range({n}) t(i)")
    rows = dict(con.execute(f"WITH {split_sql()} SELECT split, count(*) FROM tagged GROUP BY split").fetchall())
    want = dict(zip(("train", "val", "test"), expect.split_sizes(n, 0.7, 0.15)))
    assert rows == {k: v for k, v in want.items() if v}


def test_n_windows_counts_full_windows_per_split():
    # one group of 100 rows: 70/15/15 rows → 56/1/1 windows of 15
    assert expect.n_windows([100], 15, 1, 0.7, 0.15) == {"train": 56, "val": 1, "test": 1}
    assert expect.n_windows([10], 15, 1, 0.7, 0.15) == {}
    assert expect.n_windows([100], 15, 5, 0.7, 0.15) == {"train": 12, "val": 1, "test": 1}
