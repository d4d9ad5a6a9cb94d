"""Per-layer instrumentation for the traced run, all from outside the package.

Nothing here edits ``cicevse2024_tfm_datapipeline_spark``. The traced run
reads three kinds of numbers:

- counts and times of calls into the package's public functions, by
  wrapping them in the loaded modules (``ModuleSpans``) and by wrapping
  py4j's ``GatewayClient.send_command`` (``Py4JCounter``);
- Spark's own instrumentation: the ``QueryPlanningTracker`` of the Dataset
  that runs the action, the status store's per-stage task metrics for the
  jobs of one call (keyed by a per-call job group), and the progress
  events of a Python ``StreamingQueryListener``;
- the shape of the executed plan (exchanges, checkpoint leaves, Python
  nodes), counted on its final adaptive plan.

Every read the tracer makes is timed into ``Tracer.self_s`` and its own
py4j commands are excluded from the counts. Before each read it waits for
Spark's listener bus to drain, so the status store holds every job, stage
and task of the call.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import re
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "cicevse2024_tfm_datapipeline_spark"

#: py4j "memory delete" commands: sent when Python garbage-collects a JVM
#: object reference, so their number depends on GC timing, not on the work.
_RELEASE_PREFIX = "m\nd\n"


class Py4JCounter:
    """Counts py4j commands sent from the main thread, release commands
    excluded. Commands from other threads (the streaming listener's
    callback thread, py4j's own finalizers) are not counted either."""

    def __init__(self) -> None:
        self.count = 0
        self._paused = 0
        self._main = threading.main_thread().ident
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(client, command, *args, **kwargs):
            if (
                not counter._paused
                and threading.get_ident() == counter._main
                and not command.startswith(_RELEASE_PREFIX)
            ):
                counter.count += 1
            return orig(client, command, *args, **kwargs)

        self._orig = orig
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig
            self._orig = None

    @contextlib.contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1


class ModuleSpans:
    """Wraps named functions wherever the package's loaded modules bind
    them, and records per layer the number of outermost calls and their
    time. A call made while another call of the same layer is open counts
    once (its time is inside the outer call)."""

    def __init__(self, targets: dict[str, tuple[str, tuple[str, ...]]]) -> None:
        # layer -> (module, function names)
        self.targets = targets
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        spans = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if spans._depth[layer]:
                return fn(*args, **kwargs)
            spans._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.seconds[layer] += time.perf_counter() - t0
                spans.calls[layer] += 1
                spans._depth[layer] -= 1

        return wrapper

    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, (module, names) in self.targets.items():
            mod = importlib.import_module(module)
            for name in names:
                fn = getattr(mod, name)
                originals[id(fn)] = self._wrap(layer, fn)
        # rebind every module-level alias of a wrapped function, so
        # ``from x import f`` bindings made at import time are traced too
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress event of the session's queries."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {
            "id": str(p.id),
            "duration": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1


_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
_NODE_RE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s)?(\w+)")
_EXCHANGES = {"Exchange", "BroadcastExchange"}


def _is_python_node(name: str) -> bool:
    return "InPandas" in name or "InArrow" in name or "Python" in name


def final_plan_text(plan: str) -> str:
    """The final adaptive plan of an executed plan string (the whole
    string when adaptive execution did not wrap it)."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1]
        plan = plan.split("== Initial Plan ==", 1)[0]
    return plan


def plan_shape(plan: str) -> dict[str, int]:
    """Counts of exchanges, checkpoint leaves and Python nodes in the
    final plan of an executed plan string."""
    counts = {"exchanges": 0, "checkpoint_leaves": 0, "python_nodes": 0}
    for line in final_plan_text(plan).splitlines():
        m = _NODE_RE.match(line)
        if m is None:
            continue
        name = m[1]
        if name in _EXCHANGES:
            counts["exchanges"] += 1
        elif name == "Scan" and "ExistingRDD" in line:
            counts["checkpoint_leaves"] += 1
        elif _is_python_node(name):
            counts["python_nodes"] += 1
    return counts


def planning_phases_ms(tracker_text: str) -> dict[str, int]:
    """``{phase: ms}`` from ``QueryPlanningTracker.phases().toString()``."""
    return {m[1]: int(m[3]) - int(m[2]) for m in _PHASE_RE.finditer(tracker_text)}


#: StageData getter → (layer metric, scale to the reported unit)
_STAGE_FIELDS = {
    "executorRunTime": ("exec.executor_run_s", 1e-3),
    "executorCpuTime": ("exec.executor_cpu_s", 1e-9),
    "jvmGcTime": ("exec.jvm_gc_s", 1e-3),
    "inputBytes": ("exec.input_mb", 1 / 2**20),
    "shuffleReadBytes": ("exec.shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("exec.shuffle_write_mb", 1 / 2**20),
    "diskBytesSpilled": ("exec.spill_mb", 1 / 2**20),
    "outputBytes": ("exec.output_mb", 1 / 2**20),
}


#: layer -> (module, public functions) timed by ``ModuleSpans``
SPAN_TARGETS = {
    "sources": (
        f"{PACKAGE}.sources.readers",
        ("load_table", "table_column_minmax", "table_row_count"),
    ),
    "evaluation": (f"{PACKAGE}.evaluation", ("evaluate_binary_operational",)),
}

#: Every per-layer metric the traced run reports, with its unit.
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "plans.load_all_s": "s",
    "plans.build_s": "s",
    "plans.py4j_cmds": "count",
    "plans.eager_jobs": "count",
    "sources.calls": "count",
    "sources.s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_missing": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.output_mb": "MB",
    "plan.exchanges": "count",
    "plan.checkpoint_leaves": "count",
    "plan.python_nodes": "count",
    "pipelines.power_s": "s",
    "pipelines.py4j_cmds": "count",
    "evaluation.binary_s": "s",
    "streaming.run_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_mem_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "streaming.start_stop_s": "s",
    "session.cached_rdds": "count",
    "session.cached_mb": "MB",
    "session.temp_views": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


class Tracer:
    """Accumulates the per-layer metrics of one traced pass."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.py4j = Py4JCounter()
        self.listener = StreamProgress()
        self.spans = ModuleSpans(SPAN_TARGETS)
        self.m: dict[str, float] = defaultdict(float)
        self.self_s = 0.0
        self._group = 0
        self._streams = 0

    # -- lifecycle ---------------------------------------------------
    def start(self) -> None:
        self.spark.streams.addListener(self.listener)
        self.spans.install()
        self.py4j.install()

    def stop(self) -> None:
        self.py4j.uninstall()
        self.spans.uninstall()
        self.spark.streams.removeListener(self.listener)

    # -- one call ----------------------------------------------------
    def traced_call(self, call, spark, plan, queries):
        """``workloads.build`` then the action, each under its own job
        group, with the call's counts and times added to the layers."""
        from workloads import build

        build_group = self.new_group("build")
        cmds0 = self.py4j.count
        t0 = time.perf_counter()
        out = build(call, spark, plan, queries)
        build_s = time.perf_counter() - t0
        cmds = self.py4j.count - cmds0
        eager_jobs = len(self.jobs_of(build_group))
        if call.kind == "query":
            self.m["plans.build_s"] += build_s
            self.m["plans.py4j_cmds"] += cmds
            self.m["plans.eager_jobs"] += eager_jobs
        elif call.kind == "stream":
            self._streams += 1
            self.m["streaming.run_s"] += build_s
        else:
            self.m[f"pipelines.{call.kind}_s"] += build_s
            self.m["pipelines.py4j_cmds"] += cmds
        self.add_stage_metrics(build_group)
        if call.kind not in ("query", "stream"):
            return out
        action_group = self.new_group("action")
        t0 = time.perf_counter()
        counted = out.groupBy().count()
        result = counted.collect()[0][0]
        self.m["exec.action_s"] += time.perf_counter() - t0
        self.add_stage_metrics(action_group)
        self.add_catalyst_and_shape(counted._jdf)
        return result

    def layer_metrics(self, wall_s: float, get_spark_s: float, load_all_s: float) -> dict[str, tuple[float, str]]:
        """Every per-layer metric of the pass, as ``{name: (value, unit)}``."""
        self.add_stream_progress(self._streams)
        m = self.m
        m["session.get_spark_s"] = get_spark_s
        m["plans.load_all_s"] = load_all_s
        m["sources.calls"] = self.spans.calls["sources"]
        m["sources.s"] = self.spans.seconds["sources"]
        m["evaluation.binary_s"] = self.spans.seconds["evaluation"]
        m["streaming.start_stop_s"] = m["streaming.run_s"] - m["streaming.trigger_ms"] / 1000
        m["trace.wall_s"] = wall_s
        m["trace.overhead_s"] = self.self_s
        return {name: (m[name], unit) for name, unit in PER_LAYER_UNITS.items()}

    @contextlib.contextmanager
    def own_work(self):
        """Time the tracer's own reads and exclude them from the py4j count.
        First let the listener bus deliver every event so far to the status
        store."""
        t0 = time.perf_counter()
        with self.py4j.paused():
            try:
                self.sc._jsc.sc().listenerBus().waitUntilEmpty()
                yield
            finally:
                self.self_s += time.perf_counter() - t0

    def new_group(self, tag: str) -> str:
        self._group += 1
        group = f"perfbench-{self._group}-{tag}"
        with self.own_work():
            self.sc.setJobGroup(group, group)
        return group

    # -- Spark reads -------------------------------------------------
    def jobs_of(self, group: str) -> list[int]:
        with self.own_work():
            return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def add_stage_metrics(self, group: str) -> None:
        """Add the task metrics of every stage the group's jobs ran. Read
        right after the call: the status store keeps only the most recent
        ``spark.ui.retainedStages`` stages."""
        with self.own_work():
            tracker = self.sc.statusTracker()
            store = self.sc._jsc.sc().statusStore()
            stage_ids: set[int] = set()
            jobs = list(tracker.getJobIdsForGroup(group))
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is not None:
                    stage_ids.update(info.stageIds)
            self.m["exec.jobs"] += len(jobs)
            for sid in sorted(stage_ids):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store, or never submitted
                    self.m["exec.stages_missing"] += 1
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self.m["exec.stages"] += 1
                self.m["exec.tasks"] += sd.numTasks()
                for getter, (name, scale) in _STAGE_FIELDS.items():
                    self.m[name] += getattr(sd, getter)() * scale

    def add_catalyst_and_shape(self, jdf) -> None:
        with self.own_work():
            qe = jdf.queryExecution()
            for phase, ms in planning_phases_ms(qe.tracker().phases().toString()).items():
                self.m[f"catalyst.{phase}_ms"] += ms
            for k, v in plan_shape(qe.executedPlan().toString()).items():
                self.m[f"plan.{k}"] += v

    def add_session_state(self) -> None:
        """What a pass leaves behind in the session: cached (checkpointed)
        RDDs and temporary views (memory-sink tables)."""
        with self.own_work():
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            self.m["session.cached_rdds"] = len(infos)
            self.m["session.cached_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
            self.m["session.temp_views"] = sum(1 for t in self.spark.catalog.listTables() if t.isTemporary)

    def add_stream_progress(self, expected_queries: int, timeout_s: float = 10.0) -> None:
        """Fold the listener's progress events into streaming.* metrics.
        Events arrive on the callback thread, so wait until every query's
        termination has been delivered."""
        with self.own_work():
            deadline = time.monotonic() + timeout_s
            while self.listener.terminated < expected_queries and time.monotonic() < deadline:
                time.sleep(0.05)
            last: dict[str, dict] = {}
            for p in self.listener.progress:
                d = p["duration"]
                self.m["streaming.batches"] += 1
                self.m["streaming.trigger_ms"] += d.get("triggerExecution", 0)
                self.m["streaming.add_batch_ms"] += d.get("addBatch", 0)
                self.m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
                self.m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
                self.m["streaming.state_commit_ms"] += p["state_commit_ms"]
                last[p["id"]] = p
            self.m["streaming.state_rows"] += sum(p["state_rows"] for p in last.values())
            self.m["streaming.state_mem_mb"] += sum(p["state_bytes"] for p in last.values()) / 2**20
