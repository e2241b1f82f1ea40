"""Spans, Spark's own instrumentation, and host witnesses.

Nothing here reaches into ``geo_epic_spark``: spans are recorded in the
benchmark's own files around each public call, and layer numbers come from
what Spark already keeps:

* SQL plan metrics of every SQL execution an op started: the plan graph
  (node names, and each metric's accumulator id) from the SQL status store,
  so writes count as well as DataFrame actions; the raw values from Spark's
  event log (see ``EventLog``).
* Stage and task metrics from the application status store.
* Python UDF self time from ``spark.sql.pyspark.udf.profiler=perf``.

The status stores and the event log are fed from Spark's listener bus,
asynchronously, so every read (and every ``mark()``) first waits for the
bus to drain.
"""

from __future__ import annotations

import contextlib
import json
import os
import pstats
import shutil
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span recorder.  Spans nest by the order they are opened;
    ``self_times`` subtracts the part of each span its children cover."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and s.end:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            if s.end:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.sid]
        return out

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name and s.end)

    def records(self) -> list[dict]:
        return [dict(id=s.sid, name=s.name, parent=s.parent, start=s.start, end=s.end, **s.attrs)
                for s in self.spans]


# ------------------------------------------------------------- SQL metrics

class EventLog:
    """Raw SQL metric values, by accumulator id, from Spark's event log:
    the sum of every task's update, and the driver-side updates (broadcast
    build, write statistics).  The status stores are no source for these:
    they keep only formatted totals, and none at all for a plan run through
    an RDD (``localCheckpoint``); the live accumulators are held weakly, so
    a garbage collection between an op and its read loses them."""

    def __init__(self, directory: str):
        self.dir = directory
        self.pos = 0
        self.values: dict[int, float] = {}

    def read(self) -> dict[int, float]:
        """Fold in every complete event written since the last read."""
        (name,) = os.listdir(self.dir)  # one application per run
        with open(os.path.join(self.dir, name), "rb") as f:
            f.seek(self.pos)
            data = f.read()
        data = data[:data.rfind(b"\n") + 1]
        self.pos += len(data)
        for line in data.splitlines():
            if b'"SparkListenerTaskEnd"' in line:
                for acc in json.loads(line)["Task Info"].get("Accumulables", []):
                    if acc.get("Metadata") == "sql" and "Update" in acc:
                        self._add(acc["ID"], acc["Update"])
            elif b"SparkListenerDriverAccumUpdates" in line:
                for acc_id, v in json.loads(line)["accumUpdates"]:
                    self._add(acc_id, v)
        return self.values

    def _add(self, acc_id: int, v) -> None:
        v = float(v)
        if v > 0:  # a size or timing metric never set reads -1
            self.values[acc_id] = self.values.get(acc_id, 0.0) + v


@dataclass
class Node:
    name: str
    stage: str | None  # the WholeStageCodegen cluster holding the node
    metrics: dict[str, float]
    inputs: list["Node"] = field(default_factory=list)  # child plan nodes


class SparkProbe:
    """Reads Spark's instrumentation for whatever ran since ``mark()``."""

    def __init__(self, spark, event_dir: str):
        self.sc = spark.sparkContext
        self.events = EventLog(event_dir)
        self.jvm = self.sc._jvm
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        self._exec0 = 0
        self._stage0 = -1

    def settle(self) -> None:
        """Wait until every queued listener event has reached the status
        stores and the event log, so the last action's stages, metrics and
        final (adaptive) plan are all in."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self.settle()
        self._exec0 = self.sql_store.executionsCount()
        self._stage0 = self._max_stage_id()

    def _stages(self):
        empty = self.jvm.java.util.ArrayList()
        lst = self.app_store.stageList(empty, False, False,
                                       self.sc._gateway.new_array(self.jvm.double, 0), empty)
        return [lst.apply(i) for i in range(lst.size())]

    def _max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def plan_nodes(self) -> list[Node]:
        """Every plan node of every SQL execution since ``mark()``."""
        out: list[Node] = []
        values = self.events.read()
        lst = self.sql_store.executionsList(self._exec0, 1 << 20)
        for i in range(lst.size()):
            eid = lst.apply(i).executionId()
            graph = self.sql_store.planGraph(eid)
            by_id: dict[int, Node] = {}
            top = graph.nodes()
            for j in range(top.size()):
                self._collect(top.apply(j), None, values, by_id)
            edges = graph.edges()
            for j in range(edges.size()):
                e = edges.apply(j)
                if e.toId() in by_id and e.fromId() in by_id:
                    by_id[e.toId()].inputs.append(by_id[e.fromId()])
            out.extend(by_id.values())
        return out

    def _collect(self, node, stage, values, by_id) -> None:
        ms = node.metrics()
        metrics: dict[str, float] = {}
        for k in range(ms.size()):
            pm = ms.apply(k)
            metrics[pm.name()] = metrics.get(pm.name(), 0.0) + values.get(pm.accumulatorId(), 0.0)
        name = node.name()
        by_id[node.id()] = Node(name, stage, metrics)
        if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
            inner = node.nodes()
            for k in range(inner.size()):
                self._collect(inner.apply(k), name, values, by_id)

    def stages(self) -> list:
        return [s for s in self._stages() if s.stageId() > self._stage0]

    def task_durations(self, stage) -> list[int]:
        tl = self.app_store.taskList(stage.stageId(), stage.attemptId(), 1 << 20)
        out = []
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                out.append(int(d.get()))
        return out

    def jvm_pid(self) -> int | None:
        proc = getattr(self.sc._gateway, "proc", None)
        return proc.pid if proc is not None else None


# -------------------------------------------------------- layer metrics

ARROW_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
               "BatchEvalPython", "PythonMapInArrow", "FlatMapCoGroupsInPandas")
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate", "Sort",
             "Window", "WindowGroupLimit")


def rows_out(node: Node) -> float:
    """Output rows of ``node``; row-preserving nodes without the metric
    (Sort, Project, InputAdapter, a query stage) report their input's."""
    v = node.metrics.get("number of output rows")
    if v is not None:
        return v
    return sum(rows_out(c) for c in node.inputs)


def layer_metrics(nodes: list[Node], stages: list, probe: SparkProbe) -> dict[str, float]:
    """Per-layer sums over one op's plan nodes and stages."""
    m: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        m[k] = m.get(k, 0.0) + v

    probe_stages = {n.stage for n in nodes if n.stage and n.name in
                    ("BroadcastHashJoin", "BroadcastNestedLoopJoin")}
    for n in nodes:
        g = n.metrics.get
        if n.name.startswith("WholeStageCodegen"):
            add("plan.codegen_stages", 1)
            if n.name in probe_stages:
                add("spatial.probe_ms", g("duration", 0.0))
        elif n.name == "BroadcastExchange":
            add("spatial.bcast_build_ms", g("time to build", 0.0))
            add("spatial.bcast_bytes", g("data size", 0.0))
            add("bcast.rows", g("number of output rows", 0.0))
        elif n.name.startswith(ARROW_NODES):
            add("arrow.python_boot_ms", g("time to start Python workers", 0.0))
            add("arrow.python_init_ms", g("time to initialize Python workers", 0.0))
            add("arrow.python_total_ms", g("time to run Python workers", 0.0))
            add("arrow.bytes_sent", g("data sent to Python workers", 0.0))
            add("arrow.bytes_received", g("data returned from Python workers", 0.0))
            add("arrow.rows", g("number of output rows", 0.0))
        elif n.name.startswith(AGG_NODES):
            add("agg.peak_mem_bytes", g("peak memory", 0.0))
            add("agg.spill_bytes", g("spill size", 0.0))
        elif n.name.startswith("Scan parquet"):
            add("scan.files_read", g("number of files read", 0.0))
            add("scan.rows_read", g("number of output rows", 0.0))
        elif n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            add("write.files", g("number of written files", 0.0))
            add("write.bytes", g("written output", 0.0))
            add("write.rows", g("number of output rows", 0.0))
        if n.name in ("Window", "WindowGroupLimit"):
            add("window.rows_in", sum(rows_out(c) for c in n.inputs))
    longest, longest_run = None, -1
    for s in stages:
        add("task.run_s", s.executorRunTime() / 1e3)
        add("task.cpu_s", s.executorCpuTime() / 1e9)
        add("task.gc_s", s.jvmGcTime() / 1e3)
        add("task.failed", s.numFailedTasks())
        add("shuffle.write_bytes", s.shuffleWriteBytes())
        add("shuffle.write_ms", s.shuffleWriteTime() / 1e6)
        add("shuffle.fetch_wait_ms", s.shuffleFetchWaitTime())
        if s.executorRunTime() > longest_run:
            longest, longest_run = s, s.executorRunTime()
    if longest is not None:
        d = probe.task_durations(longest)
        if d:
            m["task.skew_max_ms"] = float(max(d))
            m["task.skew_median_ms"] = float(max(statistics.median(d), 1))
    return m


def udf_self_seconds(spark, dump_dir: str) -> float:
    """Sum of cProfile time over every UDF profiled since the last clear,
    then clear."""
    shutil.rmtree(dump_dir, ignore_errors=True)
    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for f in os.listdir(dump_dir):
        if f.endswith(".pstats"):
            total += pstats.Stats(os.path.join(dump_dir, f)).total_tt
    spark.profile.clear(type="perf")
    return total


# ------------------------------------------------------------------ host

def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(v) for v in parts]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[0] - t0[0]
    return (t1[1] - t0[1]) / total if total > 0 else 0.0


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    out = 0.0
    for pid in pids:
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out += int(line.split()[1]) / 1024
        except OSError:
            continue
    return out
