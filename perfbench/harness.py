"""Measurement plumbing shared by the workloads.

Everything here observes the engine from the outside:

- ``ProcTree``: CPU seconds of the Spark JVM plus every process below it
  (the PySpark daemon and its forked Arrow workers are children of the JVM,
  not of this driver process), read from ``/proc``;
- ``HostSampler``: ``/proc/stat`` steal share and load over the run;
- ``Tracer``: in-memory spans (name, start, end, parent, op id) recorded
  around calls into the engine's public functions, written out at the end;
- ``plan_layers``: per-operator SQL metrics from the executed plan of the
  op's own Dataset, mapped onto the route / probe / refine / merge stages;
- ``JobCounter``: driver jobs and stages per op, counted under a job group;
- ``ClosedLoop``: the op loop of the workloads that wait for each answer.
"""

from __future__ import annotations

import json
import os
import platform
import re
import statistics
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- outside-in resource accounting -------------------------------------


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one pid, or None if it
    exited while being read."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens; the fields after the LAST ')' are fixed
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(v) for v in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / CLK_TCK


class ProcTree:
    """CPU seconds consumed by ``root_pid`` and all of its descendants.

    Each process contributes its own time plus the time of children it has
    already reaped, so a Python worker that exits between two readings
    still counts (in its parent's cutime) and nothing counts twice."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid

    def cpu_s(self) -> float:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _proc_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0.0, [self.root_pid]
        while todo:
            pid = todo.pop()
            if pid in stats:
                total += stats[pid][1]
            todo.extend(children.get(pid, ()))
        return total


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


class HostSampler:
    """What the host was doing over the run: ``/proc/stat`` steal share
    (shared-VM contention), load averages at start and end."""

    def __init__(self):
        self.t0 = _cpu_times()
        self.load_start = os.getloadavg()[0]

    def describe(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self.t0, t1)]
        busy_total = sum(delta[:8]) or 1  # guest time is already in user
        return {
            "nproc": os.cpu_count(),
            "mem_total_mb": round(_mem_total_mb()),
            "load1_start": self.load_start,
            "load1_end": os.getloadavg()[0],
            "steal_share": delta[7] / busy_total if len(delta) > 7 else 0.0,
            "python": platform.python_version(),
        }


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def live_heap_reads_mb(spark, reads: int = 5) -> list[float]:
    """JVM heap still in use after each of ``reads`` full GCs: caches or
    state that are never released show up here.  The run reports their
    median, since one GC can leave a little garbage behind."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    out = []
    for _ in range(reads):
        jvm.java.lang.System.gc()
        out.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    return out


def versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


# --- tracing -------------------------------------------------------------


class Tracer:
    """Spans kept in memory. ``enabled=False`` makes ``span`` a no-op
    context so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds (duration minus the
        part covered by child spans)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += d - child_s.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_times": self.self_times()}, f)


# --- executed-plan metrics -------------------------------------------------


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _metrics(node) -> dict[str, float]:
    """SQL metrics of one node; times in seconds, sizes in bytes."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = float(m.value())
        kind = m.metricType()
        if kind == "timing":
            v /= 1e3
        elif kind == "nsTiming":
            v /= 1e9
        out[kv._1()] = v
    return out


_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin")


def _subtree_has_join(node) -> bool:
    """True if this codegen stage (not crossing stage boundaries) holds a
    join operator."""
    todo = [node]
    while todo:
        n = todo.pop()
        name = n.nodeName()
        if any(name.startswith(j) for j in _JOINS):
            return True
        cls = n.getClass().getSimpleName()
        if cls in ("InputAdapter",) or cls.endswith("QueryStageExec"):
            continue
        if cls == "AdaptiveSparkPlanExec":
            continue
        ch = n.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return False


def executed_plan(df):
    """The executed plan of the QueryExecution an action on ``df`` ran."""
    return df._jdf.queryExecution().executedPlan()


def plan_layers(plan, scan_table: str | None = None) -> dict[str, float]:
    """Map an executed plan onto the pipeline stages:

    - route: query-cell rows, bytes and build time of the broadcast side;
    - probe: rows out of the cell equi-joins and the task time of the
      codegen stages that hold them;
    - refine: rows and bytes that crossed Arrow into Python workers and
      their time there;
    - merge: rows out of the first (partial) and the last aggregate of the
      result dedup or window count, and the bytes of its exchange;
    - landed: files read by the file scans of ``scan_table``.

    For a batch op, pass ``executed_plan(df)`` after an action on ``df``
    itself (collect/toPandas): a separate ``noop`` write builds a new
    QueryExecution and leaves these metrics at zero.  For a stream, pass the
    executed plan of the micro-batch's own execution.
    """
    acc = {k: 0.0 for k in (
        "route.query_cells", "route.broadcast_mb", "route.broadcast_build_s",
        "probe.join_rows", "probe.s",
        "refine.arrow_rows", "refine.arrow_mb_sent",
        "refine.python_s", "merge.pre_dedup_rows", "merge.result_rows",
        "merge.shuffle_mb", "plan.exchanges",
    )}
    if scan_table:
        acc["landed.files_scanned"] = 0.0
    final_aggs: list[float] = []

    def walk(node) -> None:
        name = node.nodeName()
        m = _metrics(node)
        if name == "BroadcastExchange":
            acc["route.query_cells"] += m.get("numOutputRows", 0)
            acc["route.broadcast_mb"] += m.get("dataSize", 0) / 2**20
            acc["route.broadcast_build_s"] += (
                m.get("collectTime", 0) + m.get("buildTime", 0)
            )
        elif any(name.startswith(j) for j in _JOINS):
            acc["probe.join_rows"] += m.get("numOutputRows", 0)
        elif name.startswith("WholeStageCodegen") and _subtree_has_join(node):
            acc["probe.s"] += m.get("pipelineTime", 0)
        elif name in ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                      "BatchEvalPython", "FlatMapGroupsInPandas"):
            acc["refine.arrow_rows"] += m.get("pythonNumRowsReceived", 0)
            acc["refine.arrow_mb_sent"] += m.get("pythonDataSent", 0) / 2**20
            acc["refine.python_s"] += m.get("pythonTotalTime", 0)
        elif name == "Exchange":
            acc["merge.shuffle_mb"] += m.get("dataSize", 0) / 2**20
            acc["plan.exchanges"] += 1
        elif name == "HashAggregate":
            final_aggs.append(m.get("numOutputRows", 0))
        elif scan_table and name.startswith("Scan") and name.endswith(scan_table):
            acc["landed.files_scanned"] += m.get("numFiles", 0)
        for c in _children(node):
            walk(c)

    walk(plan)
    # dropDuplicates plans as final HashAggregate <- Exchange <- partial
    # HashAggregate (a streaming count adds state-store merges between the
    # two); the walk meets the final one first and the partial one last
    if len(final_aggs) >= 2:
        acc["merge.result_rows"] = final_aggs[0]
        acc["merge.pre_dedup_rows"] = final_aggs[-1]
    return acc


def add_layers(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: a.get(k, 0.0) + b.get(k, 0.0) for k in a.keys() | b.keys()}


# --- driver jobs per op ----------------------------------------------------


_BATCH_RE = re.compile(r"batch = (\d+)")  # a streaming job's description


class JobCounter:
    """Jobs and distinct stages the driver ran under one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def group(self):
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, "perfbench op")
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, gid: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return len(jobs), len(stages)

    def stream_batches(self, run_id: str) -> dict[int, tuple[int, set]]:
        """Jobs and stage ids per micro-batch of a streaming query, which
        runs its jobs in a group named after its runId, each described with
        ``batch = <id>``."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out: dict[int, tuple[int, set]] = {}
        for j in st.getJobIdsForGroup(run_id):
            info = st.getJobInfo(j)
            try:
                desc = store.job(j).description()
            except Exception:  # dropped from the status store
                continue
            m = _BATCH_RE.search(desc.get()) if desc.isDefined() else None
            if m is None or info is None:
                continue
            n, stages = out.get(int(m.group(1)), (0, set()))
            out[int(m.group(1))] = (n + 1, stages | set(info.stageIds))
        return out


# --- the closed loop ------------------------------------------------------


class ClosedLoop:
    """A client that submits its next op when the previous answer is in.

    Subclasses provide ``_run_op(op) -> dict`` with at least ``s`` (the op's
    seconds, submit to complete answer) and ``docs`` (input rows the op
    covered), and ``check(ops)`` setting ``ok`` on each op."""

    def __init__(self, ctx):
        self.ctx = ctx

    def warm(self, n_ops: int) -> list[float]:
        return [self._run_op(-1 - i)["s"] for i in range(n_ops)]

    def measure(self, seconds: float) -> list[dict]:
        """Ops started within ``seconds``; one that raises counts as failed."""
        ops = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            op = len(ops) + 1000 * self.ctx.phase
            try:
                ops.append(self._run_op(op))
            except Exception as exc:
                self.ctx.log(f"op {op} raised: {exc!r}")
                ops.append({"op": op, "error": repr(exc)})
        return ops

    @staticmethod
    def docs_per_s(ops: list[dict]) -> float:
        """Input rows covered per second the ops were running."""
        busy = sum(o["s"] for o in ops)
        return sum(o["docs"] for o in ops) / busy if busy else 0.0

    def extra_layers(self, ops: list[dict]) -> dict:
        return {}


# --- summaries ----------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
