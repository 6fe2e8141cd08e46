"""Per-layer tracing from outside the package.

Spans are recorded around the package's public layer functions by wrapping
them from here: every package module that bound one of them at import (for
example ``pipeline.py`` binds ``load_table``, ``staged_overwrite`` and
``export_as_txt``) gets the wrapper too. Each operation runs under its own
Spark job group; build-time and clustering jobs carry job tags. After a pass,
job, stage and SQL-plan data come from Spark's status stores (live with
``spark.ui.enabled=false``) and planning phase times from each returned
DataFrame's ``queryExecution()``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

from workloads import PACKAGE

BUILD_TAG = "perfbench-build"
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024

# (layer, module, function); the job-tagged ones also get a per-call job count.
LAYER_FUNCTIONS = (
    ("catalog", "catalog", "load_table"),
    ("catalog", "catalog", "last_order_datetime"),
    ("clustering", "operators.clustering", "connected_components"),
    ("clustering", "operators.clustering", "pagerank"),
    ("sources", "sources.overwrite", "staged_overwrite"),
    ("sources", "sources.export", "export_as_txt"),
)
TAGGED = {"connected_components", "pagerank"}


# --- /proc readers ----------------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2 :].split()


def descendants_cpu_s(root_pid: int) -> float:
    """CPU seconds of every live descendant of ``root_pid`` (the JVM's Python
    daemon and workers), including what they reaped from exited children."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, stack = 0, list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --- Spark status readers ----------------------------------------------------


class SparkStatus:
    """Jobs and stages from the core status store, as JSON in one call each;
    executions and their plan graphs from the SQL status store."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala.__getattr__("MODULE$"))

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        s = self._store
        seq = s.stageList(
            None, False, False, getattr(s, "stageList$default$4")(),
            getattr(s, "stageList$default$5")(),
        )
        return json.loads(self._mapper.writeValueAsString(seq))

    def executions_since(self, first_id: int) -> list[tuple[int, set[int], list[str]]]:
        """(execution id, job ids, plan-graph node names) per SQL execution
        with id >= ``first_id``; the graph is the final AQE plan."""
        out = []
        for e in self._executions():
            eid = e.executionId()
            if eid < first_id:
                continue
            jobs = {int(j) for j in _seq(e.jobs().keys().toSeq())}
            nodes = self._sql.planGraph(eid).allNodes()
            out.append((eid, jobs, [n.name() for n in _seq(nodes)]))
        return out

    def next_execution_id(self) -> int:
        self.drain()
        return max((e.executionId() for e in self._executions()), default=-1) + 1

    def _executions(self) -> list:
        count = int(self._sql.executionsCount())
        return _seq(self._sql.executionsList(0, count)) if count else []


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def is_exchange(node_name: str) -> bool:
    return node_name.endswith("Exchange") and not node_name.startswith("Reused")


def plan_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of a DataFrame's QueryExecution
    (planning is forced if the frame itself was never executed)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        out[name] = float(phases.apply(name).durationMs()) if phases.contains(name) else 0.0
    return out


# --- the tracer --------------------------------------------------------------


@dataclass
class OpTrace:
    group: str
    wall_s: float = 0.0
    build_s: float = 0.0
    frames: list = field(default_factory=list)
    python_cpu_s: float = 0.0


class Tracer:
    """Installs the layer wrappers for one traced pass and turns the status
    stores into per-layer metrics afterwards."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.status = SparkStatus(spark)
        self.jvm_pid = jvm_pid
        self.cores = self.sc.defaultParallelism
        self.spans: Counter = Counter()
        self.calls: Counter = Counter()
        self._restore: list[tuple[object, str, object]] = []
        self.ops: list[OpTrace] = []
        self._current: OpTrace | None = None
        self._build_depth = 0
        self._id = uuid.uuid4().hex[:8]  # job groups stay unique per tracer

    # wrappers -----------------------------------------------------------
    def _layer_wrapper(self, layer: str, fname: str, fn):
        key = f"{layer}.{fname}"
        tag = f"perfbench-{key}" if fname in TAGGED else None

        def wrapper(*args, **kwargs):
            if tag:
                self.sc.addJobTag(tag)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans[key] += time.perf_counter() - t0
                self.calls[key] += 1
                if tag:
                    self.sc.removeJobTag(tag)

        return wrapper

    def _build_wrapper(self, fn):
        def wrapper(*args, **kwargs):
            outer = self._build_depth == 0
            self._build_depth += 1
            if outer:
                self.sc.addJobTag(BUILD_TAG)
            t0 = time.perf_counter()
            try:
                df = fn(*args, **kwargs)
            finally:
                self._build_depth -= 1
                if outer:
                    self.sc.removeJobTag(BUILD_TAG)
                    if self._current is not None:
                        self._current.build_s += time.perf_counter() - t0
            if outer and self._current is not None:
                self._current.frames.append(df)
            return df

        return wrapper

    def install(self) -> None:
        from importlib import import_module

        from databricks_spark_sql_challenge1_spark.registry import QUERIES

        originals = {}
        for layer, mod, fname in LAYER_FUNCTIONS:
            fn = getattr(import_module(f"{PACKAGE}.{mod}"), fname)
            originals[id(fn)] = self._layer_wrapper(layer, fname, fn)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals:
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, originals[id(val)])
        for name, fn in list(QUERIES.items()):
            self._restore.append((QUERIES, name, fn))
            QUERIES[name] = self._build_wrapper(fn)

    def uninstall(self) -> None:
        for target, attr, val in reversed(self._restore):
            if isinstance(target, dict):
                target[attr] = val
            else:
                setattr(target, attr, val)
        self._restore.clear()

    # one operation ------------------------------------------------------
    def begin(self, label: str) -> OpTrace:
        op = OpTrace(group=f"perfbench-{self._id}-{len(self.ops)}-{label}")
        self.sc.setJobGroup(op.group, label)
        self.ops.append(op)
        self._current = op
        op.python_cpu_s = -descendants_cpu_s(self.jvm_pid)
        return op

    def end(self, op: OpTrace, wall_s: float) -> None:
        op.python_cpu_s += descendants_cpu_s(self.jvm_pid)
        op.wall_s = wall_s
        self.sc._jsc.clearJobGroup()
        self._current = None

    # metrics ------------------------------------------------------------
    def metrics(self, first_execution_id: int) -> dict[str, float]:
        """Per-layer metrics summed over the traced operations (one pass)."""
        ops = self.ops
        self.status.drain()
        groups = {op.group for op in ops}
        all_jobs = self.status.jobs()
        jobs = [j for j in all_jobs if j.get("jobGroup") in groups]
        stages = self.status.stages()
        build = [j for j in jobs if BUILD_TAG in j.get("jobTags", ())]
        action = [j for j in jobs if BUILD_TAG not in j.get("jobTags", ())]
        action_ids = {j["jobId"] for j in action}

        # A shuffle stage runs in the first job that lists it; later jobs
        # list it again as skipped.
        owner: dict[int, int] = {}
        for j in sorted(all_jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        known = {s["stageId"] for s in stages}
        if not {sid for j in jobs for sid in j["stageIds"]} <= known:
            raise RuntimeError("the status store evicted stages of a traced pass")

        def stage_rows(job_list):
            ids = {j["jobId"] for j in job_list}
            return [s for s in stages if owner.get(s["stageId"]) in ids and s["status"] != "SKIPPED"]

        act_stages = stage_rows(action)
        all_stages = stage_rows(jobs)

        def total(rows, key):
            return sum(s[key] for s in rows)

        exchanges = 0
        for _eid, job_ids, nodes in self.status.executions_since(first_execution_id):
            if job_ids and job_ids <= action_ids:
                exchanges += sum(1 for n in nodes if is_exchange(n))

        phases = Counter()
        for op in ops:
            for df in op.frames:
                phases.update(plan_phases_ms(df))

        wall = sum(op.wall_s for op in ops)
        build_s = sum(op.build_s for op in ops)
        action_s = wall - build_s
        run_s = total(act_stages, "executorRunTime") / 1e3
        cpu_s = total(act_stages, "executorCpuTime") / 1e9

        def tagged(fname):
            tag = f"perfbench-clustering.{fname}"
            return sum(1 for j in jobs if tag in j.get("jobTags", ()))

        return {
            "catalog.load_table_calls": self.calls["catalog.load_table"],
            "catalog.load_table_s": self.spans["catalog.load_table"],
            "catalog.last_order_datetime_s": self.spans["catalog.last_order_datetime"],
            "operators.build_s": build_s,
            "operators.build_jobs": len(build),
            "operators.build_share": build_s / wall if wall else 0.0,
            "clustering.connected_components_calls": self.calls[
                "clustering.connected_components"
            ],
            "clustering.connected_components_s": self.spans["clustering.connected_components"],
            "clustering.connected_components_jobs": tagged("connected_components"),
            "clustering.pagerank_s": self.spans["clustering.pagerank"],
            "clustering.pagerank_jobs": tagged("pagerank"),
            "execution.action_s": action_s,
            "execution.jobs": len(action),
            "execution.stages": len({s["stageId"] for s in act_stages}),
            "execution.tasks": total(act_stages, "numCompleteTasks")
            + total(act_stages, "numFailedTasks")
            + total(act_stages, "numKilledTasks"),
            "execution.exchanges": exchanges,
            "execution.plan_analysis_ms": phases["analysis"],
            "execution.plan_optimization_ms": phases["optimization"],
            "execution.plan_planning_ms": phases["planning"],
            "execution.executor_run_s": run_s,
            "execution.executor_cpu_s": cpu_s,
            "execution.run_minus_cpu_s": run_s - cpu_s,
            "execution.python_cpu_s": sum(op.python_cpu_s for op in ops),
            "execution.core_busy_frac": run_s / (action_s * self.cores) if action_s else 0.0,
            "execution.shuffle_write_mb": total(act_stages, "shuffleWriteBytes") / _MB,
            "execution.shuffle_read_mb": total(act_stages, "shuffleReadBytes") / _MB,
            "execution.shuffle_write_records": total(act_stages, "shuffleWriteRecords"),
            "execution.spill_mb": total(act_stages, "diskBytesSpilled") / _MB,
            "execution.gc_s": total(act_stages, "jvmGcTime") / 1e3,
            "execution.failed_tasks": total(all_stages, "numFailedTasks"),
            "sources.staged_overwrite_s": self.spans["sources.staged_overwrite"],
            "sources.export_as_txt_s": self.spans["sources.export_as_txt"],
            "sources.bytes_written_mb": total(all_stages, "outputBytes") / _MB,
        }
