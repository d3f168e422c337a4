"""Tracing for the ``--trace 1`` run: in-memory spans around the
harness's calls into the program, ``/proc`` CPU of the Python workers,
and Spark event-log stage metrics attributed to ops by job description.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

# spans are named <layer>.<call>; self time is reported per layer
LAYERS = ("op", "mapping", "compiler", "graph", "cache", "sparql", "pipeline", "dedup", "plan", "exec")


class Tracer:
    """Spans as [name, start, end, parent index, op id]; a disabled
    tracer costs one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, dict[str, float]]:
        """op id → {layer: self seconds}; a span's self time is its
        duration minus its direct children's durations."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[int, dict[str, float]] = {}
        for i, (name, t0, t1, _, op) in enumerate(self.spans):
            if op is None:
                continue
            layer = name.split(".", 1)[0]
            d = out.setdefault(op, {})
            d[layer] = d.get(layer, 0.0) + (t1 - t0) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans}, f)


# -- /proc ----------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def pyworker_cpu() -> dict[str, float]:
    """pid → own CPU seconds of every pyspark daemon / worker process
    (the executor-side Python UDF processes).  Own utime+stime only: the
    daemon's cutime would charge an op with the CPU of idle workers
    reaped during it."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
        except OSError:
            continue
        st = _stat_fields(pid)
        if st:  # fields after ")" start at state (field 3): utime=14, stime=15
            out[pid] = (int(st[11]) + int(st[12])) / _TICK
    return out


def jit_threads(pid: str) -> list[str]:
    """Task ids of the JVM's JIT compiler threads (a fixed set: the run
    starts the JVM with -XX:-UseDynamicNumberOfCompilerThreads)."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    out.append(tid)
        except OSError:
            continue
    return out


def program_cpu(pids, jvm: str | None = None, jit=()) -> dict[str, float]:
    """pid → own CPU seconds of the given processes (the Python driver and
    the JVM) and of every pyspark daemon / worker.  The JVM's JIT compiler
    threads are left out: they compile the harness's and the program's
    code alike, in the background, whenever the JVM decides to.  Time the
    hypervisor steals from a vCPU is not charged to any process."""
    out = pyworker_cpu()
    for pid in pids:
        st = _stat_fields(pid)
        if st:
            out[pid] = (int(st[11]) + int(st[12])) / _TICK
    for tid in jit:
        st = _stat_fields(f"{jvm}/task/{tid}")
        if st and jvm in out:
            out[jvm] -= (int(st[11]) + int(st[12])) / _TICK
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float], skip=()) -> float:
    """CPU seconds spent between two snapshots; a process born in
    between counts from 0, one that ended is left out."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items() if pid not in skip)


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_steal_loadavg() -> dict:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": [float(x) for x in load], "steal_ticks": int(cpu[8])}


# -- Spark event log ---------------------------------------------------------

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\s+)?([A-Za-z]+) \(\d+\)")


def plan_node_counts(plan: str) -> dict[str, int]:
    """Node counts of a formatted physical-plan description; for adaptive
    plans only the current/final tree is read, and whole-stage-codegen
    stages are the distinct ``[codegen id : n]`` tags."""
    tree = plan.split("\n\n", 1)[0].split("== Initial Plan ==", 1)[0]
    # Scan ExistingRDD over a Python RDD (spark.createDataFrame of local
    # rows): its rows are converted by the Python workers
    py_rdd = {n for n, body in re.findall(r"\n\((\d+)\) Scan ExistingRDD[^\n]*\n(.*?)(?=\n\n)",
                                         plan, re.S) if "applySchemaToPythonRDD" in body}
    c = {"exchanges": 0, "arrow_eval_python": 0, "batch_eval_python": 0,
         "python_rdd_scans": len(set(re.findall(r"Scan ExistingRDD \((\d+)\)", tree)) & py_rdd),
         "wscg": len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))}
    for line in tree.splitlines():
        m = _NODE.match(line)
        node = m.group(1) if m else ""
        if node.endswith("Exchange") and not node.startswith("Reused"):
            c["exchanges"] += 1
        elif node in ("ArrowEvalPython", "MapInPandas", "MapInArrow", "PythonMapInArrow"):
            c["arrow_eval_python"] += 1
        elif node == "BatchEvalPython":
            c["batch_eval_python"] += 1
    return c


def parse_event_log(log_dir: str) -> dict:
    """→ {op id: {jobs, tasks, task_run_s, task_cpu_s, gc_s, shuffle_write,
    shuffle_read, spill, plan counts…, build_jobs}} for jobs whose
    description the harness set to ``pb:<op type>:<op id>[:<phase>]``."""
    events = []
    for dirpath, _, files in os.walk(log_dir):
        for fn in sorted(files):
            if fn.startswith("events_") or fn.startswith("app") or fn.startswith("local"):
                with open(os.path.join(dirpath, fn)) as f:
                    events.extend(json.loads(line) for line in f if line.strip())
    stage_op: dict[int, int] = {}
    exec_op: dict[int, int] = {}
    plans: dict[int, str] = {}
    ops: dict[int, dict] = {}
    zero = dict(jobs=0, build_jobs=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0, gc_s=0.0,
                shuffle_write_bytes=0, shuffle_read_bytes=0, spill_bytes=0)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            m = re.match(r"pb:(\w+):(\d+)(?::(\w+))?$", props.get("spark.job.description") or "")
            if not m:
                continue
            op = int(m.group(2))
            rec = ops.setdefault(op, dict(zero, type=m.group(1)))
            rec["jobs"] += 1
            rec["build_jobs"] += m.group(3) == "build"
            for sid in ev.get("Stage IDs", []):
                stage_op.setdefault(sid, op)
            if props.get("spark.sql.execution.id") is not None:
                exec_op.setdefault(int(props["spark.sql.execution.id"]), op)
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if op is None or not tm:
                continue
            rec = ops[op]
            rec["tasks"] += 1
            rec["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            rec["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw, sr = tm.get("Shuffle Write Metrics", {}), tm.get("Shuffle Read Metrics", {})
            rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    for ex, op in exec_op.items():
        for k, v in plan_node_counts(plans.get(ex, "")).items():
            ops[op][k] = ops[op].get(k, 0) + v
    return ops
