"""Process-tree CPU and memory, spans, and the Spark event-log reader.

CPU and memory come from ``/proc`` for this process and every descendant:
the JVM that pyspark launches and the Python workers the JVM forks. Spans
time the calls the benchmark makes into each engine module; jobs started
inside a span carry its name as their Spark job description, so the event
log attributes engine counters to the same span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, utime+stime+cutime+cstime ticks, comm) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15]), comm


def _tree() -> dict[int, tuple[int, str]]:
    """{pid: (cpu ticks, comm)} for this process and all its descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                stats[int(d)] = st
    root = os.getpid()
    kids = defaultdict(list)
    for pid, (ppid, _, _) in stats.items():
        kids[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(kids[pid])
    return out


def tree_pids() -> list[int]:
    """This process and its live descendants."""
    return list(_tree())


def tree_cpu_s(python_workers_only: bool = False) -> float:
    """CPU seconds used so far by the process tree (children that exited
    are counted through their parent's cutime/cstime)."""
    root = os.getpid()
    total = 0
    for pid, (ticks, comm) in _tree().items():
        if python_workers_only and (pid == root or not comm.startswith("python")):
            continue
        total += ticks
    return total / _TICK


def process_age_s() -> float:
    """Seconds since the kernel started this process (both clocks count
    from boot, so no wall-clock time enters)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background sampler: peak over samples of the summed ``VmHWM`` of
    the JVM and the Python workers alive at that sample."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: list[tuple[str, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        root = os.getpid()
        parts = [(comm, _hwm_kb(pid)) for pid, (_, comm) in _tree().items() if pid != root]
        kb = sum(k for _, k in parts)
        if kb > self.peak_kb:
            self.peak_kb = kb
            self.peak_parts = parts

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class Tracer:
    """In-memory spans around calls into engine modules.

    A span records wall time and Python-worker CPU; while it is open, Spark
    jobs carry its name as their job description. The untraced run uses
    ``enabled=False``: spans then only run the call.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_no = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobDescription(f"{self.pass_no}:{name}")
        t0, py0 = time.time(), tree_cpu_s(python_workers_only=True)
        try:
            yield
        finally:
            self.spans.append({
                "pass": self.pass_no, "name": name, "start": t0, "end": time.time(),
                "py_s": tree_cpu_s(python_workers_only=True) - py0,
            })
            self.sc.setJobDescription(None)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
def _acc(accumulables: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in accumulables:
        name = a.get("Name")
        try:
            val = float(a.get("Value"))
        except (TypeError, ValueError):
            continue
        if name:
            out[name] = out.get(name, 0.0) + val
    return out


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed) event log into jobs and stages.

    Returns {"jobs": [...], "stages": [...], "sql_node_metrics":
    {description: {(node, metric): value}}}. A job carries its description
    and start/end (ms). A stage is listed once, with the description of
    the job that submitted it, its task metrics and its task run times: a
    later job that reuses a shuffle stage (as jobs under adaptive query
    execution do) lists that stage again, skipped, and must not count it
    twice.
    """
    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(log_dir)
        for f in names if f.startswith(("events_", "local-", "app-"))
    )
    jobs: dict[int, dict] = {}
    acc_names: dict[int, tuple[str, str]] = {}
    stage_desc: dict[int, str] = {}
    node_vals: dict[str, dict[tuple[str, str], float]] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_metrics: dict[int, dict[str, float]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    jobs[ev["Job ID"]] = {"desc": desc, "start": ev["Submission Time"], "end": None}
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_desc[ev["Stage Info"]["Stage ID"]] = props.get("spark.job.description") or ""
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
                elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                    for m in ev.get("sqlPlanMetrics", []):
                        acc_names[int(m["accumulatorId"])] = ("", m["name"])
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    stage_tasks[ev["Stage ID"]].append(tm.get("Executor Run Time", 0) / 1000)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    accs = info.get("Accumulables", [])
                    stage_metrics[sid] = _acc(accs)
                    desc = stage_desc.get(sid, "")
                    for a in accs:
                        aid = int(a.get("ID", -1))
                        if aid in acc_names:
                            try:
                                node_vals[desc][acc_names[aid]] += float(a["Value"])
                            except (TypeError, ValueError):
                                pass
    stages = [{"desc": stage_desc.get(sid, ""), "metrics": stage_metrics[sid],
               "task_times": stage_tasks.get(sid, [])} for sid in sorted(stage_metrics)]
    return {"jobs": [jobs[j] for j in sorted(jobs)], "stages": stages,
            "sql_node_metrics": node_vals}
