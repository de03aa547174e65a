"""Observing the Spark engine from outside: job-group accounting through
``SparkContext.statusTracker()``, operator counts from the executed plan,
task metrics from the event log, and process memory from ``/proc``."""

from __future__ import annotations

import glob
import json
import os
import platform
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class JobGroups:
    """Runs each timed operation under its own job group and reads back what
    Spark executed for it. Works with ``spark.ui.enabled=false``: the status
    tracker reads the SparkContext's status store, not the UI."""

    def __init__(self, sc, prefix: str) -> None:
        self.sc = sc
        self.prefix = prefix
        self.n = 0

    @contextmanager
    def group(self, kind: str):
        self.n += 1
        gid = f"{self.prefix}-{kind}-{self.n}"
        self.sc.setJobGroup(gid, kind)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def stats(self, gid: str) -> JobStats:
        tracker = self.sc.statusTracker()
        out = JobStats()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid):
            out.jobs += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            # a stage whose shuffle output was reused is listed but never ran
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            out.stages += 1
            out.tasks += st.numCompletedTasks
            out.failed_tasks += st.numFailedTasks
        return out


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_operators(df) -> tuple[float, dict[str, int]]:
    """Time to produce the executed (physical) plan of ``df``, and its
    shuffle exchanges, sorts and broadcast exchanges. With adaptive execution
    on, this is the plan as first planned; reused exchanges are not counted."""
    t0 = time.perf_counter()
    text = df._jdf.queryExecution().executedPlan().toString()
    ms = (time.perf_counter() - t0) * 1000.0
    counts = {"exchanges": 0, "sorts": 0, "broadcasts": 0}
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        if name == "Exchange":
            counts["exchanges"] += 1
        elif name == "Sort":
            counts["sorts"] += 1
        elif name == "BroadcastExchange":
            counts["broadcasts"] += 1
    return ms, counts


# ------------------------------------------------------------- event log

_TASK_FIELDS = (
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "executor_cpu_s", "gc_s",
)


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from every event log in ``log_dir``
    (read after the SparkContext stopped, so the logs are complete)."""
    per_group: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_TASK_FIELDS, 0.0))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, gid)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    gid = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if gid is None or not tm:
                        continue
                    acc = per_group[gid]
                    acc["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    return dict(per_group)


def p90(values: list[float]) -> float:
    """90th percentile (inclusive interpolation); 0 for no values."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


# ---------------------------------------------------------------- process


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    live descendant, including the reaped children each of them waited for
    (so a Python worker that exits keeps its time in the total)."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[1] = ppid; [11..14] = utime, stime, cutime, cstime
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(children[pid])
    return total / _CLK_TCK


class Stopwatch:
    """Wall time and CPU time of this process plus the Spark JVM tree since
    construction. The /proc scan sits outside the measured interval."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.cpu0 = tree_cpu_s(jvm_pid)
        self.proc0 = time.process_time()
        self.t0 = time.perf_counter()

    def read(self) -> tuple[float, float]:
        """(wall seconds, CPU seconds) so far."""
        wall = time.perf_counter() - self.t0
        proc = time.process_time() - self.proc0
        return wall, proc + tree_cpu_s(self.jvm_pid) - self.cpu0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process (VmHWM), in MiB; 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``cpu_ticks`` readings: a high value means the timings are noisy."""
    d = [a - b for a, b in zip(after, before)]
    return round(d[7] / sum(d), 4) if sum(d) > 0 and len(d) > 7 else 0.0


def environment(seed: int, cpus: int, driver_mem: str, java: str) -> dict:
    """Where and with what the run happened, printed with every result."""
    import pyspark

    mem_gb = 0.0
    try:
        with open("/proc/meminfo") as f:
            mem_gb = int(f.readline().split()[1]) / (1024 * 1024)
    except (OSError, IndexError, ValueError):
        pass
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": cpus,
        "driver_mem": driver_mem,
        "mem_total_gb": round(mem_gb, 1),
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }
