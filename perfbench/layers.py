"""Measurement helpers: process-tree CPU and memory from /proc, layer spans
recorded around the engine's public functions, and Spark event-log parsing.

Nothing here reaches into the engine's internals: layers are timed by
re-binding the public function a module imported (``load_table``,
``materialize``, ``write_table``) to a wrapper that records a span and
calls the original.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / _TICK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                kids[st[0]].append(int(entry))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _own_cpu(pid: int) -> float:
    """utime+stime of one process (its threads, not its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return 0.0
    fields = raw[raw.rindex(")") + 2:].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcessTree:
    """CPU and peak memory of the engine's JVM and its Python workers.

    CPU of a worker that exits is folded into its parent's reaped-children
    counters, so summing utime+stime+cutime+cstime over the live tree is
    monotonic across worker churn.
    """

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid

    def cpu(self) -> tuple[float, float]:
        """(total tree CPU-seconds, Python-worker share of it)."""
        jvm = _stat(self.jvm)
        jvm_total = jvm[1] if jvm else 0.0
        jvm_own = _own_cpu(self.jvm)
        workers = sum((_stat(p) or (0, 0.0))[1] for p in _descendants(self.jvm))
        return jvm_total + workers, jvm_total - jvm_own + workers

    def peak_rss_mb(self) -> float:
        return _hwm_mb(self.jvm) + sum(_hwm_mb(p) for p in _descendants(self.jvm))

    def alive(self) -> list[int]:
        return [p for p in [self.jvm, *_descendants(self.jvm)] if _stat(p)]


def driver_cpu() -> float:
    """CPU-seconds of this (driver Python) process."""
    t = os.times()
    return t.user + t.system


# ------------------------------------------------------------------ spans


class Spans:
    """In-memory span log: (layer, start, end, label). ``label``, when
    given to ``wrap``, names a call from its arguments."""

    def __init__(self):
        self.items: list[tuple[str, float, float, str | None]] = []

    def wrap(self, layer: str, fn, label=None):
        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.items.append((layer, t0, time.time(), label and label(*args, **kwargs)))

        wrapper.__wrapped__ = fn
        return wrapper

    def between(self, layer: str, t0: float, t1: float) -> tuple[int, float]:
        """(calls, seconds) of ``layer`` spans that started in [t0, t1).
        Seconds cover the union of the spans, so nested calls and calls
        from concurrent threads count once."""
        spans = sorted((s, e) for lay, s, e, _ in self.items if lay == layer and t0 <= s < t1)
        calls, busy, end = len(spans), 0.0, float("-inf")
        for s, e in spans:
            if s >= end:
                busy += e - s
                end = e
            elif e > end:
                busy += e - end
                end = e
        return calls, busy


def rebind(package: str, name: str, wrapper_for) -> list[tuple[object, object]]:
    """Point every ``package`` module's global ``name`` at a wrapper of the
    shared original; returns what to restore."""
    done, originals = [], {}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package):
            continue
        fn = getattr(mod, name, None)
        if fn is None or not callable(fn) or getattr(fn, "__wrapped__", None):
            continue
        key = id(fn)
        if key not in originals:
            originals[key] = wrapper_for(fn)
        setattr(mod, name, originals[key])
        done.append((mod, fn))
    return done


def restore(done: list[tuple[object, object]], name: str) -> None:
    for mod, fn in done:
        setattr(mod, name, fn)


# ------------------------------------------------------------------ event log


def _event_lines(log_dir: str, app_id: str):
    """Lines of an application's event log, single-file or rolling (v2)."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        paths = [single]
    else:
        roll = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        paths = sorted(
            (p for p in os.listdir(roll) if p.startswith("events_")),
            key=lambda p: int(p.split("_")[1]),
        )
        paths = [os.path.join(roll, p) for p in paths]
    for path in paths:
        with open(path) as f:
            yield from f


def parse_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs, stages and tasks of one application's event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for line in _event_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "submitted": ev["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
                "phase": props.get("spark.job.description"),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                "job": stage_job.get(ev["Stage ID"]),
                "failed": bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "cpu": m.get("Executor CPU Time", 0) / 1e9,
                "run": m.get("Executor Run Time", 0) / 1000.0,
                "gc": m.get("JVM GC Time", 0) / 1000.0,
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "sh_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                "sh_write": wr.get("Shuffle Bytes Written", 0),
            })
    return {"jobs": jobs, "tasks": tasks}


def attribute_jobs(log: dict, windows: list[dict]) -> dict[int, dict]:
    """Map job id -> phase window. Jobs carry the query's job group and
    phase description when submitted from the driver thread; jobs submitted
    from engine worker threads carry neither and are placed by submission
    time inside the phase's wall-clock window."""
    by_key = {(w["group"], w["phase"]): w for w in windows}
    out = {}
    for jid, job in log["jobs"].items():
        w = by_key.get((job["group"], job["phase"]))
        if w is None:
            t = job["submitted"]
            w = next((w for w in windows if w["t0"] - 0.002 <= t <= w["t1"] + 0.002), None)
        if w is not None:
            out[jid] = w
    return out


def exec_metrics(log: dict, jobs: set[int]) -> dict[str, float]:
    """Task-metric totals over the given jobs."""
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    by_stage: dict[tuple, list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["dur"])
    # skew of the stage holding the pass's slowest task: the straggler that
    # bounds the result (stages of one task have no skew to report)
    skew = 1.0
    multi = [d for d in by_stage.values() if len(d) > 1]
    if multi:
        worst = max(multi, key=max)
        skew = max(worst) / max(statistics.median(worst), 1e-3)
    return {
        "jobs": len(jobs),
        "stages": len(by_stage),
        "tasks": len(tasks),
        "failed_tasks": sum(t["failed"] for t in tasks),
        "cpu_s": sum(t["cpu"] for t in tasks),
        "run_s": sum(t["run"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "shuffle_read_bytes": sum(t["sh_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["sh_write"] for t in tasks),
        "task_skew": skew,
    }
