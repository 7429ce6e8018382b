"""Measurement helpers for the benchmark: op spans, per-op Spark job
groups, event-log task metrics, JVM GC/heap and process-tree RSS.

Spans are recorded from the benchmark's own files around each public
call into the program. Each span carries its op id and its parent span,
and the spans are kept in memory and written out when the run ends.
The untraced run uses :class:`NoTrace`, whose span is a shared no-op
context, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class NoTrace:
    """Tracing off: spans and job groups cost nothing."""

    enabled = False

    def __init__(self) -> None:
        self._null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null

    def op(self, sc, op_id: int, kind: str):
        return self._null

    def call(self, sc, key: str, kind: str):
        return self._null

    def note(self, key: str, value: float) -> None:
        pass


class Tracer(NoTrace):
    """Tracing on: nested spans per op, and one Spark job group per op
    whose job, stage and task counts are read from ``statusTracker``."""

    enabled = True

    def __init__(self) -> None:
        super().__init__()
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}  # op id -> counts and kind
        self.calls: dict[str, dict] = {}  # "op.call" -> counts and kind
        self.notes: dict[int, dict] = defaultdict(dict)  # op id -> figures
        self._stack: list[int] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "op": self._op, "name": name}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, sc, op_id: int, kind: str):
        """Run one op under its own job group and span."""
        self._op = op_id
        try:
            with self.span(f"op.{kind}"), self._group(sc, job_group(op_id), kind, self.jobs, op_id):
                yield
        finally:
            self._op = None

    def call(self, sc, key: str, kind: str):
        """Give one call inside an op a job group of its own."""
        return self._group(sc, f"{job_group(self._op)}.{key}", kind, self.calls, key)

    @contextlib.contextmanager
    def _group(self, sc, group: str, kind: str, into: dict, key):
        """Run under ``group``, then record its job, stage and task counts
        from ``statusTracker`` in ``into[key]``; restores the enclosing
        group."""
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, kind, interruptOnCancel=False)
        try:
            yield
        finally:
            if outer:
                sc.setJobGroup(outer, kind, interruptOnCancel=False)
            else:
                sc._jsc.clearJobGroup()
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stages += 1
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
            into[key] = {"kind": kind, "jobs": len(jobs), "stages": stages, "tasks": tasks}

    def note(self, key: str, value: float) -> None:
        """Attach a figure measured inside the current op."""
        self.notes[self._op][key] = value

    def durations(self, name: str) -> list[float]:
        """Milliseconds of every finished span called ``name``."""
        return [1000 * (s["end"] - s["start"]) for s in self.spans
                if s["name"] == name and "end" in s]

    def self_times(self) -> dict[int, float]:
        """Span id -> self time in ms: its duration minus the part of its
        interval that its child spans cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["id"]] = 1000 * (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        recs = [dict(s, self_ms=selfs[s["id"]]) for s in self.spans if "end" in s]
        with open(path, "w") as fh:
            json.dump({"spans": recs, "jobs": self.jobs, "calls": self.calls,
                       "notes": self.notes}, fh)


def job_group(op_id: int) -> str:
    return f"refbench-op-{op_id}"


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run ms, executor CPU ms and scheduler
    delay ms, summed over the group's tasks.

    Follows the event handling of tools/stage_profile.py (JobStart
    properties map jobs to their group and stages to jobs); the task
    figures come from SparkListenerTaskEnd, with the scheduler delay
    computed as the Spark UI does: task duration minus run,
    deserialize, result-serialize and getting-result time."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"run_ms": 0.0, "cpu_ms": 0.0, "sched_delay_ms": 0.0})
    # a plain log file per app, or (Spark 4's default) a directory of
    # rolled events_<n>_<app> files, read in roll order
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    files += sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in files:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in e["Stage Infos"]:
                            stage_group[s["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(e.get("Stage ID"))
                    metrics = e.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    info = e["Task Info"]
                    run = metrics.get("Executor Run Time", 0)
                    overhead = (metrics.get("Executor Deserialize Time", 0)
                                + metrics.get("Result Serialization Time", 0))
                    got = info.get("Getting Result Time", 0)
                    getting = info["Finish Time"] - got if got else 0
                    duration = info["Finish Time"] - info["Launch Time"]
                    g = out[group]
                    g["run_ms"] += run
                    g["cpu_ms"] += metrics.get("Executor CPU Time", 0) / 1e6
                    g["sched_delay_ms"] += max(0, duration - run - overhead - getting)
    return dict(out)


class JvmStats:
    """GC time and heap peak of the driver JVM over an interval, read
    through the platform MXBeans over py4j."""

    def __init__(self, spark) -> None:
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc0 = 0

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def start(self) -> None:
        self._gc0 = self._gc_ms()
        for p in self._heap_pools():
            p.resetPeakUsage()

    def stop(self) -> dict[str, float]:
        peak = sum(p.getPeakUsage().getUsed() for p in self._heap_pools())
        return {"gc_ms": float(self._gc_ms() - self._gc0), "heap_peak_mb": peak / 2**20}


def descendants() -> list[int]:
    """Pids of this process's live descendants: the JVM and its Python
    workers."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                parent[int(stat.split("/")[2])] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent.items():
        kids[ppid].append(pid)
    found, frontier = [], [os.getpid()]
    while frontier:
        new = kids[frontier.pop()]
        found += new
        frontier += new
    return found


def peak_rss_mb() -> float:
    """Summed peak RSS (the kernel's VmHWM high-water mark) of this
    process and its live descendants. Read once, so no sampling thread
    competes with the measured ops."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def stop_jvm(timeout_s: float = 60) -> None:
    """After ``spark.stop()``: close the py4j gateway, let the JVM exit
    (it exits when its stdin closes) and wait until it and every
    Python worker it started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
