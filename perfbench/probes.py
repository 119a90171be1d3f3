"""Measurement probes for the benchmark: host stamp, process CPU and
peak RSS from /proc, an in-memory span tracer, and a Spark event-log
reader.

The steal and spin readers are the repository's own (tools/_measure.py);
this module adds what those helpers do not cover: per-process-tree CPU,
RSS and worker counts, spans, and the event-log digest.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager, nullcontext

from tools._measure import spin, steal

HZ = os.sysconf("SC_CLK_TCK")


class SparkProcs:
    """The session's process tree: the JVM (``pid``) and the pyspark
    daemon and workers below it.

    CPU is read per tree rather than with tools/_measure's host-wide
    java/pyspark sums: another JVM starting or exiting on the host moves
    those sums (a run measured next to one read negative CPU). Each live
    process counts its own utime+stime plus cutime+cstime, so workers the
    daemon has already reaped stay counted."""

    def __init__(self, pid: int) -> None:
        self.pid = pid

    def _tree(self) -> dict[int, tuple[int, int]]:
        """pid -> (parent pid, CPU jiffies own + reaped children) for the
        tree."""
        stats, children = {}, {}
        for path in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(path) as fh:
                    f = fh.read().rsplit(") ", 1)[1].split()
            except OSError:
                continue
            pid = int(path.split("/")[2])
            stats[pid] = (int(f[1]), sum(int(x) for x in f[11:15]))
            children.setdefault(int(f[1]), []).append(pid)
        tree, todo = {}, [self.pid]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[pid] = stats[pid]
                todo.extend(children.get(pid, []))
        return tree

    def cpu_seconds(self) -> tuple[float, float]:
        """(JVM CPU-s, Python daemon and worker CPU-s) so far."""
        tree = self._tree()
        jvm = tree.pop(self.pid, (0, 0))[1]
        return jvm / HZ, sum(cpu for _, cpu in tree.values()) / HZ

    def python_workers(self) -> dict[int, int]:
        """Live pyspark workers (the daemon's children, two levels below
        the JVM): pid -> CPU jiffies so far."""
        tree = self._tree()
        return {
            pid: cpu for pid, (ppid, cpu) in tree.items()
            if pid != self.pid and ppid != self.pid
        }

    def reset_peak_rss(self) -> int:
        """Reset VmHWM of every process in the tree (clear_refs value 5).
        Returns the number of live processes whose reset failed; their
        high-water mark still holds earlier runs."""
        failed = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except FileNotFoundError:
                continue  # exited since the tree was read
            except OSError:
                failed += 1
        return failed

    def peak_rss_mb(self) -> float:
        """Sum of the per-process RSS high-water marks (VmHWM) of the tree
        since the last reset_peak_rss()."""
        kb = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024


class HostStamp:
    """Conditions of one measured interval: steal jiffies over it, a spin
    calibration taken at its start, and the core count."""

    def __init__(self) -> None:
        self.cores = os.cpu_count() or 1
        self.spin = spin()
        self._steal0 = steal()

    def as_dict(self) -> dict:
        return {
            "steal_jiffies": steal() - self._steal0,
            "spin": self.spin,
            "cores": self.cores,
        }


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. A disabled
    tracer records nothing, so untraced runs pay only a nullcontext.
    ``on_end``, if given, is called as each span closes (a sampler).
    ``self_s`` sums the time spent in the tracer's own code: its overhead
    on the traced calls."""

    def __init__(self, run_id: str, enabled: bool = True, on_end=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.on_end = on_end
        self.self_s = 0.0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(name, attrs)

    @contextmanager
    def _span(self, name: str, attrs: dict):
        t0 = time.monotonic()
        rec = self.record(name, t0, None, **attrs)
        self._stack.append(rec["id"])
        self.self_s += time.monotonic() - t0
        try:
            yield rec
        finally:
            t1 = rec["end"] = time.monotonic()
            self._stack.pop()
            if self.on_end:
                self.on_end()
            self.self_s += time.monotonic() - t1

    def record(self, name: str, start: float, end: float | None, **attrs) -> dict:
        """Add a span; called directly for one whose start and end were
        taken in different calls."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def event_log_metrics(log_dir: str, group_prefix: str) -> dict:
    """Digest the (uncompressed, non-rolling) Spark event log for the jobs
    whose job group starts with ``group_prefix``.

    Returns the spark.* per-layer metrics plus ``jobs_by_group`` (job
    count per job group). CPU and GC come from the task metrics; the skew
    is max/median task time of the stage with the longest wall."""
    jobs_by_group: dict[str, int] = {}
    stages: set[int] = set()
    stage_wall: dict[int, float] = {}
    task_ms: dict[int, list[int]] = {}
    m = dict.fromkeys(
        ("jvm_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
         "spill_bytes", "tasks"), 0.0,
    )
    events = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh)
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(group_prefix):
                jobs_by_group[group] = jobs_by_group.get(group, 0) + 1
                stages.update(e["Stage IDs"])
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stages and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                )
        elif e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            tm = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            task_ms.setdefault(e["Stage ID"], []).append(
                ti["Finish Time"] - ti["Launch Time"]
            )
            m["tasks"] += 1
            m["jvm_cpu_s"] += (
                tm.get("Executor CPU Time", 0)
                + tm.get("Executor Deserialize CPU Time", 0)
            ) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
    skew = 1.0
    if stage_wall:
        slowest = max(stage_wall, key=stage_wall.get)
        times = task_ms.get(slowest) or [1]
        skew = max(times) / max(statistics.median(times), 1)
    m.update(
        task_skew=skew,
        jobs=sum(jobs_by_group.values()),
        stages=len(stage_wall),
        jobs_by_group=jobs_by_group,
    )
    return m
