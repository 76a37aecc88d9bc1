"""Measurements taken from outside the program: process-tree CPU time and
peak memory from ``/proc``, and per-job records from a Spark event log.

The process tree is this benchmark's own process and every descendant: the
Spark JVM, the Python worker daemon and its forked workers.  A worker that
exits is reaped by its parent, and its CPU time then shows in the parent's
``cutime``/``cstime``, so summing utime+stime+cutime+cstime over the live
tree counts the work of the dead ones too.
"""

from __future__ import annotations

import json
import os
import signal
import time
from collections import defaultdict
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while listing
            continue
        f = raw.rsplit(")", 1)[1].split()
        out[int(name)] = (int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]))
    return out


def tree_pids(root: int | None = None, stats: dict | None = None) -> list[int]:
    stats = stats if stats is not None else _proc_stats()
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    root = os.getpid() if root is None else root
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(children.get(pid, ()))
    return seen


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in tree_pids(stats=stats) if p in stats) / _TICK


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot: the share of
    time the hypervisor ran other guests on this one's CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until every descendant process has exited; after ``timeout_s``
    send what is left SIGTERM, and five seconds later SIGKILL."""
    me = os.getpid()
    for sig, wait_s in ((signal.SIGTERM, timeout_s), (signal.SIGKILL, 5.0), (None, 5.0)):
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            left = [p for p in tree_pids() if p != me]
            if not left:
                return
            try:
                os.waitpid(-1, os.WNOHANG)  # reap our own direct children
            except ChildProcessError:
                pass
            time.sleep(0.1)
        if sig is None:
            raise RuntimeError(f"processes {left} did not exit")
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: Path) -> dict:
    """Session config for one local, uncompressed, non-rolling JSON-lines
    event log per application."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Jobs, stages and task metrics of one application, by job group."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "group": props.get("spark.jobGroup.id"),
                        "description": props.get("spark.job.description"),
                        "stages": set(), "tasks": 0, "run_ms": 0,
                        "shuffle_write": 0, "spill": 0,
                    }
                    for st in ev.get("Stage Infos", []):
                        stage_job[st["Stage ID"]] = ev["Job ID"]
                    self.jobs[ev["Job ID"]] = job
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["stages"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    @classmethod
    def latest(cls, log_dir: Path) -> "EventLog":
        logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
        if not logs:
            raise FileNotFoundError(f"no finished event log under {log_dir}")
        return cls(max(logs, key=lambda p: p.stat().st_mtime))

    def select(self, prefix: str) -> list[dict]:
        return [j for j in self.jobs.values() if (j["group"] or "").startswith(prefix)]

    def n_jobs(self, name: str) -> int:
        """Jobs run in job group ``name`` or under job description ``name``."""
        return sum(1 for j in self.jobs.values() if name in (j["group"], j["description"]))

    def summary(self, prefix: str, wall_s: float, cores: int) -> dict:
        jobs = self.select(prefix)
        task_s = sum(j["run_ms"] for j in jobs) / 1000.0
        return {
            "spark.jobs": len(jobs),
            "spark.stages": sum(len(j["stages"]) for j in jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.task_s": task_s,
            "spark.core_util": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
            "spark.spill_bytes": sum(j["spill"] for j in jobs),
        }
