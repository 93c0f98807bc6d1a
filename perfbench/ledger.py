"""Measurement plumbing: the process-tree CPU and memory readings, the
job-group harvest from Spark's status store, and the span recorder.

The harvest reads the in-process ``AppStatusStore`` (live with the UI off)
after an operation returns, so it adds no Spark job and no time to the
operation it measures.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- the benchmark's process tree (python driver, JVM, python workers) ----------

def _children() -> "dict[int, list[int]]":
    kids: "dict[int, list[int]]" = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int = 0) -> "list[int]":
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int = 0) -> float:
    """CPU seconds used so far by the live tree, counting each process's
    reaped children (a finished python worker is charged to its daemon)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])   # utime stime cutime cstime
    return total / CLK_TCK


def tree_peak_rss_mb(root: int = 0) -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM):
    an upper bound of the tree's simultaneous peak."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_steal(since: "tuple[int, int] | None" = None):
    """Host-wide (steal ticks, all ticks) from /proc/stat; with ``since``,
    the share of CPU time stolen by the hypervisor since that reading."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7], sum(ticks[:8]))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


# -- spans ---------------------------------------------------------------------

class Spans:
    """In-memory spans: name, start, end, parent, op. Written out once, at
    the end of the run."""

    def __init__(self):
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []

    def open(self, name: str, op: int) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": len(self.spans), "name": name, "op": op,
                           "parent": parent, "start": time.perf_counter(),
                           "end": None})
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.remove(sid)

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        sid = self.open(name, op)
        try:
            yield self.spans[sid]
        finally:
            self.close(sid)


# -- job-group harvest ----------------------------------------------------------

class Harvester:
    """Reads one job group's jobs and stages from the status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc, self.jvm = sc, sc._jvm
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            self.jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.no_quantiles = sc._gateway.new_array(self.jvm.double, 0)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def harvest(self, group: str, wall_s: float, cores: int) -> dict:
        """Totals over the group's jobs and the stages they ran. ``gap_s`` is
        wall time minus the union of the jobs' run intervals; ``core_busy``
        is executor run time over wall time x cores."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        job_ids = sorted(self.jsc.statusTracker().getJobIdsForGroup(group))
        intervals, stage_ids = [], set()
        for jid in job_ids:
            jd = self._json(self.store.job(jid))
            if jd.get("submissionTime") and jd.get("completionTime"):
                intervals.append((jd["submissionTime"], jd["completionTime"]))
            stage_ids.update(jd["stageIds"])
        tot = dict(jobs=len(job_ids), stages=0, tasks=0, executor_run_s=0.0,
                   executor_cpu_s=0.0, gc_s=0.0, input_bytes=0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
        for sid in sorted(stage_ids):
            for a in self._json(self.store.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False,
                    self.no_quantiles)):
                if a["status"] == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += a["numTasks"]
                tot["executor_run_s"] += a["executorRunTime"] / 1e3
                tot["executor_cpu_s"] += a["executorCpuTime"] / 1e9
                tot["gc_s"] += a["jvmGcTime"] / 1e3
                tot["input_bytes"] += a["inputBytes"]
                tot["shuffle_read_bytes"] += a["shuffleReadBytes"]
                tot["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                tot["spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
        busy_ms, end = 0, None
        for s, e in sorted(intervals):
            if end is None or s > end:
                busy_ms += e - s
                end = e
            elif e > end:
                busy_ms += e - end
                end = e
        tot["jobs_busy_s"] = busy_ms / 1e3
        tot["gap_s"] = wall_s - busy_ms / 1e3
        tot["core_busy"] = tot["executor_run_s"] / (wall_s * cores) if wall_s else 0.0
        return tot
