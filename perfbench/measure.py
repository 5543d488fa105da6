"""Measurement helpers: summary statistics, spans and self times, the
process tree under ``/proc``, and Spark's event log.

Nothing here imports Spark, so the statistics can be tested alone.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager

# -- statistics ---------------------------------------------------------

#: percentiles a tail is chosen from, highest first
TAIL_PERCENTILES = (99.9, 99.0, 90.0, 50.0)
#: a percentile is reported only with at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile in TAIL_PERCENTILES that
    has at least TAIL_MIN_BEYOND samples beyond it, else None."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        # the epsilon absorbs float error in 100 - 99.9
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:
            return p, percentile(values, p)
    return None


def summary(values) -> dict:
    """Median, tail and sample count of one timing."""
    t = tail(values)
    return {
        "n": len(values),
        "median": percentile(values, 50.0) if values else None,
        "tail_p": t[0] if t else None,
        "tail": t[1] if t else None,
    }


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def warm_figures(ops) -> dict:
    """``ops_per_s``, ``op_geomean_s`` and ``cpu_s_per_op`` from warm op
    records (``entry``, ``wall``, ``latency``, ``cpu``).  Each rests on
    per-entry medians, so one slow sample (a GC pause, a busy neighbour)
    does not move it: ``ops_per_s`` is the entry count over the sum of
    the entries' median op wall times, ``op_geomean_s`` the geometric
    mean of their median latencies, ``cpu_s_per_op`` the mean of their
    median process-tree CPU."""
    by_entry: dict = {}
    for o in ops:
        by_entry.setdefault(o["entry"], []).append(o)

    def medians(key):
        return [percentile([o[key] for o in recs], 50) for recs in by_entry.values()]

    n = len(by_entry)
    return {
        "ops_per_s": n / sum(medians("wall")),
        "op_geomean_s": geomean(medians("latency")),
        "cpu_s_per_op": sum(medians("cpu")) / n,
    }


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list:
    """``intervals`` cut to the window ``[lo, hi]``; empty ones dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


# -- spans ----------------------------------------------------------------


class Tracer:
    """Spans kept in memory: name, start, end, parent and operation id.

    Disabled, ``span`` records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = clipped(children.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


# -- the process tree -------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(x) for x in fh.read().split()]
    except OSError:
        pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.append(pid)
        todo += _children(pid)
    return seen


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(tree: list[int]) -> list[int]:
    """Spark's Python daemon and workers: ``pyspark.daemon`` processes."""
    return [p for p in tree if "pyspark.daemon" in _cmdline(p)]


def cpu_seconds(pids) -> float:
    """User+system CPU of ``pids``, plus that of their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def peak_rss_mb(pids) -> float:
    """Summed high-water resident set (VmHWM) of ``pids``, in MB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_context() -> dict:
    """Cores, memory and load average; printed as context only."""
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "loadavg": [float(x) for x in load],
    }


# -- Spark's event log -----------------------------------------------------


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks from one uncompressed event log file.

    Times are epoch seconds.  Returns ``{"jobs": [...], "stages":
    [...], "tasks": [...]}``; a task carries the metrics the per-layer
    report sums."""
    jobs: dict[int, dict] = {}
    stages = []
    tasks = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"id": ev["Job ID"], "start": ev["Submission Time"] / 1e3, "end": None}
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.append({"id": info["Stage ID"], "end": info.get("Completion Time", 0) / 1e3})
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "end": ev["Task Info"]["Finish Time"] / 1e3,
                    "failed": ev["Task End Reason"]["Reason"] != "Success",
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": [j for j in jobs.values() if j["end"] is not None], "stages": stages, "tasks": tasks}
