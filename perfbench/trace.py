"""Measurement plumbing of the benchmark: spans, Spark counters per span,
machine load, process-tree memory and executor storage.

Everything here observes the program from outside through public
interfaces: ``sc.setJobGroup`` tags the Spark jobs a span starts, and the
Spark event log (enabled only in the traced run) supplies each job's
task time, shuffle bytes and spill. Spans are kept in memory and written
out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Closed-loop span recorder. With ``enabled`` false, ``span`` only
    yields; nothing is recorded and no job group is set."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # set once the session exists

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None, **attrs}
        rec["group"] = f"{self.run_id}:{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def self_time(self, rec: dict) -> float:
        """Span duration minus the time its direct children cover
        (children run one at a time, so their durations add)."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"] and "end" in s)
        return (rec["end"] - rec["start"]) - kids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark event log -> per-span counters
# ---------------------------------------------------------------------------

def attach_spark_counters(spans: list[dict], log_dir: str) -> None:
    """Add ``jobs``, ``task_s``, ``shuffle_write_bytes`` and ``spill_bytes``
    to every span from the event logs under ``log_dir``. A span's counters
    cover the jobs tagged with its own group plus those of its
    descendants."""
    stage_job: dict[tuple[str, int], int] = {}
    job_group: dict[tuple[str, int], str] = {}
    per_job: dict[tuple[str, int], dict] = {}
    # one event log per SparkContext: a file, or a directory of rolled files
    paths = sorted(glob.glob(os.path.join(log_dir, "*")) +
                   glob.glob(os.path.join(log_dir, "*", "events_*")))
    for path in paths:
        if os.path.isdir(path):
            continue
        app = os.path.dirname(path) if os.path.dirname(path) != log_dir else path
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = (app, ev["Job ID"])
                    job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    per_job[jid] = {"task_s": 0.0, "shuffle_write_bytes": 0,
                                    "spill_bytes": 0}
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault((app, st), ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    jid = (app, stage_job.get((app, ev["Stage ID"])))
                    m = ev.get("Task Metrics") or {}
                    if jid not in per_job or not m:
                        continue
                    acc = per_job[jid]
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    own: dict[str, dict] = {}
    for jid, grp in job_group.items():
        if grp is None:
            continue
        tot = own.setdefault(grp, {"jobs": 0, "task_s": 0.0,
                                   "shuffle_write_bytes": 0, "spill_bytes": 0})
        tot["jobs"] += 1
        for k, v in per_job[jid].items():
            tot[k] += v
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s.update({"jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0})
    for s in spans:
        tot = own.get(s["group"])
        node = s
        while tot and node is not None:
            for k, v in tot.items():
                node[k] += v
            node = by_id.get(node["parent"])


# ---------------------------------------------------------------------------
# machine load, memory, storage
# ---------------------------------------------------------------------------

def load_telemetry() -> dict:
    """CPU count, configured Spark cores, load average and CPU pressure."""
    out = {"nproc": len(os.sched_getaffinity(0)),
           "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
           "loadavg": list(os.getloadavg()),
           "cpu_some_avg10": None}
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    out["cpu_some_avg10"] = float(line.split()[1].split("=")[1])
    except OSError:
        pass
    return out


class MemPeak:
    """Peak memory of this process and all its descendants (the Spark
    JVM and its Python workers): the largest sum of their proportional
    set sizes (``Pss`` in ``/proc/<pid>/smaps_rollup``, which splits pages
    shared between forked workers) over the sample points. Samples are
    taken when each call into the program returns."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_kb = 0

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def storage_blocks(spark) -> tuple[int, int]:
    """(cached partitions, bytes in memory + on disk) over every RDD the
    executors hold — a leaked persist shows up as growth across passes."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    blocks = sum(int(i.numCachedPartitions()) for i in infos)
    size = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
    return blocks, size


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes of all files) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for fn in files:
            n += fn.endswith(".parquet") and not fn.startswith(".")
            size += os.path.getsize(os.path.join(d, fn))
    return n, size


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    s = sorted(xs)
    if not s:
        return 0.0, 0.0
    if len(s) <= 10:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)
