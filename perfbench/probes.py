"""Measurement from outside the engine: spans, resource counters, lake
counters and a host witness.

Nothing here imports the engine's internals. Spans wrap calls into public
entry points; lake counters read a table's snapshot manifests and the
footers of the parquet files they list; resource counters ask the Spark
status tracker, the block manager and ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import time

import pyarrow.parquet as pq


class Tracer:
    """Records one span per call: name, start, end, parent and run id.

    Each span runs under its own Spark job group, so the jobs a call
    launches on this thread can be counted from the status tracker and,
    in a traced run, matched to the span in the event log. After every
    span the tracer samples three resource counters: jobs in the span's
    group, RDDs pinned in the block manager and the JVM's peak resident
    set.
    """

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def add(self, name: str, start_ms: float, end_ms: float) -> dict:
        """Record a span that ran before the tracer existed (session start)."""
        rec = self._new(name, {})
        rec.update(start_ms=start_ms, end_ms=end_ms, seconds=(end_ms - start_ms) / 1000.0)
        return rec

    def _new(self, name: str, attrs: dict) -> dict:
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-{self.run_id}-{sid}", "interval": False, **attrs,
        }
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, interval: bool = False, **attrs):
        rec = self._new(name, dict(attrs, interval=interval))
        self._stack.append(rec["id"])
        self.sc.setJobGroup(rec["group"], name)
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["seconds"] * 1000.0
            self._stack.pop()
            rec["jobs_tracker"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
            rec["pinned_rdds"] = len(self.sc._jsc.getPersistentRDDs())
            rec["jvm_hwm_mb"] = jvm_hwm_mb(self._jvm_pid)
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def jvm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# --------------------------------------------------------------- lake counters


def _file_stats(table_path: str, rel: str, cache: dict) -> tuple[int, int]:
    if rel not in cache:
        full = os.path.join(table_path, rel)
        cache[rel] = (pq.read_metadata(full).num_rows, os.path.getsize(full))
    return cache[rel]


def commit_stats(table, v0: int, v1: int) -> list[dict]:
    """One record per commit in (v0, v1]: files, rows and bytes it added
    (diff of consecutive snapshot manifests, rows from parquet footers) and
    the buckets it touched."""
    cache: dict = {}
    out = []
    prev = table.snapshot(v0).files
    for v in range(v0 + 1, v1 + 1):
        cur = table.snapshot(v).files
        added = {b: set(fl) - set(prev.get(b, [])) for b, fl in cur.items()}
        added = {b: fs for b, fs in added.items() if fs}
        rows = nbytes = 0
        for fs in added.values():
            for f in fs:
                r, n = _file_stats(table.path, f, cache)
                rows += r
                nbytes += n
        out.append({
            "version": v, "files": sum(len(fs) for fs in added.values()),
            "rows": rows, "bytes": nbytes, "touched_buckets": len(added),
            "num_buckets": table.num_buckets,
        })
        prev = cur
    return out


def storage_stats(table) -> dict:
    """Bytes of every data file under the table directory against the bytes
    the current snapshot references, and the largest per-bucket file count."""
    files = table.snapshot().files
    live = sum(os.path.getsize(os.path.join(table.path, f)) for fl in files.values() for f in fl)
    stored = 0
    for root, _, names in os.walk(table.path):
        stored += sum(os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(".parquet"))
    return {
        "stored_bytes": stored, "live_bytes": live,
        "max_files_per_bucket": max((len(fl) for fl in files.values()), default=0),
    }


# ---------------------------------------------------------------- host witness


def _tree_cpu_ticks(root_pid: int) -> int:
    """utime+stime (and reaped children's) of ``root_pid`` and its descendants."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; [11..14] are utime, stime, cutime, cstime
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ours, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == p and pid not in ours:
                ours.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in ours if p in stats)


def host_sample() -> dict:
    """A point sample of VM-wide CPU ticks, steal, our process tree's CPU
    and load. Reads only ``/proc``; takes no core of its own."""
    with open("/proc/stat", encoding="ascii") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg", encoding="ascii") as fh:
        load1 = float(fh.read().split()[0])
    idle = cpu[3] + cpu[4]
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"total": sum(cpu[:8]), "idle": idle, "steal": steal,
            "ours": _tree_cpu_ticks(os.getpid()), "load1": load1}


def host_witness(a: dict, b: dict) -> dict:
    """Shares of VM CPU time between two samples: stolen by the hypervisor,
    and busy in processes outside this run's process tree."""
    total = max(b["total"] - a["total"], 1)
    busy = total - (b["idle"] - a["idle"]) - (b["steal"] - a["steal"])
    other = max(busy - (b["ours"] - a["ours"]), 0)
    return {
        "steal_frac": (b["steal"] - a["steal"]) / total,
        "other_cpu_frac": other / total,
        "loadavg_1m": max(a["load1"], b["load1"]),
    }


# --------------------------------------------------------------------- stats


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def high_percentile(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None when there are fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10  # 1-based rank of the value with exactly ten above it
    return 100.0 * k / n, sorted(xs)[k - 1]
