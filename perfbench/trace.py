"""Measurement helpers: spans, streaming progress, host noise, JVM RSS and
the reduction of Spark's event log to per-span job/stage/task metrics.

Everything here observes the engine from outside. Spans are kept in memory
and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """In-memory span tree. A span is ``{"name", "parent", "t0", "t1",
    "attrs"}`` with epoch-second bounds, so it lines up with the JVM's
    epoch-millisecond event times."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.items.append(
            {"name": name, "parent": parent, "t0": time.time(), "t1": None, "attrs": attrs}
        )
        self._stack.append(len(self.items) - 1)
        return self._stack[-1]

    def close(self, sid: int, **attrs) -> float:
        span = self.items[sid]
        span["t1"] = time.time()
        span["attrs"].update(attrs)
        assert self._stack and self._stack[-1] == sid, "spans must nest"
        self._stack.pop()
        return span["t1"] - span["t0"]

    def unwind(self, sid: int) -> None:
        """Close every span opened inside ``sid`` (after an exception)."""
        while self._stack and self._stack[-1] != sid:
            self.close(self._stack[-1], aborted=True)

    def children(self, sid: int | None, name: str | None = None) -> list[int]:
        return [
            i
            for i, s in enumerate(self.items)
            if s["parent"] == sid and (name is None or s["name"] == name)
        ]

    def innermost(self, t: float) -> int | None:
        """Deepest closed span whose interval holds epoch time ``t``."""
        best, depth = None, -1
        for i, s in enumerate(self.items):
            if s["t1"] is not None and s["t0"] <= t <= s["t1"]:
                d = self.depth(i)
                if d > depth:
                    best, depth = i, d
        return best

    def depth(self, sid: int) -> int:
        d = 0
        while self.items[sid]["parent"] is not None:
            sid = self.items[sid]["parent"]
            d += 1
        return d

    def ancestor(self, sid: int | None, name: str) -> int | None:
        while sid is not None and self.items[sid]["name"] != name:
            sid = self.items[sid]["parent"]
        return sid


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query the session
    runs. Events arrive on the listener thread; ``wait_idle`` lets the
    client block until every started query has reported termination."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        # (epoch s, query id, batch duration s, final state rows)
        self.batches: list[tuple[float, str, float, int]] = []

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows == 0 and not p.stateOperators:
            return  # an idle trigger, not a batch
        rows = sum(op.numRowsTotal for op in p.stateOperators)
        with self.lock:
            self.batches.append((time.time(), str(p.id), p.batchDuration / 1000.0, rows))

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.id))

    def wait_idle(self, timeout: float = 10.0) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    return True
            time.sleep(0.01)
        return False

    def between(self, t0: float, t1: float) -> list[tuple[float, str, float, int]]:
        with self.lock:
            return [b for b in self.batches if t0 <= b[0] <= t1]


def host_sample() -> dict:
    """CPU jiffies from /proc/stat (total and steal) and the 1-minute load
    average from /proc/loadavg."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    steal = cpu[7] if len(cpu) > 7 else 0
    # guest time is already counted in user time
    return {"total": sum(cpu[:8]), "steal": steal, "load1": load1}


def host_noise(before: dict, after: dict) -> dict:
    total = after["total"] - before["total"]
    steal = after["steal"] - before["steal"]
    return {
        "steal_pct": 100.0 * steal / total if total > 0 else 0.0,
        "loadavg": (before["load1"] + after["load1"]) / 2.0,
    }


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, which in local mode also
    runs every executor thread."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported for the driver JVM")


def storage(spark) -> tuple[int, float]:
    """(cached RDD count, MB held in memory and on disk) from the block
    manager's storage report."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return len(infos), mb


# --- event log ---------------------------------------------------------------

# SQL metric that Python-evaluating nodes (mapInArrow, Arrow/pandas UDFs)
# report per task, in milliseconds
PY_RUN_METRIC = "time to run Python workers"


def _py_time_ms(accumulables: list[dict]) -> float:
    return sum(float(a.get("Update", 0)) for a in accumulables if a.get("Name") == PY_RUN_METRIC)


def read_event_log(path: str) -> tuple[dict, dict]:
    """Reduce an uncompressed JSON event log to ``(jobs, stages)``.

    jobs:   id -> {"group", "t", "t1" (epoch s), "stages": [ids]}
    stages: id -> {"group", "tasks", "run_s", "cpu_s", "gc_s", "spill_bytes",
                   "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                   "shuffle_records", "python_s"}
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {
                "group": None, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "spill_bytes": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0, "shuffle_records": 0, "python_s": 0.0,
            },
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t": ev["Submission Time"] / 1000.0,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage(ev["Stage Info"]["Stage ID"])["group"] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                s = stage(ev["Stage ID"])
                s["tasks"] += 1
                s["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                wr = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                s["shuffle_records"] += wr.get("Shuffle Records Written", 0)
                info = ev.get("Task Info") or {}
                s["python_s"] += _py_time_ms(info.get("Accumulables") or []) / 1000.0
    return jobs, stages


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path):  # rolling layout: eventlog_v2_<app>/events_*
        parts = sorted(
            (p for p in os.listdir(path) if p.startswith("events_")),
            key=lambda p: int(p.split("_")[1]),
        )
        out = path + ".joined"
        with open(out, "w") as w:
            for p in parts:
                with open(os.path.join(path, p)) as r:
                    w.write(r.read())
        return out
    return path
