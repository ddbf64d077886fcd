"""Measurement helpers that sit outside the engine: spans, the process
tree's RSS high-water mark, the single-core calibration marker, Spark
event-log parsing and on-disk state sizes."""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from pathlib import Path
from statistics import median
from typing import Dict, Iterable, List, Optional, Tuple


def cpu_calibration(iters: int = 100_000) -> float:
    """Seconds for a single-core md5 chain: a box-speed marker taken
    before and after each run, so two runs can be compared for box
    weather, not only for code."""
    h = b"x" * 1000
    t0 = time.perf_counter()
    for _ in range(iters):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once when the run ends.  Disabled tracers time nothing extra: the
    ``span`` context manager still returns the wall, because end-to-end
    figures come from the same calls."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def self_times(self) -> Dict[str, float]:
        """Per span name: duration minus the union of its children's
        intervals, summed over all spans of that name."""
        kids: Dict[int, List[Tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: Dict[str, float] = {}
        for s in self.spans:
            covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.wall = 0.0

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.rec = {
                "id": len(t.spans), "name": self.name, "run": t.run_id,
                "parent": t._stack[-1] if t._stack else None, **self.attrs,
            }
            t.spans.append(self.rec)
            t._stack.append(self.rec["id"])
            self.rec["start"] = time.time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        t = self.tracer
        if t.enabled:
            self.rec["end"] = self.rec["start"] + self.wall
            t._stack.pop()
        return False


def union_length(intervals: Iterable[Tuple[float, float]], lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------ memory

def process_tree(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss(root: int) -> Dict[str, int]:
    """Proportional set size (bytes) of ``root`` and its descendants,
    summed per command.  PSS splits pages shared between processes (a
    forked Python worker and its daemon, a JVM child between fork and
    exec) among them, so the sum counts every resident page once."""
    out: Dict[str, int] = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:")) * 1024
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0) + pss
    return out


class RssSampler:
    """Samples the resident memory (PSS) of this process and all its
    descendants from /proc every ``interval`` seconds and keeps two
    high-water marks: the Python processes (driver and workers) and the
    JVM.  A measurement thread, not load: it only reads /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.window = {"python": 0, "jvm": 0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            split = tree_pss(os.getpid())
            jvm = split.pop("java", 0)
            with self._lock:
                self.window = {"python": max(self.window["python"], sum(split.values())),
                               "jvm": max(self.window["jvm"], jvm)}
            self._stop.wait(self.interval)

    def take(self) -> Dict[str, int]:
        """High-water marks since the previous ``take``."""
        with self._lock:
            self.window, peak = {"python": 0, "jvm": 0}, self.window
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


def dir_bytes(path: Path) -> int:
    """Bytes of the data files under ``path`` (checksum and marker files
    excluded)."""
    total = 0
    for p in Path(path).rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            total += p.stat().st_size
    return total


# --------------------------------------------------------------- event log


class EventLog:
    """Jobs, stages and tasks from one Spark event log, grouped by the
    job group the benchmark set around each call."""

    PY_METRICS = {
        "time to start Python workers": "python_total_ms",
        "time to initialize Python workers": "python_total_ms",
        "time to run Python workers": "python_total_ms",
        "data sent to Python workers": "python_bytes_sent",
        "data returned from Python workers": "python_bytes_received",
    }

    def __init__(self, path: Path):
        self.jobs: Dict[int, dict] = {}
        self.stage_job: Dict[int, int] = {}
        self.tasks: List[dict] = []
        self.stage_py: Dict[int, Dict[str, float]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    # metric fields are read strictly: a field Spark no
                    # longer writes fails the run instead of reading 0
                    info, m = ev["Task Info"], ev["Task Metrics"]
                    rd, wr = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "wall": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "cpu": m["Executor CPU Time"] / 1e9,
                        "run": m["Executor Run Time"] / 1000.0,
                        "gc": m["JVM GC Time"] / 1000.0,
                        "shuffle_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                    })
                    acc = self.stage_py.setdefault(ev["Stage ID"], {})
                    for a in info.get("Accumulables") or []:
                        key = self.PY_METRICS.get(a.get("Name"))
                        if key and a.get("Update") is not None:
                            acc[key] = acc.get(key, 0.0) + float(a["Update"])

    def group_of_stage(self, sid: int) -> Optional[str]:
        job = self.stage_job.get(sid)
        return self.jobs[job]["group"] if job is not None else None

    def jobs_in(self, prefix: str) -> List[dict]:
        return [j for j in self.jobs.values() if (j["group"] or "").startswith(prefix)]

    def tasks_in(self, prefix: str) -> List[dict]:
        return [t for t in self.tasks if (self.group_of_stage(t["stage"]) or "").startswith(prefix)]

    def summary(self, prefix: str) -> Dict[str, float]:
        """Spark totals over the job groups starting with ``prefix``."""
        tasks = self.tasks_in(prefix)
        stages = {t["stage"] for t in tasks}
        py = [self.stage_py.get(s, {}) for s in stages]
        # the extraction stage: the one that spent most time in Python
        ext = max(stages, key=lambda s: self.stage_py.get(s, {}).get("python_total_ms", 0.0), default=None)
        walls = [t["wall"] for t in tasks if t["stage"] == ext]
        return {
            "spark.executor_cpu_s": sum(t["cpu"] for t in tasks),
            "spark.executor_run_s": sum(t["run"] for t in tasks),
            "spark.gc_s": sum(t["gc"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.jobs": len(self.jobs_in(prefix)),
            "spark.tasks": len(tasks),
            "spark.task_skew": max(walls) / median(walls) if walls and median(walls) > 0 else 1.0,
            "python_total_s": sum(p.get("python_total_ms", 0.0) for p in py) / 1000.0,
            "python_bytes_sent": sum(p.get("python_bytes_sent", 0.0) for p in py),
            "python_bytes_received": sum(p.get("python_bytes_received", 0.0) for p in py),
        }
