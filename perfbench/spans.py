"""Spans, Spark status-store attribution and a memory sampler.

Spans are recorded in memory around the benchmark's calls into the
program (name, start, end, parent) and written out when the run ends.
After each traced pass, one JSON dump of Spark's status store (jobs and
stages, serialized on the JVM side by Jackson, so the cost is one py4j
call per list) is attributed to the innermost span that was open when
each job was submitted. Spark's UI stays disabled: the status store is
read directly, as ``sc._jsc.sc().statusStore()``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    # output key: (StageData field, scale to seconds/bytes)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "gc_s": ("jvmGcTime", 1e-3),
    "tasks": ("numCompleteTasks", 1),
}


class Tracer:
    """In-memory span recorder. While ``active`` is false, ``span``
    records nothing and costs one branch."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield {}
            return
        s = {"id": len(self.spans), "name": name,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def attribute_jobs(self, spark, since: float) -> None:
        """Attach every job submitted after ``since`` (and its stages'
        metrics) to the innermost span open at its submission time."""
        jobs, stages = status_dump(spark)
        stage_by_id: dict[int, dict] = {}
        for st in sorted(stages, key=lambda st: st["attemptId"]):
            stage_by_id[st["stageId"]] = st  # the last attempt wins
        closed = [s for s in self.spans if s["end"] is not None and s["end"] >= since]
        for job in jobs:
            sub = (job.get("submissionTime") or 0) / 1e3
            if sub < since:
                continue
            owner = None
            for s in closed:
                if s["start"] <= sub <= s["end"] and (owner is None or s["start"] >= owner["start"]):
                    owner = s
            if owner is None:
                continue
            done = (job.get("completionTime") or 0) / 1e3 or owner["end"]
            rec = {"job": job["jobId"], "start": sub, "end": done, "stages": 0}
            for key in STAGE_FIELDS:
                rec[key] = 0.0
            for sid in job.get("stageIds", []):
                st = stage_by_id.get(sid)
                if st is None or st.get("status") == "SKIPPED":
                    continue
                rec["stages"] += 1
                for key, (field, scale) in STAGE_FIELDS.items():
                    rec[key] += (st.get(field) or 0) * scale
            owner.setdefault("jobs", []).append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def status_dump(spark) -> tuple[list[dict], list[dict]]:
    """All retained jobs and stages from the status store, as dicts."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    empty = jvm.java.util.ArrayList()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(empty, False, False, no_quantiles, empty)))
    return jobs, stages


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def dir_mb(path: str) -> float:
    total = 0
    stack = [path]
    while stack:
        try:
            with os.scandir(stack.pop()) as it:
                for e in it:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    elif e.is_file(follow_symlinks=False):
                        total += e.stat(follow_symlinks=False).st_size
        except OSError:
            continue
    return total / 2**20


class MemorySampler(threading.Thread):
    """One thread sampling JVM RSS, Python worker RSS (the JVM's
    descendants), the driver's own RSS and, when ``dirs`` is given, the
    bytes under the shuffle and scratch directories."""

    def __init__(self, jvm_pid: int, dirs: list[str] | None = None, interval: float = 0.25):
        super().__init__(daemon=True)
        self.jvm_pid, self.dirs, self.interval = jvm_pid, dirs or [], interval
        self.peak = {"total_mb": 0.0, "jvm_mb": 0.0, "workers_mb": 0.0, "scratch_mb": 0.0}
        self.worker_pids: set[int] = set()
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        jvm = _rss_mb(self.jvm_pid)
        kids = descendants(self.jvm_pid)
        self.worker_pids.update(kids)
        workers = sum(_rss_mb(p) for p in kids)
        total = jvm + workers + _rss_mb(os.getpid())
        scratch = sum(dir_mb(d) for d in self.dirs)
        for key, val in (("total_mb", total), ("jvm_mb", jvm),
                         ("workers_mb", workers), ("scratch_mb", scratch)):
            self.peak[key] = max(self.peak[key], val)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> dict:
        self._stop_evt.set()
        self.join()
        self.sample()
        return dict(self.peak)
