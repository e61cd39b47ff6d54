"""Measurement helpers: spans for the traced run, Spark's own job and
stage records, and peak resident memory of the Python and JVM processes.

Spans are kept in memory and written out once, when the run ends. A span
records a name, a start and an end (``time.perf_counter`` seconds), the
span that was open when it began on the same thread, and the operation it
belongs to. Untraced runs use ``NullTracer``, which records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # seconds spent reading Spark's status store for the traced run
        self.records_read_s = 0.0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "op": op,
                               "parent": stack[-1] if stack else None,
                               "start": time.perf_counter(), "end": None})
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, op: str | None = None) -> int:
        """Record a span timed elsewhere, such as a phase of a streaming
        micro-batch taken from Spark's progress report."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "op": op,
                               "parent": parent, "start": start, "end": end})
        return sid

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def covered(self, sid: int) -> float:
        """Seconds of span ``sid`` covered by at least one child span."""
        span = self.spans[sid]
        pieces = sorted((max(c["start"], span["start"]),
                         min(c["end"], span["end"]))
                        for c in self.children(sid) if c["end"] is not None)
        return union_length(pieces)

    def self_time(self, sid: int) -> float:
        span = self.spans[sid]
        return span["end"] - span["start"] - self.covered(sid)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            spans = [{**s, "self": self.self_time(s["id"])}
                     for s in self.spans if s["end"] is not None]
            json.dump({"spans": spans, **extra}, f, indent=1)


class NullTracer(Tracer):
    enabled = False

    def span(self, name: str, op: str | None = None):
        return contextlib.nullcontext()


def union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat;
    (0, 0) where the kernel does not report them."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return 0, 0


class PhaseMonitor:
    """Watches a timed phase: samples the resident set of this process plus
    the JVM every ``interval`` seconds and keeps the peak of the sum, and
    measures the share of CPU time the hypervisor took from this machine
    (steal) during the phase. Steal is reported, not used: it tells a slow
    run on a busy host from a slow engine."""

    def __init__(self, jvm_pid: int | None, interval: float = 0.05) -> None:
        self.pids = [os.getpid()] + ([jvm_pid] if jvm_pid else [])
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb,
                               sum(_rss_kb(p) for p in self.pids))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._cpu0 = _cpu_jiffies()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        steal, total = (b - a for a, b in zip(self._cpu0, _cpu_jiffies()))
        self.steal_share = steal / total if total else 0.0

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class SparkRecords:
    """Reads job and stage records from the live application status store
    (no UI or REST server needed). Used by the traced run only."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    @staticmethod
    def _opt(o):
        return o.get() if o is not None and o.isDefined() else None

    def job(self, job_id: int) -> dict | None:
        try:
            j = self.store.job(job_id)
        except Exception:  # noqa: BLE001 — evicted from the store
            return None
        sub, done = self._opt(j.submissionTime()), self._opt(j.completionTime())
        stage_ids = j.stageIds()
        return {
            "job_id": job_id,
            "group": self._opt(j.jobGroup()),
            "description": self._opt(j.description()),
            "submitted": sub.getTime() / 1000.0 if sub is not None else None,
            "completed": done.getTime() / 1000.0 if done is not None else None,
            "stage_ids": [stage_ids.apply(i) for i in range(stage_ids.size())],
        }

    def stage(self, stage_id: int) -> dict | None:
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 — skipped stage, never attempted
            return None
        if str(s.status()) == "SKIPPED":
            return None
        return {
            "tasks": s.numTasks(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "executor_run_s": s.executorRunTime() / 1000.0,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
        }

    def group_job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def all_job_ids(self) -> list[int]:
        jobs = self.store.jobsList(None)
        return sorted(jobs.apply(i).jobId() for i in range(jobs.size()))

    def summarize(self, job_ids: list[int]) -> dict:
        """Totals over ``job_ids``: jobs, stages, tasks, shuffle bytes,
        executor run, CPU and GC seconds, and the job intervals as
        epoch seconds."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "gc_s": 0.0, "intervals": []}
        for jid in job_ids:
            job = self.job(jid)
            if job is None:
                continue
            out["jobs"] += 1
            if job["submitted"] is not None and job["completed"] is not None:
                out["intervals"].append((job["submitted"], job["completed"]))
            for sid in job["stage_ids"]:
                st = self.stage(sid)
                if st is None:
                    continue
                out["stages"] += 1
                for k, v in st.items():
                    out[k] += v
        return out
