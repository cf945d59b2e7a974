"""Spans around the benchmark's calls into the program, with per-call
Spark counters.

A :class:`Tracer` records one span per wrapped call: name, start, end,
parent span and run id, kept in memory and written out as JSON lines at
the end of the run. Leaf spans (the listed layer calls) also carry:

- ``jobs``, ``tasks``, ``executor_run_s``, ``input_mb``,
  ``shuffle_write_mb``, ``spill_mb`` — summed over the Spark jobs the
  call submitted, read from the driver's status store
  (``sc._jsc.sc().statusStore()``, filled even with the UI disabled).
  The call runs under its own job group, but jobs are attributed by
  job-id range (the scheduler numbers jobs in submission order), which
  also catches jobs the program submits from its own worker threads —
  those do not inherit the group. The benchmark is a single closed-loop
  client, so nothing else submits jobs meanwhile;
- ``driver_s`` — wall time not covered by any of those jobs;
- ``py4j_calls`` — commands sent through the gateway client, counted by
  wrapping the client's ``send_command``. Pending deletes of dropped
  Java objects (the tracer drops hundreds per call) are sent in the
  tracer's bookkeeping before and after each call, so they land in no
  measured call;
- ``output_mb`` / ``files_written`` — files under the watched output
  directories (the warehouse, the export directory) that are new after
  the call (by inode, so hard-linked carry-overs of a snapshot
  flip do not count) and their size.

With tracing off, :meth:`Tracer.call` is a plain call: no job group, no
counters, no directory walks.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: counters of a leaf span, in report order
COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "executor_run_s",
            "input_mb", "shuffle_write_mb", "spill_mb", "py4j_calls",
            "output_mb", "files_written")

MB = 1024 * 1024


def unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    return "MB" if counter.endswith("_mb") else "count"


def _files(roots: list[str]) -> dict[tuple[int, int], int]:
    """(device, inode) -> size of every regular file under ``roots``."""
    out = {}
    for dirpath, _dirs, files in (w for r in roots for w in os.walk(r)):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:  # reclaimed while walking
                continue
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _flush_py4j_deletes(client) -> None:
    """Send py4j's pending object deletes now, from this thread.

    py4j's finalizer thread sends one delete command per Java object that
    Python dropped, in the background. The tracer drops hundreds per call
    (status-store rows); left to that thread, their deletes would run
    during the next measured call and add to its time and py4j_calls."""
    pending = getattr(client, "finalizer_deque", None)
    while pending:
        try:
            task = pending.pop()
        except IndexError:  # the finalizer thread took the last one
            return
        if not isinstance(task, tuple):  # the thread's shutdown marker
            pending.append(task)
            return
        owner, target_id = task
        owner.garbage_collect_object(target_id, False)


class _Py4jCounter:
    """Counts commands through one gateway client by wrapping its bound
    ``send_command``; every JavaObject calls through that attribute."""

    def __init__(self, client):
        self.n = 0
        orig = client.send_command

        def counted(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        client.send_command = counted


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = None
        self._py4j = None
        self._client = None
        self._watch: list[str] = []
        self._noted: set[str] = set()
        #: seconds spent in the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    def attach(self, spark, watch: list[str]) -> None:
        """Bind to a live session and the output directories to watch."""
        self._spark = spark
        self._watch = watch
        if self.enabled and self._py4j is None:
            self._client = spark.sparkContext._gateway._gateway_client
            self._py4j = _Py4jCounter(self._client)

    @contextmanager
    def span(self, name: str, **attrs):
        """A grouping span (no counters): a workload op, a set-up."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"run": self.run_id, "id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` as the leaf span ``name``."""
        if not self.enabled or self._spark is None:
            return fn(*args, **kwargs)
        t_book = time.perf_counter()
        sc = self._spark.sparkContext
        sid = len(self.spans)
        group = f"perfbench-{self.run_id}-{sid}"
        before = _files(self._watch)
        rec = {"run": self.run_id, "id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        sc.setJobGroup(group, name)
        job0 = self._next_job_id()
        _flush_py4j_deletes(self._client)
        n0 = self._py4j.n
        self.bookkeeping_s += time.perf_counter() - t_book
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            rec["end"] = time.time()
            t_book = time.perf_counter()
            rec["py4j_calls"] = self._py4j.n - n0
            job1 = self._next_job_id()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec["wall_s"] = wall
            rec.update(self._job_counters(range(job0, job1),
                                          rec["start"], rec["end"]))
            after = _files(self._watch)
            new = [k for k in after if k not in before]
            rec["files_written"] = len(new)
            rec["output_mb"] = sum(after[k] for k in new) / MB
            _flush_py4j_deletes(self._client)
            self.bookkeeping_s += time.perf_counter() - t_book

    def note(self, name: str, start: float, end: float) -> None:
        """A leaf span timed by the caller (a call made before the
        tracer could attach, such as the session start); it reports
        ``wall_s`` only."""
        if self.enabled:
            self._noted.add(name)
            self.spans.append({"run": self.run_id, "id": len(self.spans),
                               "name": name, "parent": None, "start": start,
                               "end": end, "wall_s": end - start})

    def _next_job_id(self) -> int:
        return self._spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def _job_counters(self, job_ids: range, t_start: float, t_end: float) -> dict:
        jsc = self._spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "input_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        intervals, stages = [], set()
        for jid in job_ids:
            jd = store.job(jid)
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            lo = sub.get().getTime() / 1000 if sub.isDefined() else t_start
            hi = done.get().getTime() / 1000 if done.isDefined() else t_end
            intervals.append((max(lo, t_start), min(hi, t_end)))
            stages.update(int(s) for s in jd.stageIds().mkString(",").split(",") if s)
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:
                # evicted: past spark.ui.retainedStages the store drops
                # stages by completion time, skipped ones (never run, no
                # tasks) first, so even a stage of this call can be gone
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000
            out["input_mb"] += sd.inputBytes() / MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        out["driver_s"] = max(0.0, (t_end - t_start) - _union_s(intervals))
        return out

    def leaf_metrics(self, calls, n_ops: int) -> dict[str, dict]:
        """``<call>.<counter>``: the median over the call's spans of each
        counter (``wall_s`` only for a noted call), 0 for a call this run
        never made; plus ``trace.bookkeeping_s``, the tracer's own time
        per op. That is a lower bound of the tracing overhead, which is
        the traced op time minus the untraced one (see README)."""
        out = {}
        for call in calls:
            recs = [r for r in self.spans if r["name"] == call and "wall_s" in r]
            for c in ("wall_s",) if call in self._noted else COUNTERS:
                vals = [r.get(c, 0) for r in recs]
                out[f"{call}.{c}"] = {"value": statistics.median(vals) if vals else 0,
                                      "unit": unit(c)}
        out["trace.bookkeeping_s"] = {"value": self.bookkeeping_s / max(1, n_ops),
                                      "unit": "s"}
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.spans:
                f.write(json.dumps(r) + "\n")
