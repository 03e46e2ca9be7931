"""Span recorder, Spark status-store reader and host stamps.

A ``Tracer`` puts spans around the benchmark's own calls into the
program's layers.  Each span records its name, start, end, parent and
the id of the operation it belongs to, and on exit reads from the live
status store (``sc._jsc.sc().statusStore()``, which works with the UI
disabled) the jobs submitted while it was open and their stages.

Jobs are attributed by job-id window rather than by job group: the
pipeline submits jobs from its own driver threads, which do not inherit
the caller's job group, but the benchmark is a single closed-loop client
so every job started inside a span's window belongs to it.

Every py4j call is guarded: a failed read leaves the span's ``stages``
as ``None`` with the error in ``stages_error``, so the metrics built
from it are missing; it never fails the run.  Spans stay in memory
until ``dump``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
}


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStoreReader:
    """Reads job and stage metrics from a SparkContext's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext

    def _store(self):
        return self._sc._jsc.sc().statusStore()

    def _jobs(self):
        """Jobs in the store, newest first (the store lists them so)."""
        return _scala_iter(self._store().jobsList(None))

    def max_job_id(self) -> int:
        newest = next(self._jobs(), None)
        return int(newest.jobId()) if newest is not None else -1

    def window(self, after_job: int) -> dict:
        """Summed stage metrics of every job with id > ``after_job``, the
        jobs' [submission, completion] intervals in epoch seconds, and the
        max and median task time of the stage with the most executor run
        time (the skew signal)."""
        # wait until the listener bus has delivered every event, so the
        # store holds the stages of jobs that just finished
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self._store()
        stage_ids, intervals = set(), []
        for j in self._jobs():
            if int(j.jobId()) <= after_job:
                break
            stage_ids.update(int(s) for s in _scala_iter(j.stageIds()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["jobs"] = len(intervals)
        out["stages"] = len(stage_ids)
        out["job_intervals"] = intervals
        heavy = None
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
            run = st.executorRunTime()
            if st.numCompleteTasks() > 0 and (heavy is None or run > heavy[1]):
                heavy = (st, run)
        if heavy is not None:
            out["task_p50_s"], out["task_max_s"] = self._task_quantiles(store, heavy[0])
        return out

    def _task_quantiles(self, store, stage) -> tuple[float, float]:
        gw = self._sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(stage.stageId(), stage.attemptId(), qs)
        if summary.isEmpty():
            return 0.0, 0.0
        runs = summary.get().executorRunTime()
        return runs.apply(0) * 1e-3, runs.apply(1) * 1e-3


class Tracer:
    """In-memory span recorder.  A disabled tracer yields ``None`` for
    every span and records nothing."""

    def __init__(self, enabled: bool = False, reader=None):
        self.enabled = enabled
        self.spark = None
        self.reader = reader
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None

    def bind(self, spark) -> None:
        self.spark = spark
        if self.enabled and self.reader is None:
            self.reader = StatusStoreReader(spark)

    @staticmethod
    def _guard(fn, *args):
        try:
            return fn(*args), None
        except Exception as e:  # noqa: BLE001 — metrics must never fail a run
            return None, f"{type(e).__name__}: {str(e)[:200]}"

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            self._guard(sc.setLocalProperty, "spark.jobGroup.id", None)
        else:
            self._guard(sc.setJobGroup, span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "name": name,
            "group": f"perfbench-{len(self.spans)}-{name}",
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        after, err = (None, "no status store")
        if self.reader is not None:
            after, err = self._guard(self.reader.max_job_id)
        self._set_group(sp)
        sp["epoch_start"], sp["start"] = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"], sp["epoch_end"] = time.perf_counter(), time.time()
            self._stack.pop()
            self._set_group(parent)
            if after is None:
                sp["stages"], sp["stages_error"] = None, err
            else:
                sp["stages"], sp["stages_error"] = self._guard(self.reader.window, after)

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part of it covered by children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return {s["id"]: (s["end"] - s["start"]) - covered(
            [(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
            for s in self.spans}

    def dump(self, path: str, extra: dict | None = None) -> None:
        selft = self.self_times()
        spans = [dict(s, duration_s=s["end"] - s["start"], self_s=selft[s["id"]])
                 for s in self.spans]
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": spans, **(extra or {})}, f, indent=1, default=str)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def duration(span: dict | None) -> float | None:
    return span["end"] - span["start"] if span else None


def stage(span: dict | None, key: str) -> float | None:
    """A status-store value of a span; ``None`` when it could not be read."""
    if not span or not span.get("stages"):
        return None
    return span["stages"].get(key)


def skew(span: dict | None) -> float | None:
    """Max over median task time of the span's heaviest stage."""
    p50, mx = stage(span, "task_p50_s"), stage(span, "task_max_s")
    return mx / p50 if p50 else None


def driver_only(span: dict | None) -> float | None:
    """The span's wall covered by no Spark job submitted inside it."""
    jobs = stage(span, "job_intervals")
    if jobs is None:
        return None
    lo, hi = span["epoch_start"], span["epoch_end"]
    return (hi - lo) - covered(jobs, lo, hi)


def _tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) over this process's live tree
    (the JVM and its Python workers)."""
    total = 0
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat's aggregate cpu line.  The
    kernel already counts guest and guest_nice inside user and nice, so
    the total is the sum of the first eight fields only."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def calibrate() -> float:
    """Seconds for a fixed pure-Python and numpy loop: a host-speed
    stamp that annotates a run and never adjusts a metric."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) % 1_000_003
    x = np.arange(1_000_000, dtype=np.float64)
    for _ in range(20):
        x = np.sqrt(x * x + 1.0)
    return time.perf_counter() - t0
