"""Measurement from outside the program: spans, Spark work counts and
process-tree memory.

``Tracer`` times the benchmark's own calls into each layer's public
functions. With tracing off it only runs them. With tracing on it
records a span per call (name, start, end, parent, op id), splits a
DataFrame-returning call into build / plan / exec, tags the call's
Spark jobs with a job group and reads the job, stage and task counts
back from Spark's status tracker. Spans stay in memory until
``dump`` writes them out at the end of the run.
"""

from __future__ import annotations

import json
import os
import select
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

now = time.perf_counter


def median(xs) -> float:
    """Median of ``xs``, 0.0 for no samples."""
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Work:
    """Spark work counted for one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Tracer:
    enabled: bool
    spans: list = field(default_factory=list)
    work: dict = field(default_factory=dict)
    # time spent in the tracer's own bookkeeping (span records and
    # status-tracker reads), the cost tracing adds to a run
    overhead_s: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record ``name`` around the block; nested spans get it as
        parent. A no-op when tracing is off."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        t = now()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, t, t, parent, op))
        stack.append(idx)
        self._charge(t)
        try:
            yield
        finally:
            self.spans[idx].end = now()
            stack.pop()

    @contextmanager
    def job_group(self, spark, group: str):
        """Tag the block's Spark jobs with ``group`` and count them
        afterwards. A no-op when tracing is off."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        t = now()
        sc.setJobGroup(group, group)
        self._charge(t)
        try:
            yield
        finally:
            t = now()
            sc.setLocalProperty("spark.jobGroup.id", None)
            work = count_work(sc, group)
            with self._lock:
                self.work[group] = work
            self._charge(t)

    def _charge(self, since: float) -> None:
        with self._lock:
            self.overhead_s += now() - since

    def call(self, spark, layer: str, op: str, build, action):
        """Run ``action(build())`` as one operation of ``layer``. When
        tracing, record build / plan / exec child spans and the Spark
        work of the op's job group; return the action's result."""
        if not self.enabled:
            return action(build())
        with self.job_group(spark, op), self.span(layer, op):
            with self.span(f"{layer}.build"):
                df = build()
            with self.span(f"{layer}.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.span(f"{layer}.exec"):
                return action(df)

    # -- reading the trace back ------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def median(self, name: str, scale: float = 1.0) -> float:
        return median(self.durations(name)) * scale

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its direct children cover."""
        s = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        covered, hi = 0.0, s.start
        for a, b in kids:
            a, b = max(a, hi), min(b, s.end)
            if b > a:
                covered += b - a
                hi = b
        return s.dur - covered

    def work_median(self, groups: list[str], what: str) -> float:
        return median([getattr(self.work[g], what) for g in groups if g in self.work])

    def dump(self, path: str) -> None:
        """Write every span (with its self time) and work count as JSON."""
        t0 = min((s.start for s in self.spans), default=0.0)
        out = {
            "spans": [
                {"name": s.name, "start": s.start - t0, "end": s.end - t0,
                 "parent": s.parent, "op": s.op, "self": self.self_time(i)}
                for i, s in enumerate(self.spans)
            ],
            "work": {g: vars(w) for g, w in self.work.items()},
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out, fh)


def count_work(sc, group: str) -> Work:
    """Jobs, submitted stages and their tasks for one job group, read
    from Spark's status tracker."""
    st = sc.statusTracker()
    w = Work()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        w.jobs += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                w.stages += 1
                w.tasks += stage.numTasks
    return w


# -- process-tree memory -------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all of its descendants."""
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class TreeRss:
    """Resident memory of this process and all its descendants while a
    workload is inside its timed window.

    A separate sampler process reads /proc every ``interval`` seconds,
    so sampling takes no interpreter time from the process it
    measures. It samples only between the enter and exit of
    ``window()``; ``median_mb`` and ``peak_mb`` summarize those
    samples."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.median = self.peak = 0.0
        self._proc = None

    def __enter__(self) -> "TreeRss":
        self._proc = subprocess.Popen(
            [sys.executable, __file__, str(os.getpid()), str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def _send(self, line: str) -> None:
        self._proc.stdin.write(line + "\n")
        self._proc.stdin.flush()

    @contextmanager
    def window(self):
        """Sample the tree's memory while the block runs."""
        self._send("on")
        try:
            yield
        finally:
            self._send("off")

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate("stop\n", timeout=30)
        self.median, self.peak = (float(x) for x in out.split())

    @property
    def median_mb(self) -> float:
        return self.median / (1024 * 1024)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def _sample_windows(root: int, interval: float) -> None:
    """Sampler process: between "on" and "off" lines on stdin, sample
    the tree RSS (without itself) every ``interval`` seconds and at
    both ends; on "stop" print the median and peak of the samples."""
    me, samples, sampling, buf = os.getpid(), [], False, b""

    def sample():
        samples.append(tree_rss_bytes(root) - tree_rss_bytes(me))

    while True:
        ready, _, _ = select.select([sys.stdin], [], [], interval if sampling else None)
        if not ready:
            sample()
            continue
        chunk = os.read(sys.stdin.fileno(), 1024)
        buf += chunk
        *lines, buf = buf.split(b"\n")
        for cmd in lines:
            if cmd in (b"on", b"off"):
                sample()
                sampling = cmd == b"on"
        if b"stop" in lines or not chunk:
            break
    print(median(samples), max(samples, default=0.0), flush=True)


if __name__ == "__main__":
    _sample_windows(int(sys.argv[1]), float(sys.argv[2]))
