"""Spans, Spark stage metrics and a process-tree RSS sampler.

Spans are recorded by the benchmark around the calls it makes (or
wraps) into each layer; the program itself is not instrumented. Every
span sets its own Spark job group, so the jobs a layer triggers can be
read back from the application status store and attributed to it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or time.monotonic()) - self.start


class Tracer:
    """In-memory span recorder. Spans of one traced operation share a
    run id; `group(span_index)` is the Spark job group of that span."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.run_id = uuid.uuid4().hex[:12]
        self._stack: list[int] = []

    def group(self, index: int) -> str:
        return f"perfbench-{self.run_id}-{index}"

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.monotonic(), parent, self.run_id)
        self.spans.append(sp)
        index = len(self.spans) - 1
        self._stack.append(index)
        sc.setJobGroup(self.group(index), name)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self.group(self._stack[-1]), self.spans[self._stack[-1]].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name under `root` (inclusive): a span's
        duration minus the time its direct children cover."""
        children: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(i)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            kids = children.get(i, [])
            covered = sum(self.spans[k].duration for k in kids)
            name = self.spans[i].name
            out[name] = out.get(name, 0.0) + max(0.0, self.spans[i].duration - covered)
            todo.extend(kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": sp.name, "parent": sp.parent,
                    "run_id": sp.run_id, "start": sp.start, "end": sp.end,
                    "counts": sp.counts,
                }) + "\n")


# --- Spark application status store -------------------------------------------


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _opt(o):
    return o.get() if o.isDefined() else None


@dataclass
class StageStats:
    stage_id: int
    name: str
    num_tasks: int
    failed_tasks: int
    run_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    task_run_ms: list


@dataclass
class JobStats:
    job_id: int
    group: str | None
    start: float
    end: float
    stages: list


def spark_jobs(spark, keep, task_groups: set | None = None) -> list[JobStats]:
    """The finished jobs the status store still retains for which
    keep(group, start, end) holds, with their stages' executor run time,
    shuffle bytes, spill and failed tasks; per-task run times only for
    stages of jobs in `task_groups`. Each stage and task costs several
    gateway calls, so only the kept jobs' stages are read. Job times are
    wall-clock seconds since the epoch."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    kept = []
    for jd in _seq(jvm, store.jobsList(None)):
        sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
        if sub is None or done is None:
            continue
        group = _opt(jd.jobGroup())
        start, end = sub.getTime() / 1000.0, done.getTime() / 1000.0
        if keep(group, start, end):
            kept.append((jd.jobId(), group, start, end, _seq(jvm, jd.stageIds())))
    wanted = {s for *_j, sids in kept for s in sids}
    task_stages = {
        s for _id, group, _s, _e, sids in kept if task_groups and group in task_groups
        for s in sids
    }
    stages = {}
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stage_list = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    for sd in _seq(jvm, stage_list):
        sid = sd.stageId()
        if sid not in wanted:
            continue
        task_ms = []
        if sid in task_stages and sd.numTasks() > 1:
            for td in _seq(jvm, store.taskList(sid, sd.attemptId(), 100000)):
                m = _opt(td.taskMetrics())
                if m is not None:
                    task_ms.append(m.executorRunTime())
        prev = stages.get(sid)
        st = StageStats(
            sid, sd.name(), sd.numTasks(), sd.numFailedTasks(),
            sd.executorRunTime() / 1000.0, sd.shuffleReadBytes(),
            sd.shuffleWriteBytes(), sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            task_ms,
        )
        if prev is not None:  # retried attempts add up
            st.num_tasks += prev.num_tasks
            st.failed_tasks += prev.failed_tasks
            st.run_s += prev.run_s
            st.shuffle_read += prev.shuffle_read
            st.shuffle_write += prev.shuffle_write
            st.spill += prev.spill
            st.task_run_ms += prev.task_run_ms
        stages[sid] = st
    return [
        JobStats(jid, group, start, end, [stages[s] for s in sids if s in stages])
        for jid, group, start, end, sids in kept
    ]


def in_window(start: float, end: float, t0: float, t1: float) -> bool:
    return start >= t0 - 0.05 and end <= t1 + 0.05


def engine_metrics(jobs: list[JobStats], t0: float, t1: float, cores: int) -> dict:
    """Engine-wide figures for the jobs inside wall-clock window [t0, t1]:
    counts, bytes, executor busy fraction and the time no job ran."""
    inside = [j for j in jobs if in_window(j.start, j.end, t0, t1)]
    seen = {}
    for j in inside:
        for st in j.stages:
            seen[st.stage_id] = st
    run_s = sum(st.run_s for st in seen.values())
    covered, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(j.start, t0), min(j.end, t1)) for j in inside):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    wall = max(t1 - t0, 1e-9)
    return {
        "spark.jobs": len(inside),
        "spark.tasks": sum(st.num_tasks for st in seen.values()),
        "spark.failed_tasks": sum(st.failed_tasks for st in seen.values()),
        "spark.shuffle_write_bytes": sum(st.shuffle_write for st in seen.values()),
        "spark.spill_bytes": sum(st.spill for st in seen.values()),
        "spark.busy_frac": run_s / (wall * cores),
        "spark.driver_gap_s": max(0.0, wall - covered),
    }


def group_stages(jobs: list[JobStats], groups: set[str]) -> list[StageStats]:
    seen = {}
    for j in jobs:
        if j.group in groups:
            for st in j.stages:
                seen[st.stage_id] = st
    return list(seen.values())


def task_skew(stages: list[StageStats]) -> float:
    """max ÷ median task run time of the multi-task stage that ran
    longest in total (1 ms floor on both)."""
    multi = [st for st in stages if len(st.task_run_ms) > 1]
    if not multi:
        return 1.0
    st = max(multi, key=lambda s: s.run_s)
    return max(1, max(st.task_run_ms)) / max(1, statistics.median(st.task_run_ms))


# --- peak RSS of the process tree ----------------------------------------------


def tree_pids(root: int) -> list[int]:
    """`root` and all its descendants (driver JVM, PySpark daemon and its
    Python workers), from one scan of /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_bytes(pids) -> int:
    """Proportional set size summed over `pids`: a page shared by n of
    them (the forked PySpark workers share their daemon's copy-on-write
    pages) counts 1/n in each, so the tree's total counts it once."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited since the scan
    return total


class RssSampler:
    """Background thread sampling the process tree's resident memory
    (proportional set size) every `interval` seconds (the tree itself is rescanned every
    `rescan` seconds); `peak` is the largest sample since reset()."""

    def __init__(self, root: int, interval: float = 0.2, rescan: float = 2.0):
        self.root = root
        self.interval = interval
        self.rescan = rescan
        self.peak = 0
        self._pids = tree_pids(root)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        last_scan = time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - last_scan >= self.rescan:
                self._pids = tree_pids(self.root)
                last_scan = time.monotonic()
            rss = pss_bytes(self._pids)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self._pids = tree_pids(self.root)
        with self._lock:
            self.peak = pss_bytes(self._pids)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
