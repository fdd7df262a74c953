"""Span recorder and process-tree memory sampler for the benchmark.

Spans are opened around calls into the program's public functions; the
program itself is not instrumented. Spark work is attributed to a span by
job-id range (``DAGScheduler.numTotalJobs`` at open and close), not by job
group: jobs launched from the operators' own thread pools do not inherit
the caller's job group. Stage metrics are read from the in-process status
store when the span closes, because the store evicts old stages
(``spark.ui.retainedStages``, 1,000 by default).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


class StatusStore:
    """Read-only view of one SparkContext's scheduler and status store."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def jobs_started(self) -> int:
        """Ids below this value belong to jobs already submitted."""
        return self._dag.numTotalJobs()

    def sync(self) -> None:
        """Wait until every posted scheduler event reached the store."""
        self._bus.waitUntilEmpty()

    def job_window(self, job_id: int) -> tuple[float, float]:
        """(submitted, completed) of a finished job, epoch seconds."""
        jd = self._store.job(job_id)
        return (
            jd.submissionTime().get().getTime() / 1e3,
            jd.completionTime().get().getTime() / 1e3,
        )

    def job_stages(self, job_id: int) -> list[int]:
        info = self._tracker.getJobInfo(job_id)
        return list(info.stageIds) if info else []

    def stage_metrics(self, stage_id: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted or never submitted
            return None
        return {
            "task_s": sd.executorRunTime() / 1e3,
            "gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_mb": (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6,
        }


@dataclass
class Span:
    name: str
    parent: "Span | None"
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    child_wall: float = 0.0
    jobs: list[int] = field(default_factory=list)
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.child_wall

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "parent": self.parent.name if self.parent else None,
            "start": self.start,
            "end": self.end,
            "self_s": self.self_s,
            "jobs": self.jobs,
            "task_s": self.task_s,
            "gc_s": self.gc_s,
            "shuffle_mb": self.shuffle_mb,
        }


class Recorder:
    """Nested spans over one pass. A job belongs to the innermost span
    whose id range holds it; a stage is counted once, for the first span
    that claims a job using it (later jobs list it again as skipped)."""

    def __init__(self, store: StatusStore):
        self.store = store
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._claimed: set[int] = set()
        self._stages_seen: set[int] = set()

    def open(self, name: str) -> Span:
        sp = Span(
            name,
            self._stack[-1] if self._stack else None,
            time.time(),
            self.store.jobs_started(),
        )
        self._stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        if self._stack.pop() is not sp:
            raise RuntimeError(f"span {sp.name!r} closed out of order")
        sp.end = time.time()
        sp.job_hi = self.store.jobs_started()
        self.store.sync()
        for jid in range(sp.job_lo, sp.job_hi):
            if jid in self._claimed:
                continue
            self._claimed.add(jid)
            sp.jobs.append(jid)
            for sid in self.store.job_stages(jid):
                if sid in self._stages_seen:
                    continue
                self._stages_seen.add(sid)
                m = self.store.stage_metrics(sid)
                if m:
                    sp.task_s += m["task_s"]
                    sp.gc_s += m["gc_s"]
                    sp.shuffle_mb += m["shuffle_mb"]
        if sp.parent is not None:
            sp.parent.child_wall += sp.wall
        self.spans.append(sp)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def top_level_wall(self) -> float:
        return sum(s.wall for s in self.spans if s.parent is None)

    def totals(self) -> dict[str, dict]:
        """Per span name: self time, jobs, task time, shuffle, GC."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            t = out.setdefault(
                sp.name,
                {"s": 0.0, "jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0,
                 "gc_s": 0.0},
            )
            t["s"] += sp.self_s
            t["jobs"] += len(sp.jobs)
            t["task_s"] += sp.task_s
            t["shuffle_mb"] += sp.shuffle_mb
            t["gc_s"] += sp.gc_s
        return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    fields: dict[int, list[bytes]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited while we walked
            continue
        # the command name may hold spaces: fields resume after its ')'
        rest = stat[stat.rindex(b")") + 2:].split()
        fields[int(entry)] = rest
        children.setdefault(int(rest[1]), []).append(int(entry))
    rss, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in fields:
            rss += int(fields[pid][21]) * page  # stat field 24, in pages
    return rss


class RssSampler:
    """Samples the process tree's resident memory in a background thread;
    ``peak_mb`` is the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._pid = os.getpid()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(self._pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def start(self) -> None:
        self._thread.start()

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
