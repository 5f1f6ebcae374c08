"""Spans, counters and disk accounting, recorded from outside the engine.

Nothing here edits engine code: the tracer replaces methods on the
instances the benchmark created (an instance attribute shadows the
class method, so the engine's own ``self.table.live()`` calls go
through the wrapper too), and a counting ``CommitBackend`` subclass is
passed in through the engine's ``backend=`` argument.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field

from adfs_spark.backend import LocalCommitBackend


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a top-level op
    op: int


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every hook a
    pass-through, so the untraced run pays only the op boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping

    def begin(self, name: str) -> int:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, 0.0, 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.spans[idx].start = time.perf_counter()
        self.own_s += self.spans[idx].start - t0
        return idx

    def end(self, idx: int) -> None:
        t = time.perf_counter()
        self.spans[idx].end = t
        self._stack.pop()
        self.own_s += time.perf_counter() - t

    def wrap(self, obj, method: str, name: str) -> None:
        """Record a span around every call of ``obj.method``."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*a, **kw):
            idx = self.begin(name)
            try:
                return inner(*a, **kw)
            finally:
                self.end(idx)

        setattr(obj, method, traced)

    # -- derived figures ------------------------------------------------

    def self_times(self) -> list[float]:
        """Span duration minus the time its direct children cover (the
        client is one thread, so children never overlap)."""
        out = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent >= 0:
                out[s.parent] -= s.end - s.start
        return out

    def totals(self, prefix: str) -> tuple[int, float, float]:
        """For spans named ``prefix*``: (calls and total seconds of those
        not nested in a span of the same name, self seconds of all)."""
        selfs = self.self_times()
        n, tot, own = 0, 0.0, 0.0
        for i, s in enumerate(self.spans):
            if not s.name.startswith(prefix):
                continue
            own += selfs[i]
            p = s.parent
            while p >= 0 and self.spans[p].name != s.name:
                p = self.spans[p].parent
            if p < 0:
                n += 1
                tot += s.end - s.start
        return n, tot, own

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


BACKEND_VERBS = ("put_if_absent", "replace", "read", "list", "delete", "mtime")


class CountingBackend(LocalCommitBackend):
    """The local commit backend, counting calls and time per verb."""

    def __init__(self):
        super().__init__()
        self.calls = {v: 0 for v in BACKEND_VERBS}
        self.seconds = 0.0

    def _timed(self, verb, *a):
        t0 = time.perf_counter()
        try:
            return getattr(LocalCommitBackend, verb)(self, *a)
        finally:
            self.seconds += time.perf_counter() - t0
            self.calls[verb] += 1

    def put_if_absent(self, key, data):
        return self._timed("put_if_absent", key, data)

    def replace(self, key, data):
        return self._timed("replace", key, data)

    def read(self, key):
        return self._timed("read", key)

    def list(self, prefix):
        return self._timed("list", prefix)

    def delete(self, key):
        return self._timed("delete", key)

    def mtime(self, key):
        return self._timed("mtime", key)


def dir_files(root: str) -> dict[str, int]:
    """path → size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


@dataclass
class DiskLedger:
    """Bytes the engine writes, found by walking the table directories
    before and after each op (outside the op's timed interval)."""

    roots: list[str]
    files: dict[str, int] = field(default_factory=dict)
    written: int = 0
    compacted: int = 0
    changelog_files_since_compact: int = 0
    pending_at_compact: list[int] = field(default_factory=list)

    def snapshot(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in self.roots:
            out.update(dir_files(r))
        return out

    def start(self) -> None:
        self.files = self.snapshot()

    def after_op(self, compacting: bool = False) -> None:
        """Account the op that just ran: bytes of new or changed files go
        to ``compacted`` for a compaction, to ``written`` otherwise."""
        now = self.snapshot()
        new = 0
        for p, size in now.items():
            old = self.files.get(p)
            if old is None or old != size:
                new += size
                if old is None and f"{os.sep}changelog{os.sep}" in p and p.endswith(".parquet"):
                    self.changelog_files_since_compact += 1
        self.files = now
        if compacting:
            self.compacted += new
            self.pending_at_compact.append(self.changelog_files_since_compact)
            self.changelog_files_since_compact = 0
        else:
            self.written += new

    def live_bytes(self) -> int:
        return sum(self.files.values())


class JobCounter:
    """Spark jobs and tasks per op, read from the status tracker after
    each op ran under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def set_group(self, op: int) -> str:
        g = f"perfbench-op-{op}"
        self.sc.setJobGroup(g, g)
        return g

    def count(self, group: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks
