"""Spans, server and Spark counters, and process memory for the
benchmark's traced run.

Spans are recorded from the benchmark's own code around each public
call; nothing inside ``flaco_spark`` is instrumented.  Everything
stays in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    call_id: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  A span's parent is the span open on
    entry; spans of one workload call share its ``call_id``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, call_id: int):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, call_id, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.duration
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s.name, []).append(s.duration - child_time[s.span_id])
        return out


class PgCounters:
    """Server-side counters read over one long-lived monitor session:
    sessions and commits from ``pg_stat_database``, tuples read from
    ``pg_stat_user_tables`` (``seq_tup_read + idx_tup_fetch``).

    Backends flush their statistics as they exit, so a read first waits
    until no other client backend is connected and the counters stop
    moving.  Every monitor query commits one transaction of its own;
    those are counted and subtracted."""

    _READ = (
        "SELECT d.sessions, d.xact_commit, "
        "(SELECT coalesce(sum(seq_tup_read + coalesce(idx_tup_fetch, 0)), 0) "
        " FROM pg_stat_user_tables) "
        "FROM pg_stat_database d WHERE d.datname = current_database()"
    )
    _OTHERS = (
        "SELECT count(*) FROM pg_stat_activity "
        "WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()"
    )

    def __init__(self, conn) -> None:
        self.conn = conn
        self.queries = 0
        m1, a = self._raw()
        m2, b = self._raw()
        if b[1] - a[1] != m2 - m1:
            raise RuntimeError("monitor queries do not commit one transaction each")
        self.last, self.last_mark = b, m2

    def _q(self, sql: str) -> list:
        self.queries += 1
        return self.conn.query(sql)[1]

    def _raw(self) -> tuple[int, tuple[int, ...]]:
        # the flush query's own commit is included in the read that follows
        self._q("SELECT pg_stat_force_next_flush()")
        mark = self.queries
        return mark, tuple(int(v) for v in self._q(self._READ)[0])

    def _since_last(self, mark: int, vals: tuple[int, ...]) -> tuple[int, int, int]:
        s, x, t = (v - p for v, p in zip(vals, self.last))
        return s, x - (mark - self.last_mark), t

    def delta(self) -> tuple[int, int, int]:
        """(sessions, commits, tuples read) by other clients since the
        previous call."""
        for _ in range(400):
            if int(self._q(self._OTHERS)[0][0]) == 0:
                break
            time.sleep(0.005)
        mark, cur = self._raw()
        d = self._since_last(mark, cur)
        for _ in range(20):
            time.sleep(0.02)
            mark, cur = self._raw()
            settled = self._since_last(mark, cur)
            if settled == d:
                break
            d = settled
        self.last, self.last_mark = cur, mark
        return d


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stages += 1
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return jobs, stages, tasks


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int | None = None) -> list[int]:
    todo, seen = _children(pid or os.getpid()), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _status(pid: int, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None


def peak_rss_mib(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB."""
    hwm = _status(pid, "VmHWM")
    return int(hwm.split()[0]) / 1024.0 if hwm else 0.0


def reset_peak_rss() -> None:
    """Lower this process's VmHWM to its current resident set."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def jvm_pid() -> int:
    """The Spark JVM: the ``java`` process among this one's descendants."""
    for p in descendants():
        if _status(p, "Name") == "java":
            return p
    raise RuntimeError("no Spark JVM among this process's children")
