"""Spans, Spark job counters and process-tree memory, all measured from
outside the package.

A span records name, start, end, parent and job id.  Every span runs its
Spark work under its own job group; when the span closes, the listener bus
is drained and the group's jobs, executed stages and completed tasks are
read from ``statusTracker()``.  Spans stay in memory until
:meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, executed stages, completed tasks) of one job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    stages, tasks = set(), 0
    for jid in job_ids:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage and stage.numCompletedTasks:
                stages.add(sid)
                tasks += stage.numCompletedTasks
    return len(job_ids), len(stages), tasks


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.job = 0
        self._stack: list[int] = []

    def _group(self, idx: int) -> str:
        return f"perfbench-{os.getpid()}-{idx}"

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.job, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(self._group(idx), name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self._group(parent), self.spans[parent].name)
            sp.jobs, sp.stages, sp.tasks = spark_counts(self.sc, self._group(idx))

    def self_seconds(self, idx: int) -> float:
        """Span time minus the time its direct children cover (children
        run sequentially on one thread, so they never overlap)."""
        children = sum(s.seconds for s in self.spans if s.parent == idx)
        return self.spans[idx].seconds - children

    def dump(self, path: str, context: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            dict(asdict(s), id=i, self_s=self.self_seconds(i))
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"context": context, "spans": rows}, f, indent=1)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident pages) for every process in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(fields[1]), int(fields[21]))
    return table


def _subtree(table: dict[int, tuple[int, int]], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, frontier = {root}, [root]
    while frontier:
        for pid in children.get(frontier.pop(), ()):
            if pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def descendants(root: int) -> set[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    return _subtree(_proc_table(), root) - {root}


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident bytes of ``root`` (default: this process) and all its
    descendants, read from ``/proc``."""
    table = _proc_table()
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(table[pid][1] * page for pid in _subtree(table, root or os.getpid()) if pid in table)


class RssSampler:
    """Background thread keeping the peak of :func:`tree_rss_bytes`,
    sampled every ``INTERVAL`` seconds."""

    INTERVAL = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``, bookkeeping files included."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def dir_files(path: str) -> int:
    """Data files under ``path`` (names not starting with ``.`` or ``_``)."""
    return sum(
        1 for _, _, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )
