"""Spans around layer calls, process-tree RSS sampling, event-log reading.

The benchmark never edits program code: ``Tracer.wrap`` swaps a public
function or method for a timing wrapper while the traced run lasts and
``Tracer.restore`` puts the original back.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass
from typing import Callable


@dataclass
class SpanRec:
    name: str
    start: float
    end: float
    id: int
    parent: int | None  # id of the enclosing span on the same thread
    tag: object = None  # what the wrap's ``tag`` callable read off the call


class Tracer:
    def __init__(self) -> None:
        self.spans: list[SpanRec] = []
        self._patched: list[tuple[object, str, object]] = []
        self._stack = threading.local()
        self._ids = itertools.count()

    def wrap(self, owner: object, attr: str, name: str,
             tag: Callable[[tuple, dict], object] | None = None) -> None:
        """Time every call of ``owner.attr`` (a module function or a plain
        method) as a span called ``name``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack.__dict__.setdefault("ids", [])
            parent = stack[-1] if stack else None
            span_id = next(tracer._ids)
            t0 = time.time()
            stack.append(span_id)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                tracer.spans.append(SpanRec(name, t0, time.time(), span_id, parent,
                                            tag(args, kwargs) if tag else None))

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, rss bytes, CPU clock ticks) for every readable
    process. The ticks are user plus system time of the process and of its
    reaped children."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), comm, int(fields[21]) * page,
                       sum(int(x) for x in fields[11:15]))
    return out


def _descendants(root: int, table: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int, table: dict | None = None) -> float:
    """CPU seconds used so far by ``root`` and its descendants (this
    interpreter, the JVM and its threads, Python workers)."""
    table = _proc_table() if table is None else table
    ticks = sum(table[p][3] for p in _descendants(root, table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss(root: int, table: dict[int, tuple[int, str, int, int]]) -> tuple[int, int]:
    """(driver bytes, python-worker bytes) of ``root`` and its descendants.

    Python processes below a JVM are Spark's Python workers; everything
    else (this interpreter, the JVM) counts as the driver. Any other
    process below a JVM is the JVM spawning a worker: until it execs it
    reports the JVM's own pages, so it is not counted."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    driver = workers = 0
    todo = [(root, False)]
    while todo:
        pid, under_jvm = todo.pop()
        _, comm, rss, _ = table.get(pid, (0, "", 0, 0))
        if under_jvm and comm.startswith("python"):
            workers += rss
        elif not under_jvm:
            driver += rss
        below_jvm = under_jvm or comm == "java"
        todo.extend((c, below_jvm) for c in children.get(pid, []))
    return driver, workers


class RssSampler:
    """Samples the process tree's RSS on a thread; peaks in MB."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_total = self.peak_driver = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.sample(root)

    def sample(self, root: int) -> None:
        driver, workers = tree_rss(root, _proc_table())
        self.peak_total = max(self.peak_total, driver + workers)
        self.peak_driver = max(self.peak_driver, driver)
        self.peak_workers = max(self.peak_workers, workers)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @staticmethod
    def mb(n: int) -> float:
        return n / (1 << 20)


_WANTED = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')


def read_event_log(log_dir: str) -> list[dict]:
    """Job-start and task-end events from every event-log file under
    ``log_dir`` (uncompressed; rolling or single-file layout)."""
    events = []
    for dirpath, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    if line.startswith(_WANTED):
                        events.append(json.loads(line))
    return events
