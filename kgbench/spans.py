"""Benchmark-side spans and a resident-memory sampler.

Spans are kept in memory and written out with the run's result. Each
span also tags the Spark jobs its thread submits (the ``kgbench.span``
local property), so the event-log parser can attribute jobs to spans
even while two threads run jobs at once. Jobs the program submits from
its own pool threads carry no tag; the parser assigns them to the
enclosing span by time.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "kgbench.span"


class Spans:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, kind: str):
        """Time the block; ``kind`` groups spans of one request class."""
        outer = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, name)
        t0 = time.time()
        rec = {"name": name, "kind": kind, "start_ms": t0 * 1000.0,
               "thread": threading.current_thread().name}
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            rec["wall_s"] = (rec["end_ms"] - rec["start_ms"]) / 1000.0
            self.sc.setLocalProperty(SPAN_PROPERTY, outer)
            with self._lock:
                self.spans.append(rec)


def child_pids(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: forked Python workers share pages with
    their daemon, so summing plain RSS would count those pages twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed proportional resident set of the descendants of
    ``root_pid`` (for the benchmark process: the driver JVM and the Python
    workers it forks), sampled every PERIOD_S seconds."""

    PERIOD_S = 0.25

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def sample(self) -> int:
        total, todo = 0, child_pids(self.root_pid)
        while todo:
            pid = todo.pop()
            total += _pss_kb(pid)
            try:
                todo += child_pids(pid)
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
