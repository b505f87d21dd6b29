"""Measurement from outside the engine: timers around calls into each layer's
public functions, and a streaming listener that keeps every micro-batch's
progress."""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class LoadTimer:
    """Counts and times `engine.tables.load` calls while installed.

    `engine.queries` imports `load` by name, so the wrapper replaces
    `engine.queries.load`, the name the query functions resolve."""

    def __init__(self):
        import engine.queries

        self._mod = engine.queries
        self._orig = engine.queries.load
        self.calls = 0
        self.seconds = 0.0

    def _load(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return self._orig(*args, **kwargs)
        finally:
            self.seconds += time.perf_counter() - t0
            self.calls += 1

    def take(self) -> tuple[int, float]:
        """(calls, seconds) since the last take, and reset."""
        out = (self.calls, self.seconds)
        self.calls, self.seconds = 0, 0.0
        return out

    def __enter__(self):
        self._mod.load = self._load
        return self

    def __exit__(self, *exc):
        self._mod.load = self._orig


class ProgressLog(StreamingQueryListener):
    """Keeps each streaming query's progress events, keyed by query name, and
    lets the caller wait until a query's events have all been delivered
    (the terminated event comes after the last progress event)."""

    def __init__(self):
        self._cv = threading.Condition()
        self._names: dict[str, str] = {}
        self._done: set[str] = set()
        self.progress: dict[str, list] = defaultdict(list)

    def onQueryStarted(self, event):
        with self._cv:
            self._names[str(event.id)] = event.name

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.progress[p.name].append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._done.add(self._names.get(str(event.id), str(event.id)))
            self._cv.notify_all()

    def wait(self, name: str, timeout: float = 60.0) -> list:
        """The progress events of query `name`, once it has terminated."""
        with self._cv:
            if not self._cv.wait_for(lambda: name in self._done, timeout):
                raise TimeoutError(f"no terminated event for streaming query {name}")
            return self.progress.pop(name)
