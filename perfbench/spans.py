"""Spans around calls into the package's layers, recorded from outside it.

A span times one call and runs it under its own Spark job group
(``<span name>#<pass>``), so the event log attributes every job the call
fires to that span. Spans nest: a job belongs to the innermost span.

``EventLog`` attaches Spark's own event-logging listener to a running
context, so the same process can measure untraced passes first and
traced passes after.
"""

from __future__ import annotations

import functools
import glob
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    pass_idx: int
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.pass_idx = 0
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{name}#{self.pass_idx}")
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, self.pass_idx, start, time.perf_counter()))
            self.sc.setLocalProperty(GROUP_KEY, prev)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned version of itself."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)


class EventLog:
    """Spark's EventLoggingListener, added to and removed from a live
    context; writes one uncompressed, non-rolling JSON log under
    ``log_dir``."""

    def __init__(self, sc, log_dir: str):
        self._sc = sc._jsc.sc()
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        jvm = sc._jvm
        conf = (
            self._sc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"perfbench-{os.getpid()}",
            jvm.scala.Option.apply(None),
            jvm.java.io.File(log_dir).toURI(),
            conf,
            self._sc.hadoopConfiguration(),
        )

    def start(self) -> None:
        self._listener.start()
        self._sc.addSparkListener(self._listener)

    def stop(self) -> str:
        """Flush, detach and close the log; return its path."""
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()
        (path,) = glob.glob(os.path.join(self.log_dir, "perfbench-*"))
        return path
