"""Spans and Spark job counts around the benchmark's calls into the program.

A span is (name, start, end, parent) in seconds from the tracer's start,
kept in memory and written out as JSON when the run ends.  With tracing
on, every top-level span also runs under its own Spark job group, and
the number of jobs the group launched is read back from
`sparkContext.statusTracker()` when the span closes.  With tracing off
a span only measures its duration, which the end-to-end metrics use.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._groups = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields a record the caller may add attributes to.  On exit it
        holds `s`, the duration, whether tracing is on or off; with
        tracing on it is also kept as a span, and a top-level span gets
        `jobs`, the Spark jobs launched inside it."""
        rec: Dict[str, object] = {"name": name, **attrs}
        group = None
        if self.enabled:
            rec["parent"] = self._stack[-1] if self._stack else None
            self._stack.append(len(self.spans))
            self.spans.append(rec)
            if rec["parent"] is None:
                self._groups += 1
                group = f"perfbench-{self._groups}"
                self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["s"] = end - start
            if self.enabled:
                rec["start"], rec["end"] = start - self.t0, end - self.t0
                if group is not None:
                    rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._stack.pop()

    def write(self, path: Optional[str]) -> None:
        if path:
            with open(path, "w") as f:
                json.dump(self.spans, f, indent=1, default=str)
