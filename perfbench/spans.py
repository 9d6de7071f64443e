"""Spans and Spark job counts, recorded from outside the package.

Only a traced run (`--trace 1`) creates a `Tracer`. It wraps public
entry points of the package's modules with span-recording shims, keeps
every span in memory, and writes them out when the run ends. An
untraced run never imports this module.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; its parent is the innermost open span and its
        `op` is the root span of the request it belongs to."""
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent,
               "op": self.spans[parent]["op"] if parent is not None else sid,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace `owner.attr` with a shim that records span `name`."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def shim(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, shim)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def durations_ms(self, name: str, self_time: bool = False) -> list[float]:
        """Duration of each span called `name`; with `self_time`, minus
        the time its direct children cover (children are sequential on
        the one driver thread, so their durations do not overlap)."""
        child_ms: dict[int, float] = {}
        if self_time:
            for s in self.spans:
                if s["parent"] is not None:
                    child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
        return [(s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
                for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class JobCounter:
    """Puts each operation in its own Spark job group and counts the jobs
    and tasks the group ran, through the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = 0

    @contextlib.contextmanager
    def group(self, description: str):
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, description)
        counts = {"jobs": 0, "tasks": 0}
        try:
            yield counts
        finally:
            self.sc.setJobGroup("perfbench-idle", "between operations")
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            counts["jobs"] = len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    stage = tracker.getStageInfo(sid)
                    counts["tasks"] += stage.numTasks if stage else 0
