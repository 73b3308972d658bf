"""Spans recorded from the benchmark's side of each layer boundary, and
Spark work attributed to them from the event log.

A span is opened around a call into a package function (either called by
the benchmark directly, or reached through :func:`wrap`, which rebinds a
module attribute for the length of the run without editing the package).
Spans live in memory and are written out once, at the end of the run.

Every Spark job, stage and task is attributed to the innermost span that
was open when it was submitted, read from the event log's submission
timestamps. The benchmark drives one call at a time, so that span is
unambiguous; timestamps also catch work that Spark submits from its own
threads (streaming micro-batches), which thread-local job groups miss.
"""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import sys
import time
from contextlib import contextmanager

_PACKAGE = "aind_data_transformation_spark"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds the tracer spent on its own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Open span ``name`` around every call of ``owner.attr``.

        Modules that imported the function by name hold their own binding,
        so every loaded package module whose attribute is the same object
        is rebound too."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(_PACKAGE) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)


def _read_event_logs(log_dir: str) -> tuple[list, list, dict]:
    """Jobs and stages, each as (submit_ms, app, id), plus task sums per
    (app, stage id)."""
    jobs, stages, tasks = [], [], {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append((ev["Submission Time"], app, ev["Job ID"]))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages.append(
                        (info["Submission Time"], app, info["Stage ID"])
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    shuffle_read = m.get("Shuffle Read Metrics", {})
                    t = tasks.setdefault(
                        (app, ev["Stage ID"]),
                        {"tasks": 0, "shuffle_read_bytes": 0,
                         "shuffle_write_bytes": 0, "input_bytes": 0},
                    )
                    t["tasks"] += 1
                    t["shuffle_read_bytes"] += shuffle_read.get(
                        "Remote Bytes Read", 0
                    ) + shuffle_read.get("Local Bytes Read", 0)
                    t["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
                    t["input_bytes"] += m.get("Input Metrics", {}).get(
                        "Bytes Read", 0
                    )
    return jobs, stages, tasks


def attribute(spans: list[dict], log_dir: str) -> int:
    """Add own job/stage/task/byte counts to each span from the event logs
    in ``log_dir``; return the number of jobs no span was open for."""
    # Event times are whole milliseconds, floored; a span holds the events
    # stamped from the millisecond it started up to its end.
    bounds = [(math.floor(s["start"] * 1000), s["end"] * 1000, s["id"])
              for s in spans]
    for s in spans:
        s.update(jobs=0, stages=0, tasks=0, shuffle_read_bytes=0,
                 shuffle_write_bytes=0, input_bytes=0)

    def innermost(ms: int):
        # spans are numbered in the order they opened, so of the spans
        # open at ``ms`` the innermost one has the highest id
        best = None
        for start, end, sid in bounds:
            if start <= ms <= end:
                best = sid
        return best

    jobs, stages, tasks = _read_event_logs(log_dir)
    unattributed = 0
    for ms, _app, _job in jobs:
        sid = innermost(ms)
        if sid is None:
            unattributed += 1
        else:
            spans[sid]["jobs"] += 1
    for ms, app, stage in stages:
        sid = innermost(ms)
        if sid is None:
            continue
        spans[sid]["stages"] += 1
        for k, v in tasks.get((app, stage), {}).items():
            spans[sid][k] += v
    return unattributed


def inclusive(spans: list[dict]) -> None:
    """Add ``incl_*`` counts (own plus every descendant's) and ``self_s``
    (duration minus the time child spans cover) to each span."""
    keys = ("jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "input_bytes")
    for s in spans:
        s["dur_s"] = s["end"] - s["start"]
        s["self_s"] = s["dur_s"]
        for k in keys:
            s["incl_" + k] = s.get(k, 0)
    # children always have larger ids than their parent
    for s in reversed(spans):
        if s["parent"] is None:
            continue
        p = spans[s["parent"]]
        p["self_s"] -= s["dur_s"]
        for k in keys:
            p["incl_" + k] += s["incl_" + k]
