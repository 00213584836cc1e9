"""Spans recorded from outside the engine, and Spark event-log task metrics.

A span is one timed call into a layer's public function: name, start,
end, the span that caused it and free-form attributes.  Spans stay in
memory and are written out when the run ends.  With tracing off,
``span`` does nothing, so the untraced run measures the same calls
without the bookkeeping.

Spark work is attributed through job groups: the benchmark sets
``pb:<op>:<phase>`` before each phase of an operation and the event log
(turned on only in the traced run) names the group of every job.
Work started on threads that do not inherit the group (the star
writer pool) is attributed by the time window of its span instead.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "t0": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, changed=None) -> None:
        """Replace ``module.attr`` by a wrapper that records a span per
        call; ``changed(args, result)`` marks calls whose output differs
        from their input.  ``unwrap`` restores the originals."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if changed is not None:
                    rec["changed"] = bool(changed(args, out))
                return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "t1" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_logs(event_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs and finished tasks from every event log under ``event_dir``.

    Job ids restart with each SparkContext, so jobs are keyed by
    (log, job id) and tasks carry the key of the job owning their stage.
    """
    jobs: list[dict] = []
    tasks: list[dict] = []
    # one directory per SparkContext, holding its event files
    apps = sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*")))
    for i, app in enumerate(apps):
        stage_job: dict[int, tuple[int, int]] = {}
        for path in sorted(glob.glob(os.path.join(app, "events_*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        key = (i, ev["Job ID"])
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = key
                        jobs.append(
                            {
                                "key": key,
                                "group": (ev.get("Properties") or {}).get(
                                    "spark.jobGroup.id"
                                ),
                                "submit": ev["Submission Time"] / 1000.0,
                            }
                        )
                    elif kind == "SparkListenerTaskEnd":
                        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                        sr = m.get("Shuffle Read Metrics", {})
                        tasks.append(
                            {
                                "job": stage_job.get(ev["Stage ID"]),
                                "stage": (i, ev["Stage ID"]),
                                "failed": bool(info.get("Failed")),
                                "run_s": m.get("Executor Run Time", 0) / 1e3,
                                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                                "scan_bytes": m.get("Input Metrics", {}).get(
                                    "Bytes Read", 0
                                ),
                                "out_bytes": m.get("Output Metrics", {}).get(
                                    "Bytes Written", 0
                                ),
                                "shuffle_write_bytes": m.get(
                                    "Shuffle Write Metrics", {}
                                ).get("Shuffle Bytes Written", 0),
                                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0),
                                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                            }
                        )
    return jobs, tasks


def task_totals(tasks: list[dict], job_keys: set) -> dict[str, float]:
    """Sum task metrics over the tasks of the given jobs."""
    mine = [t for t in tasks if t["job"] in job_keys]
    out = {
        k: float(sum(t[k] for t in mine))
        for k in (
            "run_s",
            "cpu_s",
            "gc_s",
            "scan_bytes",
            "out_bytes",
            "shuffle_write_bytes",
            "shuffle_read_bytes",
            "fetch_wait_s",
            "spill_bytes",
        )
    }
    out["tasks"] = float(len(mine))
    out["stages"] = float(len({t["stage"] for t in mine}))
    out["failed_tasks"] = float(sum(t["failed"] for t in mine))
    return out
