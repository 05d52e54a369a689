"""Tracing for the benchmark's traced run, kept outside the package.

Spans are recorded around calls into public functions of voluptuous_spark.
Each span tags the Spark jobs it submits with its own job group; jobs
submitted from threads the span did not start (``SuiteResult.counts()``
uses a thread pool, whose threads carry no group) are attributed to the
innermost span open at their submission time. Job, stage and task numbers
come from Spark's own event log, written uncompressed and parsed after the
session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Span:
    __slots__ = ("name", "group", "start_ms", "end_ms", "parent",
                 "py4j_calls", "jobs")

    def __init__(self, name, group, parent):
        self.name = name
        self.group = group
        self.parent = parent
        self.start_ms = time.time() * 1000.0
        self.end_ms = None
        self.py4j_calls = 0
        self.jobs: set[int] = set()

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records spans when ``enabled``; otherwise every hook is a no-op, so
    the untraced run executes exactly the workload's own calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._py4j = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- set-up ------------------------------------------------------------
    def attach(self, sc) -> None:
        """Count py4j round trips at the gateway client (traced run only)."""
        if not self.enabled:
            return
        self._sc = sc
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            with self._lock:
                self._py4j += 1
            return send(*a, **k)

        client.send_command = counted
        self._patched.append((client, "send_command", None))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version of itself."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        def spanned(*a, **k):
            with self.span(name):
                return original(*a, **k)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, original))

    def close(self) -> None:
        for owner, attr, original in reversed(self._patched):
            if original is None:
                delattr(owner, attr)  # drop the instance-level override
            else:
                setattr(owner, attr, original)
        self._patched.clear()

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self._sc
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"pb{len(self.spans)}:{name}", parent)
        self.spans.append(s)
        self._stack.append(s)
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", s.group)
        p0 = self._py4j
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            s.py4j_calls = self._py4j - p0
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self._stack.pop()

    def of(self, name: str, within: list[Span] | None = None) -> list[Span]:
        """Spans called ``name``, optionally only those inside ``within``."""
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            roots = set(map(id, within))
            out = [s for s in out if _has_ancestor(s, roots)]
        return out

    # -- event log ---------------------------------------------------------
    def attribute(self, event_dir: str) -> "EventLog":
        log = EventLog.read(event_dir)
        by_group = {s.group: s for s in self.spans}
        for job_id, job in log.jobs.items():
            owner = by_group.get(job["group"])
            if owner is None:
                owner = self._innermost_at(job["submit_ms"])
            while owner is not None:  # inclusive: every enclosing span
                owner.jobs.add(job_id)
                owner = owner.parent
        return log

    def _innermost_at(self, t_ms: float):
        best = None
        for s in self.spans:
            if s.start_ms <= t_ms <= s.end_ms and (
                    best is None or s.start_ms >= best.start_ms):
                best = s
        return best


def _has_ancestor(s: Span, roots: set[int]) -> bool:
    while s is not None:
        if id(s) in roots:
            return True
        s = s.parent
    return False


class EventLog:
    """Jobs, and per-stage sums of task metrics, from a Spark event log."""

    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}

    @classmethod
    def read(cls, event_dir: str) -> "EventLog":
        log = cls()
        # a rolling log is a directory of events_<n>_<app> files
        for path in glob.glob(f"{event_dir}/**", recursive=True):
            if not os.path.isfile(path) or "appstatus" in path:
                continue
            with open(path, encoding="utf-8") as f:
                for line in f:
                    log._event(json.loads(line))
        return log

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.jobs[jid] = {
                "submit_ms": ev["Submission Time"],
                "group": props.get("spark.jobGroup.id"),
            }
            for sid in ev["Stage IDs"]:
                # a reused shuffle stage is listed (skipped) by later jobs;
                # its tasks ran under the first job that listed it
                self.stage_job[sid] = min(jid, self.stage_job.get(sid, jid))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                return
            st = self.stages.setdefault(ev["Stage ID"], {
                "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            })
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_read"] += (rd.get("Remote Bytes Read", 0)
                                   + rd.get("Local Bytes Read", 0))
            st["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Disk Bytes Spilled", 0)

    def totals(self, job_ids) -> dict:
        """Summed task metrics over the stages that ran under ``job_ids``."""
        job_ids = set(job_ids)
        tot = {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
               "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
        for sid, st in self.stages.items():
            if self.stage_job.get(sid) in job_ids:
                for k in tot:
                    tot[k] += st[k]
        return tot
