"""Spans recorded around the benchmark's calls into the package, and the
per-rep Spark engine figures read back from Spark's event log.

A span is (id, name, parent, rep, start, end). Spans are kept in memory and
written out once, when the run ends. Every Spark job started inside a span
carries the span id as the job-local property ``perfbench.span``, so the
event log attributes jobs, stages and tasks to the innermost open span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Span recorder. A disabled tracer records nothing and tags no job."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark_context) -> None:
        """Tag jobs of this SparkContext with the open span from now on."""
        self._sc = spark_context

    @contextlib.contextmanager
    def span(self, name: str, rep=None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if rep is None and parent is not None:
            rep = self.spans[parent]["rep"]
        rec = {"id": sid, "name": name, "parent": parent, "rep": rep,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(str(sid))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self._tag(str(self._stack[-1]) if self._stack else None)

    def _tag(self, value) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, value)

    def self_time(self, sid: int) -> float:
        """Span duration minus the time its direct children cover (children
        of one span never overlap: the Python driver runs them one by one)."""
        kids = sum(s["dur"] for s in self.spans if s["parent"] == sid)
        return self.spans[sid]["dur"] - kids

    def by_name(self, name: str, rep_only: bool = False) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (not rep_only or isinstance(s["rep"], int))]

    def descendants(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans:          # parents always precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


class EventLog:
    """Jobs, stages and tasks of one application's event log, keyed so they
    can be summed per span."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}      # job id -> {span, stages}
        self.stages: dict[int, dict] = {}    # stage id -> metrics
        files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                      recursive=True) if os.path.isfile(f)]
        if not files:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        for path in sorted(files):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_b": 0, "submit_ms": None, "complete_ms": None})

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            self.jobs[ev["Job ID"]] = {
                "span": int(span) if span is not None else None,
                "stages": list(ev.get("Stage IDs", []))}
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            st["submit_ms"] = info.get("Submission Time")
            st["complete_ms"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)

    def summary(self, span_ids: set[int], window: tuple[float, float]) -> dict:
        """Engine figures for the jobs started inside ``span_ids``; the
        driver gap is the part of ``window`` (epoch seconds) that no
        executed stage of those jobs covers."""
        jobs = [j for j in self.jobs.values() if j["span"] in span_ids]
        stage_ids = {s for j in jobs for s in j["stages"]
                     if self.stages.get(s, {}).get("complete_ms") is not None}
        stages = [self.stages[s] for s in stage_ids]
        t0, t1 = window
        intervals = sorted(
            (max(t0, st["submit_ms"] / 1000), min(t1, st["complete_ms"] / 1000))
            for st in stages if st["submit_ms"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "executor_run_s": sum(st["run_ms"] for st in stages) / 1e3,
            "executor_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
            "gc_s": sum(st["gc_ms"] for st in stages) / 1e3,
            "shuffle_write_mb": sum(st["shuffle_write_b"]
                                    for st in stages) / 1e6,
            "driver_gap_s": (t1 - t0) - covered,
        }
