"""Spans recorded from outside the program, with Spark job accounting.

A span is one timed call from the benchmark into a layer of the package:
name, start, end, parent span and run id. Spans live in memory and are
written out once, when the benchmark exits.

While a span is open its Spark jobs carry a job group of their own, so
``SparkContext.statusTracker()`` can count the jobs, stages, tasks and
failed tasks the call caused. The status tracker is fed by Spark's
listener bus, which runs behind the action that submitted the work, so
each span waits for the bus to drain before it reads the counts.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder for one traced run."""

    def __init__(self, run_id: str):
        self.sc = None
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._seen_stages: set[int] = set()

    def attach(self, sc) -> None:
        """Use SparkContext ``sc`` for job groups and job counts."""
        self.sc = sc

    @contextmanager
    def span(self, name: str, spark: bool = True):
        """Time the enclosed calls as span ``name``. With ``spark=False``
        the span is driver-only: no job group and no job counts."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "failed_tasks": 0,
            "error": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{self.run_id}/{sid}/{name}" if spark else None
        if group:
            self._groups.append(group)
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self._groups.pop()
                self._count(group, rec)
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], self._groups[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def _count(self, group: str, rec: dict) -> None:
        """Jobs, stages run, tasks completed and tasks failed under
        ``group``. A stage is attributed to the first span that ran it,
        so a stage a later job skips (shuffle reuse) is not counted
        twice."""
        wait_for_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        rec["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in sorted(stage_ids - self._seen_stages):
            info = tracker.getStageInfo(s)
            if info is None:
                continue
            ran = info.numCompletedTasks + info.numFailedTasks
            if ran == 0:
                continue  # skipped: its output came from an earlier stage
            self._seen_stages.add(s)
            rec["stages"] += 1
            rec["tasks"] += info.numCompletedTasks
            rec["failed_tasks"] += info.numFailedTasks

    def subtree(self, sid: int) -> list[dict]:
        """Span ``sid`` and every span below it."""
        out = [self.spans[sid]]
        for rec in self.spans[sid + 1 :]:
            if rec["parent"] is not None and any(
                rec["parent"] == o["id"] for o in out
            ):
                out.append(rec)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval that its child
        spans cover (children of one parent never overlap: the benchmark
        is one closed-loop client on one thread)."""
        out = {}
        for rec in self.spans:
            covered = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == rec["id"]
            )
            out[rec["id"]] = (rec["end"] - rec["start"]) - covered
        return out

    def rows(self) -> list[dict]:
        """Every span with its times relative to the first span's start
        and its self time."""
        selfs = self.self_times()
        t0 = min((r["start"] for r in self.spans), default=0.0)
        return [
            {
                **{k: v for k, v in r.items() if k not in ("start", "end")},
                "start_s": r["start"] - t0,
                "end_s": r["end"] - t0,
                "self_s": selfs[r["id"]],
            }
            for r in self.spans
        ]


def write_spans(path: str, tracers: list[Tracer]) -> None:
    """Write the spans of every tracer as one JSON document."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump([{"run_id": t.run_id, "spans": t.rows()} for t in tracers], fh, indent=1)


def wait_for_listener_bus(sc, timeout_ms: int = 30_000) -> None:
    """Block until Spark's listener bus has delivered every queued event,
    so the status tracker reflects all jobs that have already returned."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
