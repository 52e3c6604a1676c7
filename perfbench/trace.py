"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent and run id around a call into
one layer of the program. Spans are opened from the benchmark's own
files only: the benchmark wraps the program's public entry points
(``Catalog.upsert/insert/optimize/compact``, the flow functions,
``trading_daily_flow``) for the length of the run and opens spans
around the ``Engine`` accessors and kernel calls it makes itself.

Each span owns a Spark job group while it is the innermost open span,
so ``statusTracker`` attributes every job (and its stages and tasks) to
exactly one span. Spans stay in memory and are written out once, when
the run ends. Time the tracer spends on its own bookkeeping is summed
in ``self_s``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self.self_s = 0.0
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "phase": self.phase,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}:{rec['id']}"
        self.sc.setLocalProperty(_GROUP, group)
        rec["start"] = time.perf_counter()
        self.self_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, f"{self.run_id}:{parent['id']}" if parent else None)
            rec.update(self._job_counts(group))
            self.self_s += time.perf_counter() - rec["end"]

    def _job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def instrument(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span named
        ``name`` (plus ``label(*args)`` as its ``table`` attribute)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = {"table": label(*args)} if label else {}
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span opened inside it."""
    ids, out = {root["id"]}, [root]
    for rec in spans[root["id"] + 1 :]:
        if rec["parent"] in ids:
            ids.add(rec["id"])
            out.append(rec)
    return out
