"""In-memory spans recorded around calls into the engine's layers.

A span has a name, start and end (seconds on the ``perf_counter`` clock),
its parent span and the id of the benchmark operation it belongs to. A
span opened with ``jobs=True`` runs its Spark actions under a job group of
its own, so the jobs, stages and tasks it launched are read back from the
status tracker; a parent's counts include its children's. Spans are kept
in a list and written out once, when the run ends.

With tracing off every span is a no-op and nothing is patched, so the
untraced window measures the engine alone.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if jobs:
            rec["group"] = f"perfbench-{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                # A span's counts include those of the job-counting spans
                # nested in it, which ran under their own groups.
                for k, v in _group_counts(sc, rec["group"]).items():
                    rec[k] = rec.get(k, 0) + v
                outer = next((s for s in reversed(self._stack) if "group" in s), None)
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    for k in _COUNT_KEYS:
                        outer[k] = outer.get(k, 0) + rec[k]
                    sc.setJobGroup(outer["group"], outer["name"])

    def patch(self, module, attr: str, span_name: str, jobs: bool = False) -> None:
        """Replace ``module.attr`` by a wrapper that records a span around
        each call; undone by :meth:`unpatch`."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(span_name, jobs=jobs):
                return orig(*a, **kw)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def patch_everywhere(self, func, span_name: str, jobs: bool = False) -> None:
        """Wrap every module-level binding of ``func`` in the engine's
        modules (modules import it by name, so one rebinding is not
        enough)."""
        if not self.enabled:
            return
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("rippledb_spark") and any(
                v is func for v in vars(mod).values()
            ):
                for attr, v in list(vars(mod).items()):
                    if v is func:
                        self.patch(mod, attr, span_name, jobs=jobs)

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    @staticmethod
    def summary(spans: list[dict]) -> dict[str, dict]:
        """Per span name: calls, total ms and self ms (duration minus the
        part of it covered by child spans)."""
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in spans:
            if "end" not in s:
                continue
            dur = s["end"] - s["start"]
            covered = _covered([(c["start"], c["end"]) for c in children.get(s["id"], [])])
            agg = out.setdefault(s["name"], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            agg["calls"] += 1
            agg["total_ms"] += dur * 1e3
            agg["self_ms"] += (dur - covered) * 1e3
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


_COUNT_KEYS = ("jobs", "stages", "tasks", "failed_tasks")


def _group_counts(sc, group: str) -> dict[str, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
