"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's own files: :meth:`Tracer.span`
wraps a facade call made by a workload, and :meth:`Tracer.wrap` replaces
a layer's public function with a spanned twin for the traced part of a
run. Each span
keeps its id, parent, start and end, plus the Spark jobs, stages and
tasks that ran under it (tagged through a job group per span and read
back from ``statusTracker``). Nothing is written until the run ends.

Most operators return a lazy DataFrame, so a span around the call times
plan building only. The tracer therefore also keeps the arguments of the
first few calls of each wrapped function, and :meth:`force_pending`
re-runs those calls and drains their output through a ``noop`` sink,
which times execution separately.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

FORCE_PER_NAME = 2  # forced re-executions kept per wrapped function


def _frames(out) -> tuple:
    """The DataFrames a call returned: itself, or a tuple of them."""
    if isinstance(out, DataFrame):
        return (out,)
    if isinstance(out, tuple) and out and all(isinstance(o, DataFrame) for o in out):
        return out
    return ()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._status = self.sc.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[tuple[str, object, tuple, dict]] = []
        self._recorded: dict[str, int] = {}
        self.forced: dict[str, list[float]] = {}
        self._patched: list[tuple[object, str, object]] = []
        self.recording = True

    # ------------------------------------------------------------ spans

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            jobs = list(self._status.getJobIdsForGroup(f"perfbench-{sid}"))
            rec["jobs"] = len(jobs)
            for j in jobs:
                info = self._status.getJobInfo(j)
                if info is None:
                    continue
                for s in info.stageIds:
                    rec["stages"] += 1
                    st = self._status.getStageInfo(s)
                    if st is not None:
                        rec["tasks"] += st.numTasks
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned twin that also records the
        call for :meth:`force_pending` when it returns DataFrames."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.recording:  # a forced re-run: no spans inside it
                return orig(*args, **kwargs)
            with self.span(name):
                out = orig(*args, **kwargs)
            if _frames(out) and self._recorded.get(name, 0) < FORCE_PER_NAME:
                self._recorded[name] = self._recorded.get(name, 0) + 1
                self._pending.append((name, orig, args, kwargs))
            return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def force_pending(self) -> None:
        """Re-run the recorded operator calls and time their execution
        through a noop sink. Call it right after the facade call that
        made them, while the table version they read is still retained."""
        pending, self._pending = self._pending, []
        was, self.recording = self.recording, False
        try:
            for name, fn, args, kwargs in pending:
                t0 = time.perf_counter()
                for df in _frames(fn(*args, **kwargs)):
                    df.write.format("noop").mode("overwrite").save()
                self.forced.setdefault(name, []).append(time.perf_counter() - t0)
        finally:
            self.recording = was

    def time_noop(self, name: str, df: DataFrame) -> None:
        """Drain ``df`` through a noop sink and record the time under
        ``name`` (for work that is not a wrapped function call, such as
        a UDF applied to a column)."""
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        self.forced.setdefault(name, []).append(time.perf_counter() - t0)

    # ------------------------------------------------------------ summaries

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def counts(self, name: str, key: str) -> float:
        """Median per-span count (jobs/stages/tasks), children included."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])

        def inclusive(sid: int) -> int:
            return self.spans[sid][key] + sum(inclusive(c) for c in kids.get(sid, ()))

        vals = [inclusive(s["id"]) for s in self.spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def operator_s(self, name: str) -> float:
        """Plan-build span median plus forced-execution median."""
        ex = self.forced.get(name)
        if not ex and not self.durations(name):
            return 0.0
        return self.median(name) + (statistics.median(ex) if ex else 0.0)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        it its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child.get(s["id"], 0.0)
            )
        return out
