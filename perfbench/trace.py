"""Spans and Spark counters, read from outside the program.

A span is (name, start, end, parent) around a call into one layer's
public function.  Spark work is attributed by job group: every
top-level operation runs under its own group, and a span's jobs are the
group's jobs that appeared while the span was open.  Per-stage figures
come from the driver's status store (``lastStageAttempt``) once the
listener bus has drained, so they are complete when read.

The untraced path uses :class:`NullTracer`, whose spans cost one
context-manager entry and do not touch the JVM.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def group(self, name: str):
        yield

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def wrap(self, module, attr: str, name: str) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._group: str | None = None
        self.timed_jobs = 0

    # -- Spark counters -------------------------------------------------
    def total_jobs(self) -> int:
        """Jobs the scheduler has submitted since the session started
        (the DAG scheduler's job-id counter): a count reached without job
        groups, to check the per-group attribution against."""
        return int(self.jsc.dagScheduler().numTotalJobs())

    def _group_jobs(self) -> list[int]:
        """The current group's jobs.  The status tracker learns of a job
        from the listener bus, so the bus is drained first: a job whose
        start event is still queued would otherwise be missed."""
        if self._group is None:
            return []
        self.jsc.listenerBus().waitUntilEmpty()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def job_counters(self, job_ids) -> dict:
        """Stages, tasks, bytes and executor time of the given jobs.  A
        stage shared by several jobs (a reused exchange) counts once."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "input_bytes": 0, "shuffle_write_bytes": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0}
        seen: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def group(self, name: str):
        """Run a top-level operation under its own job group."""
        prev = self._group
        self._group = name
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._group = prev
            if prev is None:
                self.sc.setJobGroup(None, None)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        before = set(self._group_jobs())
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               **attrs, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["job_ids"] = [j for j in self._group_jobs() if j not in before]

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a function that runs the original
        inside a span (the caller's own module namespace is patched, so
        calls the program makes through that name are seen)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        setattr(module, attr, traced)

    # -- output ---------------------------------------------------------
    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str, counters: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{"id": i, "name": s["name"], "parent": s["parent"],
                  "start": round(s["start"] - t0, 6),
                  "end": round(s["end"] - t0, 6),
                  "jobs": len(s["job_ids"])}
                 for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counters": counters}, f, indent=1)
