"""Spans around calls into the engine's layers, with Spark attribution.

A span records name, start, end, parent span and operation id.  While a
span is the innermost open one, its id is the Spark job group of the
calling thread, so the jobs it submits can be read back afterwards through
``statusTracker().getJobIdsForGroup`` and the per-stage task metrics through
the JVM status store.  Jobs submitted from threads the engine starts itself
(the index build runs ranges and postings concurrently) carry no job group;
they are attributed to the innermost span open when they were submitted.

Spans are kept in memory and resolved against the status store only when
the run ends (``resolve``), so the timed calls pay for one ``setJobGroup``
per span boundary and nothing else.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.seen_terms: set[str] = set()
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._suspended = 0

    # ------------------------------------------------------------ recording

    def _set_group(self) -> None:
        if self._stack:
            self.sc.setJobGroup(f"perfbench-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        """Record one span; yields its dict so callers can attach counts."""
        if self._suspended:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "workload": self.workload,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    @contextmanager
    def suspended(self):
        """Calls made inside record no spans (probes the tracer itself adds)."""
        self._suspended += 1
        try:
            yield
        finally:
            self._suspended -= 1

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``after(rec, args, kwargs, result)`` may attach counts to the span
        record.  ``restore`` puts the original back."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if after is not None and rec:
                    after(rec, args, kwargs, result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------------------ resolution

    def resolve(self) -> None:
        """Attach Spark jobs, stages, tasks and task metrics to every span.
        Counts are inclusive: a span holds its descendants' jobs."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        tracker = self.sc.statusTracker()

        by_span: dict[int, list[int]] = {s["id"]: [] for s in self.spans}
        for s in self.spans:
            by_span[s["id"]].extend(tracker.getJobIdsForGroup(f"perfbench-{s['id']}"))
        for job_id in tracker.getJobIdsForGroup(None):
            submitted = store.job(job_id).submissionTime()
            if not submitted.isDefined():
                continue
            t = submitted.get().getTime() / 1000.0
            open_spans = [s for s in self.spans if s["start"] <= t <= s.get("end", t)]
            if open_spans:
                by_span[max(open_spans, key=lambda s: s["start"])["id"]].append(job_id)

        own = {}
        for sid, job_ids in by_span.items():
            jobs = stages = tasks = 0
            run_ms = cpu_ns = shr = shw = spill = job_ms = 0
            for job_id in job_ids:
                jobs += 1
                data = store.job(job_id)
                if data.submissionTime().isDefined() and data.completionTime().isDefined():
                    job_ms += (
                        data.completionTime().get().getTime()
                        - data.submissionTime().get().getTime()
                    )
                for stage_id in tracker.getJobInfo(job_id).stageIds:
                    attempts = store.stageData(
                        stage_id, False, jvm.java.util.ArrayList(), False, no_quantiles
                    )
                    for i in range(attempts.size()):
                        st = attempts.apply(i)
                        if st.numCompleteTasks() + st.numFailedTasks() == 0:
                            continue  # skipped: its output was reused
                        stages += 1
                        tasks += st.numCompleteTasks() + st.numFailedTasks()
                        run_ms += st.executorRunTime()
                        cpu_ns += st.executorCpuTime()
                        shr += st.shuffleReadBytes()
                        shw += st.shuffleWriteBytes()
                        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            own[sid] = {
                "jobs": jobs, "stages": stages, "tasks": tasks, "run_ms": run_ms,
                "cpu_ms": cpu_ns / 1e6, "shuffle_read_bytes": shr,
                "shuffle_write_bytes": shw, "spill_bytes": spill, "job_ms": job_ms,
            }
        # inclusive totals: children always have larger ids than parents
        for s in self.spans:
            s.update(own[s["id"]])
        for s in reversed(self.spans):
            if s["parent"] is not None:
                parent = self.spans[s["parent"]]
                for k in own[s["id"]]:
                    parent[k] += s[k]

    # ------------------------------------------------------------ summaries

    def calls(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def median(self, name: str, field: str = "wall_ms") -> float:
        """Per-call median of ``field`` over spans named ``name`` (0 when
        the workload never called that layer)."""
        vals = [
            (s["end"] - s["start"]) * 1000.0 if field == "wall_ms" else s.get(field, 0)
            for s in self.calls(name)
        ]
        return float(statistics.median(vals)) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")
