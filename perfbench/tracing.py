"""In-memory spans around the public calls the benchmark makes, plus the
Spark jobs, stages, tasks and shuffle bytes each span caused.

Job attribution takes the highest job id in the driver's status store
before and after a span: the jobs of a span are the ids in between. This
counts jobs submitted from any thread (`run_extract_stage` submits its
buckets from a thread pool, which job groups miss, as groups are
thread-local) and it does not depend on how many jobs the store retains.
Stage ids come from `statusTracker().getJobInfo(id).stageIds` and stage
metrics from `AppStatusStore.lastStageAttempt(stageId)`; both work with the
UI disabled as long as `spark.ui.retainedJobs`/`retainedStages` keep them.
Stage look-ups happen once, in `resolve()`, after the measured loop.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    """Records spans: name, start, end, parent span and operation id."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()  # noqa: SLF001
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0
        self.cost_s = 0.0  # wall time spent in the tracer's own look-ups

    def _max_job_id(self) -> int:
        # the status store is fed by the listener bus: drain it so jobs that
        # just ended are visible. jobsList lists jobs by descending id.
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        top = jobs.head().jobId() if jobs.nonEmpty() else -1
        self.cost_s += time.perf_counter() - t0
        return top

    def new_op(self) -> int:
        self.op_id += 1
        return self.op_id

    @contextmanager
    def span(self, name: str):
        first_job = self._max_job_id() + 1
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = list(range(first_job, self._max_job_id() + 1))

    def wrap(self, name: str, fn):
        """`fn` with a span named `name` around every call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def resolve(self) -> None:
        """Attach self time, child-exclusive jobs, stages, tasks and shuffle
        bytes to every span. Call once, after the measured loop."""
        stage_cache: dict[int, tuple] = {}

        def stage(sid: int) -> tuple:
            if sid not in stage_cache:
                try:
                    sd = self._store.lastStageAttempt(sid)
                    stage_cache[sid] = (
                        sd.status().toString(),
                        sd.numTasks(),
                        sd.shuffleWriteBytes(),
                    )
                except Exception:  # py4j error: stage no longer retained
                    stage_cache[sid] = ("MISSING", 0, 0)
            return stage_cache[sid]

        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        for rec in self.spans:
            kids = children.get(rec["id"], [])
            rec["dur"] = rec["end"] - rec["start"]
            rec["self"] = rec["dur"] - sum(k["end"] - k["start"] for k in kids)
            nested = {j for k in kids for j in k["jobs"]}
            own = [j for j in rec["jobs"] if j not in nested]
            rec["self_jobs"] = len(own)
            stages = tasks = shuffle = 0
            for jid in own:
                info = self._sc.statusTracker().getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    status, n_tasks, wbytes = stage(sid)
                    if status == "SKIPPED":
                        continue
                    stages += 1
                    tasks += n_tasks
                    shuffle += wbytes
            rec["self_stages"] = stages
            rec["self_tasks"] = tasks
            rec["self_shuffle_bytes"] = shuffle

    def remainder_s(self, start: float, end: float) -> float:
        """Wall time of the window [start, end] not covered by a top-level
        span: the benchmark's own loop and output checks."""
        top = sum(
            r["end"] - r["start"]
            for r in self.spans
            if r["parent"] is None and r["start"] >= start and r["end"] <= end
        )
        return (end - start) - top

    def by_name(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]


class NullTracer:
    """Stand-in with the same calls for untraced runs: no spans, no job
    look-ups, so end-to-end figures carry no tracing cost."""

    def new_op(self) -> int:
        return 0

    @contextmanager
    def span(self, name: str):
        yield None

    def wrap(self, name: str, fn):
        return fn
