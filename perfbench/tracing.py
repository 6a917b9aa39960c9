"""Tracing from the benchmark's side of the API boundary.

Spans are recorded around the calls the pipeline makes into its stage
store (``StageStore.get_or_compute`` / ``write`` / ``get_or_alias`` and
the ``compute`` thunk handed to ``get_or_compute``). Each stage call runs
under its own Spark job group, switched back to ``driver_gap`` when the
call returns, so Spark's status store can attribute every job of an
operation to the stage (or the gap between stages) that submitted it.
Micro-batch phases come from a ``StreamingQueryListener``.

Nothing here changes what the pipeline computes; the store methods are
restored when an operation ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from stats import Span, covered, self_times

GAP = "driver_gap"
EXEC_FIELDS = (
    "spark_jobs", "spark_tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "_task_max_s", "_task_median_s",
)


def _seq(x) -> list:
    """A Scala ``Seq`` seen through py4j as a Python list."""
    return [x.apply(i) for i in range(x.size())]


@dataclass
class OpTrace:
    """Spans and job-group tag of one traced operation."""

    sc: object
    tag: str
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    def group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.tag}:{name}", name)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx] = Span(name, t0, time.perf_counter(), parent)

    def by_name(self) -> dict[str, dict[str, float]]:
        """Wall and self time per span name (summed over repeats)."""
        out: dict[str, dict[str, float]] = {}
        for sp, st in zip(self.spans, self_times(self.spans)):
            d = out.setdefault(sp.name, {"wall_s": 0.0, "self_s": 0.0})
            d["wall_s"] += sp.duration
            d["self_s"] += st
        return out


@contextmanager
def stage_store_spans(trace: OpTrace):
    """Wrap the stage-store entry points for the duration of one op."""
    from prom_spark.sinks import StageStore

    orig = (StageStore.get_or_compute, StageStore.write, StageStore.get_or_alias)
    get_or_compute, write, get_or_alias = orig

    def traced_get_or_compute(store, stage, compute, *args, **kwargs):
        def traced_compute():
            with trace.span(f"{stage}.plan"):
                return compute()

        trace.group(stage)
        try:
            with trace.span(stage):
                return get_or_compute(store, stage, traced_compute, *args, **kwargs)
        finally:
            trace.group(GAP)

    def traced_write(store, stage, df, *args, **kwargs):
        with trace.span(f"{stage}.write"):
            return write(store, stage, df, *args, **kwargs)

    def traced_get_or_alias(store, stage, source, *args, **kwargs):
        trace.group(stage)
        try:
            with trace.span(stage):
                return get_or_alias(store, stage, source, *args, **kwargs)
        finally:
            trace.group(GAP)

    StageStore.get_or_compute = traced_get_or_compute
    StageStore.write = traced_write
    StageStore.get_or_alias = traced_get_or_alias
    try:
        yield
    finally:
        StageStore.get_or_compute, StageStore.write, StageStore.get_or_alias = orig


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report and the run ids seen."""

    def __init__(self):
        self.progress: list = []
        self.run_ids: set[str] = set()

    def onQueryStarted(self, event):
        self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def clear(self) -> None:
        self.progress, self.run_ids = [], set()


class StatusStore:
    """Reads finished jobs and stages from Spark's in-process status
    store (works with the UI disabled)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway

    def drain(self) -> None:
        """Wait until listener events of finished work have been applied."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def max_job_id(self) -> int:
        self.drain()
        ids = [j.jobId() for j in _seq(self._sc.statusStore().jobsList(None))]
        return max(ids, default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        """Jobs with an id above ``job_id``: group, interval, stage ids."""
        self.drain()
        out = []
        for j in _seq(self._sc.statusStore().jobsList(None)):
            if j.jobId() <= job_id:
                continue
            g = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            out.append({
                "id": j.jobId(),
                "group": g.get() if g.isDefined() else None,
                "start_ms": sub.get().getTime() if sub.isDefined() else None,
                "end_ms": done.get().getTime() if done.isDefined() else None,
                "stages": [int(s) for s in _seq(j.stageIds())],
            })
        return out

    def stage_metrics(self, stage_ids: set[int]) -> dict[int, dict]:
        """Executor metrics per finished stage attempt, summed per stage."""
        store = self._sc.statusStore()
        jl = self._jvm.java.util.ArrayList
        quantiles = self._gw.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        out: dict[int, dict] = {}
        for s in _seq(store.stageList(jl(), False, False, no_quantiles, jl())):
            sid = s.stageId()
            if sid not in stage_ids or s.numCompleteTasks() == 0:
                continue
            m = out.setdefault(sid, dict.fromkeys(EXEC_FIELDS[1:], 0.0))
            m["spark_tasks"] += s.numCompleteTasks()
            m["exec_run_s"] += s.executorRunTime() / 1e3
            m["exec_cpu_s"] += s.executorCpuTime() / 1e9
            m["gc_s"] += s.jvmGcTime() / 1e3
            m["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            m["input_bytes"] += s.inputBytes()
            m["output_bytes"] += s.outputBytes()
            dist = store.taskSummary(sid, s.attemptId(), quantiles)
            if dist.isDefined():
                run = _seq(dist.get().executorRunTime())
                m["_task_median_s"] += run[0] / 1e3
                m["_task_max_s"] += run[1] / 1e3
        return out


def group_metrics(jobs: list[dict], stages: dict[int, dict], label) -> dict[str, dict]:
    """Sum stage metrics per layer; ``label(job)`` names a job's layer.

    A stage listed by two jobs (a reused exchange) is counted once, for
    the first job that lists it."""
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["id"]):
        m = out.setdefault(label(j), dict.fromkeys(EXEC_FIELDS, 0.0))
        m["spark_jobs"] += 1
        for sid in j["stages"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                for k, v in stages[sid].items():
                    m[k] += v
    return out


def finish_exec(m: dict) -> dict:
    """Replace the summed task-time quantiles by the skew ratio: summed
    slowest-task time over summed median-task time of the layer's stages."""
    m = dict(m)
    med, mx = m.pop("_task_median_s"), m.pop("_task_max_s")
    m["task_skew"] = mx / med if med > 0 else 1.0
    return m


def job_busy_s(jobs: list[dict], t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0, t1] during which at least one job was running."""
    iv = []
    for j in jobs:
        if j["start_ms"] is None or j["end_ms"] is None:
            continue
        s, e = max(j["start_ms"], t0_ms), min(j["end_ms"], t1_ms)
        if e > s:
            iv.append((s, e))
    return covered(iv) / 1e3
