"""Spans around the engine's public boundaries, with Spark task metrics.

Each span sets its own Spark job group, so the jobs it starts can be found
again.  Task metrics are read from Spark's status store once, after the
operation, so reading them adds nothing to the timed spans.  A stage is
charged to the job that first ran it: later jobs that reuse its shuffle
output list it again, as skipped, and must not count it twice.

Spans nest per thread; a span's self time is its duration minus the time
its children cover.  The layer of a span names the repo module whose work
the span times.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

#: stage key prefix (before any ``@<params>`` suffix) → layer.  The funnel's
#: near-dup stages carry the same prefixes as ``DedupPipeline``'s.
STAGE_LAYERS = {
    "signatures": "signatures",
    "candidates": "candidates",
    "skew_metrics": "candidates",
    "verified": "verify",
    "edges": "verify",
    "clusters": "cluster",
    "cluster_stats": "cluster",
    "survivors": "cluster",
    "captures": "exact",
    "exact_kept": "exact",
    "quality": "quality",
    "containment_kept": "containment",
    "span_cleaned": "exactsubstr",
    "funnel": "audit",
}

_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

STAGE_FIELDS = {
    "task_run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes",
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
}


def layer_of(stage_key: str) -> str:
    return STAGE_LAYERS.get(stage_key.split("@")[0], "other")


class Span:
    __slots__ = ("id", "name", "layer", "kind", "parent", "group", "start",
                 "end", "jobs", "stages", "metrics")

    def __init__(self, sid, name, layer, kind, parent, group):
        self.id, self.name, self.layer, self.kind = sid, name, layer, kind
        self.parent, self.group = parent, group
        self.start = self.end = 0.0
        self.jobs: list[int] = []
        self.stages: list[int] = []
        self.metrics: dict[str, float] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one operation.  ``overhead_s`` is the time the
    tracer itself spent inside the timed region (hooks and job-group
    calls), which is what tracing adds to the traced wall."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._run = f"pb{time.time_ns()}"
        # job ids are sequential; totals cover only jobs started from here
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self._first_job = jsc.statusStore().jobsList(None).size()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "call"):
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        s = Span(sid, name, layer, kind, stack[-1].id if stack else None,
                 f"{self._run}-{sid}")
        prev = [self.sc.getLocalProperty(p) for p in _PROPS]
        self.sc.setJobGroup(s.group, name)
        stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            for p, v in zip(_PROPS, prev):
                self.sc.setLocalProperty(p, v)
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - s.end

    # -- metrics, read after the operation ---------------------------------

    def collect(self) -> dict[str, float]:
        """Fill each span's jobs, stages and stage metrics from the status
        store; return Spark totals over every job the operation started."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_group = {s.group: s for s in self.spans}
        first_job: dict[int, int] = {}
        job_group: dict[int, str | None] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            job_group[j.jobId()] = g.get() if g.isDefined() else None
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                first_job[sid] = min(first_job.get(sid, j.jobId()), j.jobId())
        job_group = {j: g for j, g in job_group.items() if j >= self._first_job}
        for jid, g in job_group.items():
            if g in by_group:
                by_group[g].jobs.append(jid)
        totals = {f: 0.0 for f in STAGE_FIELDS}
        self.stage_data: dict[int, dict] = {}
        for sid, jid in first_job.items():
            if jid < self._first_job:
                continue
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            row = {f: float(getattr(st, m)()) for f, m in STAGE_FIELDS.items()}
            row["attempt"] = st.attemptId()
            self.stage_data[sid] = row
            for f in STAGE_FIELDS:
                totals[f] += row[f]
            span = by_group.get(job_group[jid])
            if span is not None:
                span.stages.append(sid)
                for f in STAGE_FIELDS:
                    span.metrics[f] = span.metrics.get(f, 0.0) + row[f]
        self._store = store
        totals["jobs"] = float(len(job_group))
        return totals

    def task_max_over_median(self, stage_id: int) -> float:
        """Slowest task over the median task of one stage (run time)."""
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(
            stage_id, self.stage_data[stage_id]["attempt"], q
        )
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        return run.apply(1) / run.apply(0) if run.apply(0) > 0 else 0.0

    def self_times(self) -> dict[int, float]:
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.duration
        return {s.id: s.duration - child.get(s.id, 0.0) for s in self.spans}


# -- hooks on the engine's public boundaries ---------------------------------


@contextmanager
def instrument_store(tracer: Tracer, pipeline):
    """Spans around a ``CurationPipeline``/``DedupPipeline`` run's stage
    runner (plan construction plus commit, charged to the stage's layer),
    each ``CheckpointStore.write`` / ``resume_partitioned`` commit (layer
    ``store``), and, inside a commit, each parquet data write (charged back
    to the stage's layer, because the lazy plan runs there).  The hooks are
    instance attributes, so only this pipeline is traced."""
    from pyspark.sql.readwriter import DataFrameWriter

    dedup = getattr(pipeline, "dedup", pipeline)
    store = dedup.store
    run_stage, write, resume = dedup._stage, store.write, store.resume_partitioned
    parquet = DataFrameWriter.parquet

    def traced_stage(key, *args, **kwargs):
        with tracer.span(f"stage:{key}", layer_of(key), "stage"):
            return run_stage(key, *args, **kwargs)

    def commit(fn):
        def traced(stage, *args, **kwargs):
            with tracer.span(f"commit:{stage}", "store", "commit"):
                return fn(stage, *args, **kwargs)
        return traced

    def traced_parquet(self, path, *args, **kwargs):
        cur = tracer.current()
        if (cur is None or cur.kind != "commit"
                or path.rstrip("/").endswith("partitions.parquet")):
            return parquet(self, path, *args, **kwargs)
        stage = cur.name.split(":", 1)[1]
        with tracer.span(f"write:{stage}", layer_of(stage), "write"):
            return parquet(self, path, *args, **kwargs)

    dedup._stage = traced_stage
    store.write = commit(write)
    store.resume_partitioned = commit(resume)
    DataFrameWriter.parquet = traced_parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = parquet
        for obj, name in ((dedup, "_stage"), (store, "write"),
                          (store, "resume_partitioned")):
            del obj.__dict__[name]


@contextmanager
def instrument_stream(tracer: Tracer):
    """Spans around each micro-batch's ``process_curation_batch`` and
    ``process_incremental_batch`` (looked up as module globals by
    ``stream_curation``'s batch function, so patching the module reaches
    them)."""
    from localitysensitivesketch_spark.streaming import stream as ST

    curation, incremental = ST.process_curation_batch, ST.process_incremental_batch

    def wrap(fn, name, layer):
        def traced(*args, **kwargs):
            with tracer.span(name, layer, "batch"):
                return fn(*args, **kwargs)
        return traced

    ST.process_curation_batch = wrap(curation, "stream.curation", "stream")
    ST.process_incremental_batch = wrap(incremental, "stream.dedup", "stream")
    try:
        yield
    finally:
        ST.process_curation_batch = curation
        ST.process_incremental_batch = incremental
