"""Per-layer Spark accounting for the traced run.

A ``Tracer`` wraps each call into the package in ``tracer.layer(name)``:
the calls run under their own Spark job group, and on exit the layer's jobs
are read back from the ``AppStatusStore`` (readable through py4j with the UI
disabled) and summed per layer:

- ``wall_s``: the span, children included;
- ``driver_s``: the part of the span during which none of its stages (or
  its children's stages) was running — analysis, planning, scheduling and
  Python on the driver;
- ``jobs``, ``stages_run``, ``stage_reuse_ratio`` (skipped / all stages);
- ``executor_cpu_s``, ``shuffle_write_bytes``, plus failed tasks and spill,
  which are reported as run totals;
- ``trace.overhead_s``: the time the pass spent in the tracer itself (job
  group calls, status-store reads, checkpoint byte counts), which a traced
  pass pays on top of an untraced one.

Layers nest (a checkpoint save inside a restream pass): a child runs under
its own job group, so jobs, stages and CPU are the layer's own, while wall
time includes its children. ``TracedCheckpoints`` is a ``CheckpointManager``
whose ``save`` and ``load_states`` are layers of their own.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager

from graph_partitioning_spark.checkpoint import CheckpointManager

LAYERS = [
    "session",
    "sources.read_pages",
    "edges.weight_links",
    "edges.vertex_dictionary",
    "edges.extract_edges",
    "edges.undirect",
    "edges.degrees",
    "pagerank",
    "components",
    "triangles",
    "labelprop",
    "fennel",
    "metrics.cut_metrics",
    "metrics.waste",
    "checkpoint.save",
    "checkpoint.load",
]
MEASURES = [
    "wall_s",
    "driver_s",
    "jobs",
    "stages_run",
    "stage_reuse_ratio",
    "executor_cpu_s",
    "shuffle_write_bytes",
]


class _Span:
    def __init__(self, name: str, group: str):
        self.name = name
        self.group = group
        self.intervals: list[tuple[float, float]] = []  # own and children's stages


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Collects per-layer totals for one traced workload pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._empty_list = self.sc._jvm.java.util.ArrayList()
        self._empty_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._stack: list[_Span] = []
        self._seen_stages: set[int] = set()
        self._serial = 0
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self.totals = {name: dict.fromkeys(MEASURES, 0.0) for name in LAYERS}
        self.skipped = dict.fromkeys(LAYERS, 0)
        self.counts: dict[str, float] = {}
        self.failed_tasks = 0
        self.spill_bytes = 0
        self.own_s = 0.0  # time spent in the tracer itself, not in the program

    @contextmanager
    def layer(self, name: str):
        t_own = time.time()
        self._serial += 1
        span = _Span(name, f"{self._prefix}-{self._serial}-{name}")
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span)
        self.sc.setJobGroup(span.group, name)
        t0 = time.time()
        self.own_s += t0 - t_own
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._account(span, t0, t1)
            if parent is not None:
                parent.intervals.extend(span.intervals)
            self.own_s += time.time() - t1

    def _account(self, span: _Span, t0: float, t1: float) -> None:
        tot = self.totals[span.name]
        job_ids = self.sc.statusTracker().getJobIdsForGroup(span.group)
        run = skipped = 0
        for jid in sorted(job_ids):
            job = self.store.job(jid)
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                attempts = self.store.stageData(
                    sid, False, self._empty_list, False, self._empty_quantiles
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    status = st.status().toString()
                    if status == "SKIPPED":
                        skipped += 1
                        continue
                    if sid in self._seen_stages:
                        skipped += 1  # ran under an earlier job, reused here
                        continue
                    run += 1
                    tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    self.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    self.failed_tasks += st.numFailedTasks()
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        span.intervals.append(
                            (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                        )
                self._seen_stages.add(sid)
        wall = t1 - t0
        tot["wall_s"] += wall
        tot["driver_s"] += max(0.0, wall - _union_length(span.intervals, t0, t1))
        tot["jobs"] += len(job_ids)
        tot["stages_run"] += run
        self.skipped[span.name] += skipped

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, tot in self.totals.items():
            stages = tot["stages_run"] + self.skipped[name]
            tot["stage_reuse_ratio"] = self.skipped[name] / stages if stages else 0.0
            for m in MEASURES:
                out[f"{name}.{m}"] = tot[m]
        out.update(self.counts)
        out["spark.failed_tasks"] = self.failed_tasks
        out["spark.spill_bytes"] = self.spill_bytes
        out["trace.overhead_s"] = self.own_s
        return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class TracedCheckpoints(CheckpointManager):
    """``CheckpointManager`` whose saves and loads are traced layers."""

    def __init__(self, base_dir: str, run_id: str, tracer: Tracer):
        super().__init__(base_dir, run_id)
        self.tracer = tracer

    def save(self, step, states, counters, params=None):
        with self.tracer.layer("checkpoint.save"):
            out = super().save(step, states, counters, params)
        t0 = time.time()
        self.tracer.count("checkpoint.saves", 1)
        self.tracer.count(
            "checkpoint.bytes_written", _dir_bytes(os.path.dirname(self._state_path(step, "x")))
        )
        self.tracer.own_s += time.time() - t0
        return out

    def load_states(self, spark, manifest):
        with self.tracer.layer("checkpoint.load"):
            return super().load_states(spark, manifest)
