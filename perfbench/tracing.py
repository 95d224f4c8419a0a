"""Tracing for the traced run: in-memory spans plus per-tag Spark figures.

Spans are recorded from the benchmark's own code, around the calls it
makes into each layer, and written out once when the run ends. Spark's
figures for a tag (JVM task CPU, shuffle, spill, task times) are read from
the application status store, which Spark keeps even with the UI off; the
number of whole-stage codegen compilations comes from Spark's
CodegenMetrics.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans: name, start, end, parent, workload, seed and pass."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, pass_no: int | None = None, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "workload": self.workload,
            "seed": self.seed,
            "pass": pass_no,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class SparkStats:
    """Runs actions under a job-group tag and sums Spark's per-stage
    figures for that tag from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._gw = self.sc._gateway
        metrics = self._gw.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compile_hist = metrics.METRIC_COMPILATION_TIME()
        self._compiles: dict[str, int] = {}

    @contextmanager
    def tagged(self, tag: str):
        c0 = self._compile_hist.getCount()
        self.sc.setJobGroup(tag, tag)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()
            self._compiles[tag] = self._compile_hist.getCount() - c0

    def _stage_ids(self, tag: str) -> tuple[list[int], list[int]]:
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(tag))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return jobs, sorted(stages)

    def figures(self, tag: str) -> dict:
        """jobs, stages, executor CPU, shuffle write and spill bytes
        of every stage that ran for `tag`, the task-time skew (max / median
        task duration) of the tag's last stage, and the codegen
        compilations made while the tag ran."""
        jobs, stage_ids = self._stage_ids(tag)
        wanted = set(stage_ids)
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        seq = self._store.stageList(None, False, False, no_quantiles, None)
        ran = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() in wanted and s.numCompleteTasks() > 0:
                ran.append(s)
        out = {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "jvm_cpu_s": sum(s.executorCpuTime() for s in ran) / 1e9,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in ran),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in ran),
            "task_skew": 0.0,
            "codegen_compiles": self._compiles.get(tag, 0),
        }
        if ran:
            last = max(ran, key=lambda s: s.stageId())
            tasks = self._store.taskList(last.stageId(), last.attemptId(), 100_000)
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            med = statistics.median(durs) if durs else 0.0
            if med > 0:
                out["task_skew"] = max(durs) / med
        return out
