"""Layer spans for the traced run, timed from outside the package.

A span wraps one call into a layer's public function. It records its
name, start, end and parent in memory, tags the jobs it submits with
``setJobGroup``, and attributes to itself the Spark jobs whose ids fall
inside its window and outside its children's. Job ids are used rather
than the group alone because a streaming query runs its micro-batches
under its own job group. After the run, Spark's in-process status store
(``AppStatusStore``, populated with the UI disabled) gives each job's
stages, from which a span's tasks, executor CPU, shuffle and spill are
summed. Nothing is added to the package itself.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    first_job: int
    end: float = 0.0
    last_job: int = 0  # exclusive
    child_s: float = 0.0
    child_jobs: set = field(default_factory=set)
    extra: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s

    def self_jobs(self) -> list[int]:
        return [j for j in range(self.first_job, self.last_job) if j not in self.child_jobs]


class Tracer:
    """Spans of one traced op, kept in memory until ``layer_metrics``."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _job_count(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        return self._jsc.dagScheduler().numTotalJobs()

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent, self._job_count())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        sc.setJobGroup(f"perfbench:{name}", name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.last_job = self._job_count()
            if parent is not None:
                p = self.spans[parent]
                p.child_s += s.end - s.start
                p.child_jobs.update(range(s.first_job, s.last_job))
                sc.setJobGroup(f"perfbench:{p.name}", p.name)
            else:
                sc.setJobGroup("perfbench", "untraced")

    def _stage_sums(self, job_ids: list[int]) -> dict[str, float]:
        store = self._jsc.statusStore()
        sums = defaultdict(float)
        stages = set()
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage that never ran
                continue
            sums["tasks"] += st.numCompleteTasks()
            sums["cpu_ns"] += st.executorCpuTime()
            sums["input_bytes"] += st.inputBytes()
            sums["shuffle_bytes"] += st.shuffleWriteBytes()
            sums["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return sums

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """Self time and status-store counters summed per layer name,
        plus each span's ``extra`` counters."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            jobs = s.self_jobs()
            sums = self._stage_sums(jobs)
            out[f"{s.name}.s"] += s.self_s
            out[f"{s.name}.jobs"] += len(jobs)
            out[f"{s.name}.tasks"] += sums["tasks"]
            out[f"{s.name}.shuffle_bytes"] += sums["shuffle_bytes"]
            out[f"{s.name}.spill_bytes"] += sums["spill_bytes"]
            out[f"{s.name}._cpu_s"] += sums["cpu_ns"] / 1e9
            out[f"{s.name}._input_bytes"] += sums["input_bytes"]
            for k, v in s.extra.items():
                out[f"{s.name}.{k}"] += v
        for name in {s.name for s in self.spans}:
            wall = out[f"{name}.s"]
            out[f"{name}.cpu_frac"] = out[f"{name}._cpu_s"] / (wall * cores) if wall > 0 else 0.0
            if out[f"{name}.jobs"]:
                out[f"{name}.tasks_per_job"] = out[f"{name}.tasks"] / out[f"{name}.jobs"]
        return dict(out)

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": None if s.parent is None else self.spans[s.parent].name,
             "self_s": s.self_s, "jobs": s.self_jobs()}
            for s in self.spans
        ]


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, Hadoop checksum files excluded."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
