"""Per-layer spans recorded from the benchmark's side of each call.

A span wraps one call into a layer's public function. While tracing is on,
the span runs its call under its own Spark job group; when the call
returns, the span reads back every stage of the jobs that group started
(``statusTracker().getJobIdsForGroup`` + ``statusStore().lastStageAttempt``)
and sums their task metrics. The program under test is not instrumented.
Spans are kept in memory and summarised once at the end of the run.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

SUFFIXES = (
    "wall_s",
    "jobs",
    "stages",
    "executor_run_s",
    "executor_cpu_s",
    "idle_core_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "shuffle_fetch_wait_s",
    "spill_mb",
    "peak_exec_mem_mb",
    "output_mb",
)
MB = 1e6


class Tracer:
    """Records spans while ``enabled``; a disabled tracer only runs the
    call, so untraced runs pay nothing."""

    def __init__(self, spark, slots: int):
        self.sc = spark.sparkContext
        self.slots = slots
        self.enabled = False
        self.iteration = 0
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        group = f"perfbench-span-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.record(name, wall, self.sc.statusTracker().getJobIdsForGroup(group))

    def record(self, name: str, wall: float, job_ids: list[int]) -> None:
        """Add a span of ``wall`` seconds that ran the jobs ``job_ids`` (a
        streaming query runs its micro-batches under its own job group, so
        its caller collects the ids itself)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)  # stage ends are async
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        span = dict.fromkeys(SUFFIXES, 0.0)
        span.update(name=name, iteration=self.iteration, wall_s=wall)
        span["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                span["stages"] += 1
                span["executor_run_s"] += sd.executorRunTime() / 1e3
                span["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                span["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                span["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                span["shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                span["spill_mb"] += sd.diskBytesSpilled() / MB
                span["peak_exec_mem_mb"] = max(
                    span["peak_exec_mem_mb"], sd.peakExecutionMemory() / MB
                )
                span["output_mb"] += sd.outputBytes() / MB
        span["idle_core_s"] = wall * self.slots - span["executor_run_s"]
        self.spans.append(span)

    def summary(self, names: list[str]) -> dict[str, float]:
        """``<span>.<suffix>`` for every name in ``names``: the median over
        traced iterations of the span's total within one iteration. A span
        the workload never calls reads 0 (it did no work there)."""
        out = {}
        for name in names:
            per_iter: dict[int, dict] = {}
            for s in self.spans:
                if s["name"] != name:
                    continue
                acc = per_iter.setdefault(s["iteration"], dict.fromkeys(SUFFIXES, 0.0))
                for k in SUFFIXES:
                    acc[k] = max(acc[k], s[k]) if k == "peak_exec_mem_mb" else acc[k] + s[k]
            for k in SUFFIXES:
                vals = [acc[k] for acc in per_iter.values()]
                out[f"{name}.{k}"] = statistics.median(vals) if vals else 0.0
        return out
