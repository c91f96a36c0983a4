"""Spans, Spark job accounting and host readings for the benchmark.

Operators return lazy DataFrames, so a span's wall time only covers what
executes inside it. Execution is attributed through Spark's own data: a
span sets a job group on the calling thread, and after the operation
the tracer reads the group's jobs from the status tracker and their
stages from the application status store (populated with the UI off).
Spans are kept in memory and turned into metrics at the end.

With tracing off ``span`` is a no-op context manager: no job group, no
status-store reads.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

STAT_NAMES = ("wall_s", "jobs", "task_s", "shuffle_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    group: str
    wall_s: float


@dataclass
class Tracer:
    """One operation's spans; ``op`` keeps its job groups apart from
    every other operation's in the same application."""

    spark: SparkSession
    enabled: bool
    op: int = 0
    spans: list[Span] = field(default_factory=list)
    _seq: int = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        self._seq += 1
        group = f"perfbench-op{self.op}-{self._seq}-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)
            self.spans.append(Span(name, group, wall))

    def stats(self) -> dict[str, dict[str, float]]:
        """Per span name, summed over its occurrences: wall_s, jobs and
        the stage totals task_s (executor run time), shuffle_bytes
        (written) and spill_bytes (memory + disk), plus input_records
        for rescan accounting."""
        sc = self.spark.sparkContext
        drain(self.spark)
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out: dict[str, dict[str, float]] = {}
        seen_stages: set[int] = set()
        for sp in self.spans:
            acc = out.setdefault(
                sp.name, dict.fromkeys(STAT_NAMES + ("input_records",), 0.0)
            )
            acc["wall_s"] += sp.wall_s
            for job_id in tracker.getJobIdsForGroup(sp.group):
                acc["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    if stage_id in seen_stages:
                        continue
                    seen_stages.add(stage_id)
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # stage never submitted (skipped)
                        continue
                    acc["task_s"] += st.executorRunTime() / 1000.0
                    acc["shuffle_bytes"] += st.shuffleWriteBytes()
                    acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    acc["input_records"] += st.inputRecords()
        return out


def drain(spark: SparkSession) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds every job the caller launched."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_count(spark: SparkSession) -> int:
    """Jobs the application has launched so far (the status store keeps
    them all: ``spark.ui.retainedJobs`` is raised by the runner)."""
    drain(spark)
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def steal_ticks() -> int:
    """Host-wide CPU steal ticks (8th field of /proc/stat's cpu line)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's VmHWM to its current RSS (clear_refs 5)."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def floor_s(spark: SparkSession, n: int = 5) -> float:
    """Median wall time of an empty ``spark.range(1)`` noop job — the
    scheduling floor every job pays."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
