"""Measurement arithmetic: spans and self time, percentiles, the Spark
per-call ledger read from the engine's status store, and the peak RSS of
the driver process tree.

Nothing here runs inside a timed region except ``Tracer.span`` itself,
which records two ``perf_counter`` readings.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile)``: the sample at sorted rank
    ``n - beyond - 1`` and the share of samples at or below that rank.
    Raises when there are too few samples for any such percentile."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    rank = n - beyond - 1
    return sorted(samples)[rank], 100.0 * (rank + 1) / n


# ---------------------------------------------------------------------------
# Spans and self time
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: int = 0
    children: list[int] = field(default_factory=list)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly-overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - union_length(clipped)


class Tracer:
    """In-memory spans at the benchmark's calls into the package.

    Disabled tracers record nothing, so the untraced run pays one
    attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._trace = 0

    def new_trace(self) -> None:
        """Start a new request: later root spans share a fresh id."""
        self._trace += 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent=parent, trace_id=self._trace))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [self.spans[i] for i in s.children]
            out[s.name] = out.get(s.name, 0.0) + self_time(s, kids)
        return out


# ---------------------------------------------------------------------------
# Spark status-store ledger, per job group
# ---------------------------------------------------------------------------

LEDGER_KEYS = (
    "engine.plan_s",
    "engine.stages",
    "engine.tasks",
    "engine.sched_gap_s",
    "engine.skipped_stage_ratio",
    "engine.failed_tasks",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "executor.deser_s",
    "shuffle.write_mb",
    "shuffle.write_s",
    "shuffle.fetch_wait_s",
    "spill.mb",
)

_MB = 1024.0 * 1024.0


@dataclass
class StageRecord:
    """The per-stage fields the ledger sums (times in seconds)."""

    submitted: float | None
    completed: float | None
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    deser_s: float
    shuffle_write_mb: float
    shuffle_write_s: float
    fetch_wait_s: float
    spill_mb: float


def fold_ledger(
    wall_s: float, plan_s: float, stages: list[StageRecord], n_skipped: int
) -> dict[str, float]:
    """Sum one call's stages into the ledger.

    ``engine.sched_gap_s`` is the call's wall time not covered by Catalyst
    planning or by any stage's submission-to-completion interval: driver
    work, job submission and scheduling between stages."""
    spans = [
        (s.submitted, s.completed)
        for s in stages
        if s.submitted is not None and s.completed is not None
    ]
    busy = union_length(spans)
    n_run = len(stages)
    return {
        "engine.plan_s": plan_s,
        "engine.stages": float(n_run),
        "engine.tasks": float(sum(s.tasks for s in stages)),
        "engine.sched_gap_s": wall_s - plan_s - busy,
        "engine.skipped_stage_ratio": n_skipped / (n_run + n_skipped) if n_run + n_skipped else 0.0,
        "engine.failed_tasks": float(sum(s.failed_tasks for s in stages)),
        "executor.run_s": sum(s.run_s for s in stages),
        "executor.cpu_s": sum(s.cpu_s for s in stages),
        "executor.gc_s": sum(s.gc_s for s in stages),
        "executor.deser_s": sum(s.deser_s for s in stages),
        "shuffle.write_mb": sum(s.shuffle_write_mb for s in stages),
        "shuffle.write_s": sum(s.shuffle_write_s for s in stages),
        "shuffle.fetch_wait_s": sum(s.fetch_wait_s for s in stages),
        "spill.mb": sum(s.spill_mb for s in stages),
    }


#: Slack for the engine's millisecond timestamps against the driver clock.
CLOCK_SLACK_S = 0.005


def ledger_problems(row: dict[str, float], wall_s: float, cores: int) -> list[str]:
    """Violated ledger invariants for one call: the scheduling gap is not
    negative and task time does not exceed what ``cores`` slots can run in
    the call's wall time."""
    out = []
    if row["engine.sched_gap_s"] < -CLOCK_SLACK_S:
        out.append(f"engine.sched_gap_s {row['engine.sched_gap_s']:.3f} < 0")
    if row["executor.run_s"] > wall_s * cores:
        out.append(
            f"executor.run_s {row['executor.run_s']:.3f} > wall {wall_s:.3f} x {cores} cores"
        )
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_stages(spark, group: str) -> tuple[list[StageRecord], int]:
    """The stages Spark ran for ``group``'s jobs, and how many stages the
    jobs skipped because an earlier shuffle output was reused."""
    store = spark.sparkContext._jsc.sc().statusStore()
    job_ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    skipped = 0
    for jid in job_ids:
        job = store.job(jid)
        skipped += job.numSkippedStages()
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = []
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        out.append(
            StageRecord(
                submitted=_opt_ms(sd.submissionTime()),
                completed=_opt_ms(sd.completionTime()),
                tasks=sd.numCompleteTasks() + sd.numFailedTasks(),
                failed_tasks=sd.numFailedTasks(),
                run_s=sd.executorRunTime() / 1e3,
                cpu_s=sd.executorCpuTime() / 1e9,
                gc_s=sd.jvmGcTime() / 1e3,
                deser_s=sd.executorDeserializeTime() / 1e3,
                shuffle_write_mb=sd.shuffleWriteBytes() / _MB,
                shuffle_write_s=sd.shuffleWriteTime() / 1e9,
                fetch_wait_s=sd.shuffleFetchWaitTime() / 1e3,
                spill_mb=(sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB,
            )
        )
    return out, skipped


def plan_seconds(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) recorded on
    the DataFrame's query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1e3


def jvm_heap_used_mb(spark) -> float:
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / _MB


# ---------------------------------------------------------------------------
# Peak RSS of the process tree
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    JVM and Python workers) on a background thread; ``peak_mb`` is the
    largest sum seen, or the summed per-process peaks of the live tree if
    that is larger."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        kb = sum(_status_kb(p, "VmRSS:") for p in process_tree(os.getpid()))
        self._peak_kb = max(self._peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self._sample()
        hwm = sum(_status_kb(p, "VmHWM:") for p in process_tree(os.getpid()))
        return max(self._peak_kb, hwm) / 1024.0
