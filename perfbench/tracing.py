"""Per-layer tracing from outside the program.

A traced pass wraps ``CheckpointStore.write`` and ``commit_stats`` (the
storage layer every stage commit goes through) for the length of the pass.
The pass is cut at the end of each commit: the jobs and the wall time from
the end of one commit to the end of the next (the stage's build, including
the eager jobs it launches before its write, and its commit) run under one
Spark job group, which is assigned to the stage of the commit that closes
it. Jobs after the last commit land in the pass's ``tail`` group. After the
pass, ``stage_metrics`` reads the jobs of each group from
``statusTracker()`` and their stage metrics from the driver's status store.
Nothing here launches a Spark job.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from payor_mdm_spark.sources.catalog import CheckpointStore

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    group: str
    seconds: float


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    skew: float = 0.0


@dataclass
class PassTrace:
    tag: str
    spans: list[Span] = field(default_factory=list)
    commit_stats_s: float = 0.0
    tail_group: str = ""  # the group still open: jobs after the last commit


@contextmanager
def traced(sc, tag: str):
    """Record a span and a job group per commit for the DAG call inside
    the block."""
    trace = PassTrace(tag)
    orig_write = CheckpointStore.write
    orig_stats = CheckpointStore.commit_stats
    opened = 0.0

    def open_group() -> None:
        nonlocal opened
        trace.tail_group = f"{tag}.g{len(trace.spans)}"
        sc.setJobGroup(trace.tail_group, "build and commit")
        opened = time.perf_counter()

    def write(store, name, df, *args, **kwargs):
        try:
            return orig_write(store, name, df, *args, **kwargs)
        finally:
            trace.spans.append(
                Span(name, trace.tail_group, time.perf_counter() - opened)
            )
            open_group()

    def commit_stats(store, name):
        t0 = time.perf_counter()
        try:
            return orig_stats(store, name)
        finally:
            trace.commit_stats_s += time.perf_counter() - t0

    CheckpointStore.write = write
    CheckpointStore.commit_stats = commit_stats
    open_group()
    try:
        yield trace
    finally:
        CheckpointStore.write = orig_write
        CheckpointStore.commit_stats = orig_stats
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def stage_metrics(sc, trace: PassTrace) -> dict[str, GroupStats]:
    """GroupStats per job group of ``trace``: its span groups, then the tail.

    A Spark stage is counted once, in the first group (by job id) that ran
    it, so a shuffle stage reused by a later job is not counted twice.
    ``skew`` is max / median task run time of the group's heaviest stage
    that had two or more tasks (1.0 when there is none).
    """
    tracker = sc.statusTracker()
    status = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    groups = [s.group for s in trace.spans] + [trace.tail_group]
    job_group = {
        job: group for group in groups for job in tracker.getJobIdsForGroup(group)
    }
    out = {group: GroupStats() for group in groups}
    heaviest: dict[str, tuple[int, int, int]] = {}
    seen: set[int] = set()
    for job in sorted(job_group):
        group = job_group[job]
        stats = out[group]
        stats.jobs += 1
        info = tracker.getJobInfo(job)
        for stage_id in info.stageIds if info is not None else ():
            if stage_id in seen:
                continue
            seen.add(stage_id)
            attempt = status.lastStageAttempt(stage_id)
            if attempt.status().toString() != "COMPLETE":
                continue
            run_ms = attempt.executorRunTime()
            stats.task_s += run_ms / 1000.0
            stats.shuffle_mb += (
                attempt.shuffleReadBytes() + attempt.shuffleWriteBytes()
            ) / MB
            stats.spill_mb += attempt.diskBytesSpilled() / MB
            if attempt.numTasks() >= 2 and run_ms > heaviest.get(group, (-1,))[0]:
                heaviest[group] = (run_ms, stage_id, attempt.attemptId())
    for group, (_, stage_id, attempt_id) in heaviest.items():
        summary = status.taskSummary(stage_id, attempt_id, quantiles)
        if summary.isDefined():
            run_q = summary.get().executorRunTime()
            out[group].skew = run_q.apply(1) / max(run_q.apply(0), 1.0)
    for group, stats in out.items():
        if stats.jobs and not stats.skew:
            stats.skew = 1.0
    return out
