"""Per-job-group Spark counters from the status REST API.

The traced run tags every layer call with its own job group; after the
run this reader maps each group to its jobs and stages and sums the stage
counters (executor CPU and run time, GC, input/output bytes, shuffle
read/write, spill, task counts).  A stage shared by several jobs of one
group counts once; for a retried stage the surviving attempt counts.
Task-time skew is the largest max/median task run time over the group's
stages with at least four tasks.
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.request
from dataclasses import dataclass, field

from spans import GROUP_PREFIX

_COUNTERS = {
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "exec_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    task_skew: float = 1.0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(_COUNTERS, 0.0))
    # [start, end] epoch seconds of each job, for driver-time accounting
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc).timestamp()


class StatusReader:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that have already returned."""
        self._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def by_group(self) -> dict[str, GroupStats]:
        """Counters of every job group a benchmark span set."""
        self.drain()
        stages = {}
        for st in self._get("/stages?details=false"):
            key = st["stageId"]
            if st.get("status") == "SKIPPED":
                continue
            if key not in stages or st["attemptId"] > stages[key]["attemptId"]:
                stages[key] = st
        out: dict[str, GroupStats] = {}
        group_stages: dict[str, set[int]] = {}
        for job in self._get("/jobs"):
            g = job.get("jobGroup")
            if not g or not g.startswith(GROUP_PREFIX):
                continue
            gs = out.setdefault(g, GroupStats())
            gs.jobs += 1
            start, end = _epoch(job.get("submissionTime")), _epoch(job.get("completionTime"))
            if start is not None and end is not None:
                gs.job_spans.append((start, end))
            group_stages.setdefault(g, set()).update(job.get("stageIds", ()))
        for g, sids in group_stages.items():
            gs = out[g]
            for sid in sids:
                st = stages.get(sid)
                if st is None:
                    continue
                gs.stages += 1
                for name, (key, scale) in _COUNTERS.items():
                    gs.counters[name] += st.get(key, 0) * scale
                if st.get("numCompleteTasks", 0) >= 4:
                    gs.task_skew = max(gs.task_skew, self._skew(st))
        return out

    def _skew(self, st: dict) -> float:
        q = self._get(f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        return top / med if med > 0 else 1.0
