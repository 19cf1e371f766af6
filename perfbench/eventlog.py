"""Parser for a Spark JSON event log (one uncompressed, non-rolling file).

Turns the listener events into jobs, stages and SQL executions with the
figures the benchmark's per-layer tables need:

- per job: submit/end time, wall, call site (``callSite.short``, else
  the job description), SQL execution id, stage ids;
- per stage: submit/complete time, wall, task times and their skew,
  shuffle read/write bytes, spill bytes, and the per-stage sums of the
  SQL metrics (Python exec metrics among them), converted to seconds,
  bytes or counts by their metric type;
- per SQL execution: the physical plan text and the accumulator ids of
  its Python evaluation nodes.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

# Python exec metric names as Spark 4 reports them.
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
# Both are measured from the worker process's start: for a task served by
# a reused worker the first is not reported and the second is the worker's
# age, so only tasks that reported a start (a freshly forked worker) count.
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"

# SQL metric types whose raw values are durations, and their unit in s.
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    complete_ms: int = 0
    n_tasks: int = 0
    task_s: list[float] = field(default_factory=list)
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # SQL metric name -> summed task updates, in s for time metrics
    sql: dict[str, float] = field(default_factory=dict)
    # accumulator id -> summed task updates (raw)
    accum: dict[int, float] = field(default_factory=dict)
    # start + initialization time of freshly forked Python workers, in s
    python_boot_init_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return max(0, self.complete_ms - self.submit_ms) / 1000.0

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task (1.0 when even)."""
        if not self.task_s:
            return 0.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 1.0


@dataclass
class Job:
    job_id: int
    submit_ms: int = 0
    end_ms: int = 0
    call_site: str = ""
    description: str = ""
    execution_id: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    succeeded: bool = True

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.submit_ms) / 1000.0

    @property
    def key(self) -> str:
        return self.description or self.call_site or f"job {self.job_id}"


@dataclass
class Execution:
    execution_id: int
    plan: str = ""
    python_row_accums: set[int] = field(default_factory=set)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)
    # accumulator id -> (metric name, metric type)
    metric_types: dict[int, tuple[str, str]] = field(default_factory=dict)

    def jobs_between(self, start_ms: float, end_ms: float) -> list[Job]:
        """Jobs submitted inside [start_ms, end_ms], in submit order."""
        return sorted(
            (j for j in self.jobs.values() if start_ms <= j.submit_ms <= end_ms),
            key=lambda j: j.submit_ms,
        )

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran for these jobs (skipped stages have no tasks)."""
        seen, out = set(), []
        for j in jobs:
            for sid in j.stage_ids:
                st = self.stages.get(sid)
                if st is not None and st.n_tasks and sid not in seen:
                    seen.add(sid)
                    out.append(st)
        return out


def _walk_plan(node: dict, out: list[dict]) -> None:
    out.append(node)
    for child in node.get("children", []):
        _walk_plan(child, out)


def _note_plan(log: EventLog, ex: Execution, plan_info: dict | None) -> None:
    if not plan_info:
        return
    nodes: list[dict] = []
    _walk_plan(plan_info, nodes)
    for node in nodes:
        python_node = "EvalPython" in node.get("nodeName", "")
        for m in node.get("metrics", []):
            acc = m.get("accumulatorId")
            if acc is None:
                continue
            log.metric_types[acc] = (m.get("name", ""), m.get("metricType", ""))
            if python_node and m.get("name") == "number of output rows":
                ex.python_row_accums.add(acc)


def _stage(log: EventLog, sid: int) -> Stage:
    st = log.stages.get(sid)
    if st is None:
        st = log.stages[sid] = Stage(sid)
    return st


def parse(path: str) -> EventLog:
    log = EventLog()
    task_accums: list[tuple[int, int, int, float]] = []  # stage, task, acc, update
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                log.jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    submit_ms=ev.get("Submission Time", 0),
                    call_site=props.get("callSite.short") or "",
                    description=props.get("spark.job.description") or "",
                    execution_id=int(exec_id) if exec_id is not None else None,
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev.get("Completion Time", 0)
                    result = ev.get("Job Result", {}).get("Result", "")
                    job.succeeded = result == "JobSucceeded"
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = _stage(log, info["Stage ID"])
                st.submit_ms = info.get("Submission Time", 0)
                st.complete_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = _stage(log, sid)
                info = ev.get("Task Info", {})
                st.n_tasks += 1
                st.task_s.append(
                    max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    / 1000.0
                )
                tm = ev.get("Task Metrics") or {}
                rd = tm.get("Shuffle Read Metrics", {})
                st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                st.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    upd = acc.get("Update")
                    if acc.get("ID") is None or upd is None:
                        continue
                    try:
                        task_accums.append(
                            (sid, info.get("Task ID"), acc["ID"], float(upd))
                        )
                    except (TypeError, ValueError):
                        continue
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                ex = Execution(
                    execution_id=ev["executionId"],
                    plan=ev.get("physicalPlanDescription", ""),
                )
                log.executions[ex.execution_id] = ex
                _note_plan(log, ex, ev.get("sparkPlanInfo"))
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = log.executions.get(ev["executionId"])
                if ex is not None:
                    _note_plan(log, ex, ev.get("sparkPlanInfo"))
    boot: dict[tuple[int, int], dict[str, float]] = {}
    for sid, task, acc, upd in task_accums:
        st = log.stages[sid]
        st.accum[acc] = st.accum.get(acc, 0.0) + upd
        name, mtype = log.metric_types.get(acc, ("", ""))
        if not name:
            continue
        value = upd * _TIME_SCALE.get(mtype, 1.0)
        if name in (PY_START, PY_INIT):
            boot.setdefault((sid, task), {})[name] = value
        else:
            st.sql[name] = st.sql.get(name, 0.0) + value
    for (sid, _), times in boot.items():
        if times.get(PY_START, 0.0) > 0:
            log.stages[sid].python_boot_init_s += times[PY_START] + times.get(
                PY_INIT, 0.0
            )
    return log


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length in s of the union of [start_ms, end_ms] intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0
