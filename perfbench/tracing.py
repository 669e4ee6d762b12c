"""Span recorder, Spark event-log parser and the arithmetic the report uses.

Spans are recorded by the benchmark around its own calls into each
module's public functions; the program is not instrumented. A span sets
a Spark job group named after itself, so the jobs it ran can be counted
through ``statusTracker`` while the run goes on and matched to task
records in the event log afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import re
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

# ---------------------------------------------------------------------------
# arithmetic
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def rate(count: float, seconds: float) -> float:
    if seconds <= 0:
        raise ValueError("rate over a non-positive interval")
    return count / seconds


def ratio(num: float, den: float) -> float:
    """num/den; 0 when nothing was attempted."""
    return num / den if den else 0.0


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str  # "<layer>:<function>"
    trace: int  # id of the root span of this query / op
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


class Tracer:
    """Records spans in memory; a disabled tracer is a no-op.

    ``bookkeeping_s`` is the time spent inside the tracer itself (job-group
    switches and ``statusTracker`` reads), a lower bound on its overhead.
    """

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(
            id=sid,
            name=name,
            trace=parent.trace if parent else sid,
            parent=parent.id if parent else None,
            start=0.0,
            group=f"pb-{sid}",
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - b0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            if self.sc is not None:
                tracker = self.sc.statusTracker()
                sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
                infos = [tracker.getJobInfo(j) for j in sp.jobs]
                sp.stages = sum(len(i.stageIds) for i in infos if i is not None)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def wrap(self, module, fn_name: str, layer: str, on_result=None):
        """Replace ``module.fn_name`` by a spanned twin (traced runs only);
        returns an undo callable. ``on_result(span, result)`` may record
        attributes of the call's result."""
        orig = getattr(module, fn_name)

        def traced(*a, **kw):
            with self.span(f"{layer}:{fn_name}") as sp:
                res = orig(*a, **kw)
                if on_result is not None and sp is not None:
                    on_result(sp, res)
                return res

        setattr(module, fn_name, traced)
        return lambda: setattr(module, fn_name, orig)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: sum over its spans of (duration - time covered by child spans)."""
    kids = children(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        busy = covered([(c.start, c.end) for c in kids.get(s.id, [])])
        out[s.layer] += (s.end - s.start) - busy
    return dict(out)


def inclusive_jobs(spans: list[Span]) -> dict[int, list[int]]:
    """Span id → jobs run by it or any descendant."""
    kids = children(spans)
    memo: dict[int, list[int]] = {}

    def walk(s: Span) -> list[int]:
        if s.id not in memo:
            js = list(s.jobs)
            for c in kids.get(s.id, []):
                js.extend(walk(c))
            memo[s.id] = js
        return memo[s.id]

    for s in spans:
        walk(s)
    return memo


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_FILES_READ = "number of files read"
_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand\s*\nInput: .*\nArguments: ([^,\s]+)")
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"


@dataclass
class JobRecord:
    group: str | None
    execution: int | None
    stages: list[int]
    start_ms: int
    end_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, JobRecord]
    # per job: summed task metrics (seconds / bytes / counts)
    job_metrics: dict[int, dict[str, float]]
    # SQL execution id → files read by its scans
    files_read: dict[int, int]
    # SQL execution id → the path it writes (InsertIntoHadoopFsRelationCommand)
    writes: dict[int, str]

    def written_by(self, job: int) -> str:
        rec = self.jobs.get(job)
        return self.writes.get(rec.execution, "") if rec and rec.execution is not None else ""


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the (single) application logged under ``log_dir``,
    in order; handles both rolled (eventlog_v2_*) and single-file logs."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def _walk_plan(node: dict, ids: set[int]) -> None:
    for m in node.get("metrics", []):
        if m.get("name") == _FILES_READ:
            ids.add(int(m["accumulatorId"]))
    for c in node.get("children", []):
        _walk_plan(c, ids)


def parse_event_log(files: list[str]) -> EventLog:
    """Parse an uncompressed Spark event log with stdlib json."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    jm: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files_ids: set[int] = set()
    files_upd: dict[int, dict[int, int]] = defaultdict(dict)
    writes: dict[int, str] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    jid = ev["Job ID"]
                    jobs[jid] = JobRecord(
                        group=props.get("spark.jobGroup.id"),
                        execution=int(ex) if ex is not None else None,
                        stages=list(ev["Stage IDs"]),
                        start_ms=ev.get("Submission Time", 0),
                    )
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    m = jm[jid]
                    info = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    m["tasks"] += 1
                    m["tasks_failed"] += 1 if info.get("Failed") else 0
                    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    sub = stage_submit.get(ev["Stage ID"])
                    if sub:
                        m["scheduler_wait_s"] += max(0, info["Launch Time"] - sub) / 1e3
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name in _PY_INIT:
                            m["python_init_s"] += float(acc.get("Update", 0)) / 1e3
                        elif name == _PY_RUN:
                            m["python_run_s"] += float(acc.get("Update", 0)) / 1e3
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(ev.get("sparkPlanInfo") or {}, files_ids)
                    m = _WRITE.search(ev.get("physicalPlanDescription") or "")
                    if m:
                        writes[ev["executionId"]] = m.group(1)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, val in ev.get("accumUpdates", []):
                        files_upd[ev["executionId"]][int(acc_id)] = int(val)
    files_read = {
        ex: sum(v for k, v in upd.items() if k in files_ids) for ex, upd in files_upd.items()
    }
    return EventLog(jobs=jobs, job_metrics={k: dict(v) for k, v in jm.items()},
                    files_read=files_read, writes=writes)


def sum_job_metrics(log: EventLog, job_ids: list[int]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for j in job_ids:
        for k, v in log.job_metrics.get(j, {}).items():
            out[k] += v
    return dict(out)


def files_read_by(log: EventLog, job_ids: list[int]) -> int:
    execs = {log.jobs[j].execution for j in job_ids if j in log.jobs}
    return sum(log.files_read.get(e, 0) for e in execs if e is not None)
