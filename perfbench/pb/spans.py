"""Spans around the benchmark's calls into each engine layer, and the
attribution of Spark stage metrics to them.

A span has a name, a start and end (wall clock, seconds), a parent span and
the id of the op it belongs to. Spans are kept in memory and written out
when the run ends. While a layer span is open the calling thread's Spark job
group is the span id, so after the run every job can be joined to the span
that submitted it (``statusTracker().getJobIdsForGroup``) and every stage to
its job; stage metrics come from the local REST API
(``/api/v1/applications/<app>/stages``).

Jobs submitted from engine-internal thread pools do not inherit the job
group. The client is serial, so such a job is attributed to the innermost
span that was open when it was submitted, and counted. A stage that still
matches no span is reported under ``unattributed``, never dropped.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    op_id: int | None = None
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children are counted once)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans. With ``enabled=False`` it only times: no job groups,
    no span list, so the untraced run pays nothing but two clock reads."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        s = Span(f"pb-{next(self._ids)}", name, time.time(), parent=parent.id if parent else None,
                 op_id=op_id, attrs=attrs)
        if self.enabled:
            self.spans.append(s)
            if self.sc is not None:
                self.sc.setJobGroup(s.id, name, False)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name, False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op_id": s.op_id, "self_s": st[s.id], **s.attrs,
                }) + "\n")


# -- stage attribution --------------------------------------------------------


def _rest(sc, path: str):
    url = f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.loads(resp.read().decode())


def _epoch(ts: str) -> float:
    # REST timestamps look like 2026-10-17T04:01:02.345GMT
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


STAGE_FIELDS = ("tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_bytes",
                "output_bytes")


def stage_metrics(stage: dict) -> dict:
    return {
        "tasks": stage.get("numCompleteTasks", 0) + stage.get("numFailedTasks", 0),
        "failed_tasks": stage.get("numFailedTasks", 0),
        "executor_run_ms": stage.get("executorRunTime", 0),
        "executor_cpu_ms": stage.get("executorCpuTime", 0) / 1e6,
        "shuffle_bytes": stage.get("shuffleReadBytes", 0) + stage.get("shuffleWriteBytes", 0),
        "output_bytes": stage.get("outputBytes", 0),
    }


def attribute(spans: list[Span], jobs: list[dict], stages: list[dict],
              group_jobs: dict[str, list[int]]) -> dict:
    """Assign every job to a span and every stage attempt to one job.

    ``jobs``: REST job records (jobId, stageIds, submissionTime);
    ``stages``: REST stage-attempt records; ``group_jobs``: span id → job ids
    from the status tracker. A stage listed by several jobs (a reused
    shuffle) belongs to the lowest job id, the one that ran it.
    → {"span_of_job", "window_jobs", "per_span", "unattributed", "total"}."""
    by_id = {s.id: s for s in spans}
    span_of_job: dict[int, str] = {}
    for sid, jids in group_jobs.items():
        for j in jids:
            span_of_job[j] = sid
    window_jobs = 0
    depth = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.id] = d
    for job in jobs:
        jid = job["jobId"]
        if jid in span_of_job or "submissionTime" not in job:
            continue
        t = _epoch(job["submissionTime"])
        # ms-resolution REST timestamps: allow the job to have been
        # submitted within the millisecond the span opened or closed in
        open_ = [s for s in spans if s.start - 0.001 <= t <= s.end + 0.001]
        if open_:
            span_of_job[jid] = max(open_, key=lambda s: (depth[s.id], s.start)).id
            window_jobs += 1
    owner: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for st in job.get("stageIds", []):
            owner.setdefault(st, job["jobId"])
    zero = dict.fromkeys(STAGE_FIELDS, 0.0)
    per_span: dict[str, dict] = {}
    unattributed = dict(zero, jobs=0)
    total = dict(zero, jobs=len(jobs))
    for job in jobs:
        sid = span_of_job.get(job["jobId"])
        if sid is None:
            unattributed["jobs"] += 1
        else:
            per_span.setdefault(sid, dict(zero, jobs=0))["jobs"] += 1
    for st in stages:
        m = stage_metrics(st)
        jid = owner.get(st["stageId"])
        sid = span_of_job.get(jid) if jid is not None else None
        acc = unattributed if sid is None else per_span.setdefault(sid, dict(zero, jobs=0))
        for k, v in m.items():
            acc[k] += v
            total[k] += v
    return {"span_of_job": span_of_job, "window_jobs": window_jobs,
            "per_span": per_span, "unattributed": unattributed, "total": total}


def collect_and_attribute(sc, spans: list[Span]) -> tuple[dict, list[dict]]:
    """Wait for the status store to settle, then pull jobs, stages and SQL
    executions (for scan row counts) → (attribution, sql executions).

    The attribution also carries ``rest_total``, taken apart from the
    stage list it partitions: the executor run time of every stage attempt
    the jobs list, from the unfiltered stage endpoint, and the task count
    of the executor endpoint."""
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.1)
    prev = None
    for _ in range(50):  # listener events arrive asynchronously
        jobs = _rest(sc, "jobs")
        stages = _rest(sc, "stages?status=complete&status=failed")
        key = (len(jobs), sum(s.get("numCompleteTasks", 0) for s in stages))
        if key == prev and all(j.get("status") != "RUNNING" for j in jobs):
            break
        prev = key
        time.sleep(0.2)
    group_jobs = {s.id: list(tracker.getJobIdsForGroup(s.id)) for s in spans}
    sql = _rest(sc, "sql?details=true&planDescription=false&offset=0&length=1000000")
    listed = {st for j in jobs for st in j.get("stageIds", [])}
    executors = _rest(sc, "allexecutors")
    rest_total = {
        "executor_run_ms": float(sum(st.get("executorRunTime", 0) for st in _rest(sc, "stages")
                                     if st["stageId"] in listed)),
        "tasks": float(sum(e.get("completedTasks", 0) + e.get("failedTasks", 0)
                           for e in executors)),
    }
    res = attribute(spans, jobs, stages, group_jobs)
    res["rest_total"] = rest_total
    return res, sql
