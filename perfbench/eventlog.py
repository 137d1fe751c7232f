"""Per-layer breakdown from the Spark event log.

The benchmark opens a span around every public call it makes into the
engine (and the action that materializes the call's result) and tags
the span's jobs with a job group ``pb:<span index>``. Jobs submitted
from threads the engine starts itself (``export_matrices`` pivots from
a thread pool) carry no job group, because pool threads do not inherit
it; they are assigned to the span that was open when they were
submitted. Per layer the module then sums wall time, driver time (span
wall minus the union of its jobs' run intervals), jobs, executor run
time, shuffle, fetch wait, spill and Python-worker traffic.

Read the log with ``spark.eventLog.compress=false``: it is plain JSON
lines.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

from stats import union_length

GROUP_PREFIX = "pb:"
MB = 1024.0 * 1024.0

# SQL metric names of the Python-worker nodes (pyspark 4.1)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"

LAYER_FIELDS = (
    "wall_s", "driver_s", "jobs", "exec_run_s",
    "shuffle_write_mb", "fetch_wait_s", "spill_mb",
)
PY_FIELDS = ("py_sent_mb", "py_recv_mb", "py_run_s")


@dataclass
class Span:
    layer: str
    name: str
    start_ms: float
    end_ms: float = 0.0


@dataclass
class StageTotals:
    exec_run_ms: float = 0.0
    shuffle_write_b: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_b: float = 0.0
    records_read: float = 0.0
    py_sent_b: float = 0.0
    py_recv_b: float = 0.0
    py_run_ms: float = 0.0


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float = 0.0
    group: str | None = None
    stage_ids: list = field(default_factory=list)
    checkpoint: bool = False
    owned_stages: list = field(default_factory=list)


def _acc_value(acc: dict) -> float:
    try:
        return float(acc.get("Update", 0))
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """Jobs and per-stage task totals from event-log JSON lines.

    Each stage is charged to one job: the latest-submitted job that
    lists the stage and was submitted no later than the stage.
    """
    jobs: dict[int, Job] = {}
    stage_submit: dict[int, float] = {}
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            names = [s.get("Stage Name", "") for s in e.get("Stage Infos", [])]
            jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"],
                submit_ms=float(e["Submission Time"]),
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(e.get("Stage IDs", [])),
                checkpoint=any("heckpoint at" in n for n in names),
            )
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = float(e["Completion Time"])
        elif ev == "SparkListenerStageSubmitted":
            info = e.get("Stage Info", {})
            stage_submit[info.get("Stage ID")] = float(info.get("Submission Time") or 0)
        elif ev == "SparkListenerTaskEnd":
            st = stages[e["Stage ID"]]
            tm = e.get("Task Metrics") or {}
            st.exec_run_ms += tm.get("Executor Run Time", 0)
            st.spill_b += tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            st.records_read += sr.get("Total Records Read", 0)
            st.records_read += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_SENT:
                    st.py_sent_b += _acc_value(acc)
                elif name == PY_RECV:
                    st.py_recv_b += _acc_value(acc)
                elif name == PY_RUN:
                    st.py_run_ms += _acc_value(acc)
    owner: dict[int, int] = {}
    for j in sorted(jobs.values(), key=lambda j: (j.submit_ms, j.job_id)):
        for sid in j.stage_ids:
            if sid not in owner or j.submit_ms <= stage_submit.get(sid, j.submit_ms):
                owner[sid] = j.job_id
    for sid, jid in owner.items():
        jobs[jid].owned_stages.append(sid)
    return jobs, dict(stages)


def attribute(jobs: dict[int, Job], spans: list[Span]) -> tuple[dict[int, list[Job]], int]:
    """Map span index -> its jobs. A job tagged ``pb:<i>`` goes to span
    i; an untagged job goes to the latest-started span open at its
    submission time. Returns (mapping, untagged jobs inside the traced
    window that no span covers)."""
    out: dict[int, list[Job]] = defaultdict(list)
    if not spans:
        return out, 0
    lo = min(s.start_ms for s in spans)
    hi = max(s.end_ms for s in spans)
    order = sorted(range(len(spans)), key=lambda i: spans[i].start_ms)
    unattributed = 0
    for j in jobs.values():
        if j.group and j.group.startswith(GROUP_PREFIX):
            i = int(j.group[len(GROUP_PREFIX):])
            if 0 <= i < len(spans):
                out[i].append(j)
                continue
        hit = None
        for i in order:
            s = spans[i]
            if s.start_ms > j.submit_ms:
                break
            if j.submit_ms <= s.end_ms:
                hit = i
        if hit is not None:
            out[hit].append(j)
        elif lo <= j.submit_ms <= hi:
            unattributed += 1
    return out, unattributed


def span_rows(spans: list[Span], by_span: dict[int, list[Job]],
              stages: dict[int, StageTotals]) -> list[dict]:
    """One row of raw totals per span."""
    rows = []
    for i, s in enumerate(spans):
        js = by_span.get(i, [])
        intervals = [(max(j.submit_ms, s.start_ms), min(j.end_ms or s.end_ms, s.end_ms))
                     for j in js]
        wall = (s.end_ms - s.start_ms) / 1000.0
        r = dict(layer=s.layer, name=s.name, wall_s=wall,
                 driver_s=max(0.0, wall - union_length(
                     [iv for iv in intervals if iv[1] > iv[0]]) / 1000.0),
                 jobs=len(js),
                 checkpoint_jobs=sum(j.checkpoint for j in js))
        tot = StageTotals()
        for j in js:
            for sid in j.owned_stages:
                st = stages.get(sid)
                if st is None:
                    continue
                for k in tot.__dict__:
                    setattr(tot, k, getattr(tot, k) + getattr(st, k))
        r.update(exec_run_s=tot.exec_run_ms / 1000.0,
                 shuffle_write_mb=tot.shuffle_write_b / MB,
                 fetch_wait_s=tot.fetch_wait_ms / 1000.0,
                 spill_mb=tot.spill_b / MB,
                 records_read=tot.records_read,
                 py_sent_mb=tot.py_sent_b / MB,
                 py_recv_mb=tot.py_recv_b / MB,
                 py_run_s=tot.py_run_ms / 1000.0)
        rows.append(r)
    return rows


def totals(rows: list[dict], key, fields) -> dict:
    """Sums of ``fields`` over rows, grouped by key(row)."""
    out: dict = defaultdict(lambda: dict.fromkeys(fields, 0.0))
    for r in rows:
        for f in fields:
            out[key(r)][f] += r[f]
    return dict(out)
