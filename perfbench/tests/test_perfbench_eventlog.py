"""Event-log parsing and span attribution, on hand-written logs."""

import json

import pytest

import eventlog as tr


def job_start(jid, t, stages, group=None, names=()):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props,
            "Stage Infos": [{"Stage ID": s, "Stage Name": n} for s, n in zip(stages, names)]}


def job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


def stage_sub(sid, t):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Submission Time": t}}


def task(sid, run_ms, shuffle_b=0, wait_ms=0, spill_b=0, py_sent=None):
    accs = [{"Name": tr.PY_SENT, "Update": str(py_sent)}] if py_sent is not None else []
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Metrics": {"Executor Run Time": run_ms, "Disk Bytes Spilled": spill_b,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
                             "Shuffle Read Metrics": {"Fetch Wait Time": wait_ms,
                                                      "Total Records Read": 3}},
            "Task Info": {"Accumulables": accs}}


def lines(*events):
    return [json.dumps(e) + "\n" for e in events]


def test_parse_sums_task_metrics_per_stage_and_flags_checkpoints():
    jobs, stages = tr.parse_event_log(lines(
        job_start(0, 1000, [0], "pb:0", ["localCheckpoint at X.java:0"]),
        stage_sub(0, 1001),
        task(0, 40, shuffle_b=1024, wait_ms=5, spill_b=2048, py_sent=100),
        task(0, 60, py_sent=50),
        job_end(0, 1100),
        job_start(1, 1200, [1], None, ["collect at y.py:3"]),
        job_end(1, 1300),
    ))
    assert jobs[0].checkpoint and not jobs[1].checkpoint
    assert jobs[0].group == "pb:0" and jobs[1].group is None
    assert jobs[0].end_ms == 1100
    st = stages[0]
    assert st.exec_run_ms == 100 and st.shuffle_write_b == 1024
    assert st.fetch_wait_ms == 5 and st.spill_b == 2048
    assert st.py_sent_b == 150 and st.records_read == 6


def test_a_skipped_stage_stays_with_the_job_that_ran_it():
    jobs, _ = tr.parse_event_log(lines(
        job_start(0, 1000, [0, 1]), stage_sub(0, 1001), stage_sub(1, 1050), job_end(0, 1100),
        # job 1 reuses stage 0's shuffle output: stage 0 is listed, not rerun
        job_start(1, 2000, [0, 2]), stage_sub(2, 2001), job_end(1, 2100),
    ))
    assert sorted(jobs[0].owned_stages) == [0, 1]
    assert jobs[1].owned_stages == [2]


def test_attribution_by_group_then_by_submission_time():
    spans = [tr.Span("er", "a", 1000, 2000),
             tr.Span("pipelines.dump", "b", 2000, 3000),
             tr.Span("er", "c", 3500, 4000)]
    jobs = {
        0: tr.Job(0, 1500, 1600, group="pb:0"),
        # a pool-thread job without a group, submitted while span 1 is open
        1: tr.Job(1, 2500, 2600),
        # tagged for span 1 although submitted during span 0
        2: tr.Job(2, 1200, 1300, group="pb:1"),
        # inside the traced window but in the gap between spans
        3: tr.Job(3, 3200, 3300),
        # outside the traced window: not counted
        4: tr.Job(4, 9000, 9100),
    }
    by_span, unattributed = tr.attribute(jobs, spans)
    assert [j.job_id for j in by_span[0]] == [0]
    assert sorted(j.job_id for j in by_span[1]) == [1, 2]
    assert 2 not in by_span
    assert unattributed == 1


def test_driver_time_is_wall_minus_union_of_job_intervals():
    spans = [tr.Span("er", "a", 0, 10_000)]
    jobs = {0: tr.Job(0, 1000, 4000, owned_stages=[0]),
            1: tr.Job(1, 3000, 5000, owned_stages=[1])}
    stages = {0: tr.StageTotals(exec_run_ms=500), 1: tr.StageTotals(exec_run_ms=250)}
    (row,) = tr.span_rows(spans, {0: list(jobs.values())}, stages)
    assert row["wall_s"] == 10.0
    assert row["driver_s"] == pytest.approx(6.0)  # jobs cover 1..5 s
    assert row["jobs"] == 2 and row["exec_run_s"] == 0.75


def test_totals_sum_fields_per_layer():
    rows = [
        {"layer": "er", "wall_s": 1.0, "jobs": 2},
        {"layer": "er", "wall_s": 2.0, "jobs": 1},
        {"layer": "operators.pq", "wall_s": 0.5, "jobs": 4},
    ]
    got = tr.totals(rows, lambda r: r["layer"], ("wall_s", "jobs"))
    assert got == {"er": {"wall_s": 3.0, "jobs": 3.0},
                   "operators.pq": {"wall_s": 0.5, "jobs": 4.0}}
