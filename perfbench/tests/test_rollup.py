"""The event-log roll-up on a small synthetic log gives the expected sums."""

import json

from perfbench.trace import SPANS, Span, per_layer_units, rollup_by_group, span_metrics


def _job(job, stages, group):
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}


def _stage_done(sid):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": f"s{sid}",
                           "Number of Tasks": 1, "Accumulables": []}}


def _task(sid, run_ms, *, launch=0, finish=None, deser=0, ser=0, got=0, fetch=0, rec_in=0,
          rec_shuffle=0, shuffle_bytes=0, spill=0, reason="Success"):
    finish = launch + run_ms + deser + ser if finish is None else finish
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": got,
                      "Failed": reason != "Success"},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor Deserialize Time": deser,
            "Result Serialization Time": ser, "Executor CPU Time": 0,
            "Input Metrics": {"Records Read": rec_in},
            "Shuffle Read Metrics": {"Total Records Read": rec_shuffle, "Fetch Wait Time": fetch},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes, "Shuffle Records Written": 0},
            "Disk Bytes Spilled": spill,
        },
    }


def _write(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
        f.write('{"Event": "SparkListenerTaskEnd", "trunc')  # in-progress tail line


def test_rollup_sums_by_job_group(tmp_path):
    log = tmp_path / "app-1"
    _write(log, [
        _job(0, [0, 1], "scoring.query_terms#1"),
        _task(0, 100, rec_in=10, shuffle_bytes=500),
        _task(0, 200, launch=0, finish=260, deser=20, ser=10, rec_in=5),  # 30 ms delay
        _stage_done(0),
        _task(1, 50, fetch=7, rec_shuffle=4),
        _stage_done(1),
        # job 1 re-lists stage 1 (skipped: it stays with job 0) and runs stage 2
        _job(1, [1, 2], "scoring.score#2"),
        _task(2, 1000, rec_in=100, rec_shuffle=40, shuffle_bytes=2000, spill=64),
        _task(2, 30, reason="ExceptionFailure"),
        _stage_done(2),
        # a stage that never completes counts no stage
        _job(2, [3], "scoring.score#2"),
        _task(3, 5),
    ])
    groups = rollup_by_group([str(tmp_path)])
    qt = groups["scoring.query_terms#1"]
    assert qt == {"jobs": 1, "stages": 2, "task_busy_s": 0.35, "task_wait_s": 0.037,
                  "shuffle_write_bytes": 500, "spill_bytes": 0, "records_read": 19, "failed_tasks": 0}
    sc = groups["scoring.score#2"]
    assert sc["jobs"] == 2 and sc["stages"] == 1
    assert abs(sc["task_busy_s"] - 1.03) < 1e-12
    assert sc["records_read"] == 140
    assert (sc["shuffle_write_bytes"], sc["spill_bytes"], sc["failed_tasks"]) == (2000, 64, 1)


def test_span_self_values_subtract_the_prefix(tmp_path):
    groups = {
        "scoring.query_terms#1": {"jobs": 2, "stages": 2, "task_busy_s": 0.5, "task_wait_s": 0.1,
                                  "shuffle_write_bytes": 100, "spill_bytes": 0,
                                  "records_read": 10, "failed_tasks": 0},
        "scoring.score#2": {"jobs": 5, "stages": 6, "task_busy_s": 2.5, "task_wait_s": 0.3,
                            "shuffle_write_bytes": 900, "spill_bytes": 8,
                            "records_read": 410, "failed_tasks": 0},
    }
    spans = [
        Span("scoring.query_terms", "scoring.query_terms#1", 1.0, None),
        Span("scoring.score", "scoring.score#2", 4.0, "scoring.query_terms#1", results=100),
    ]
    m = span_metrics(spans, groups, job_floor_s=0.09)
    assert m["scoring.query_terms.self_s"] == 1.0
    assert m["scoring.score.self_s"] == 3.0
    assert m["scoring.score.jobs"] == 3
    assert m["scoring.score.task_busy_s"] == 2.0
    assert m["scoring.score.records_read"] == 400
    assert m["scoring.score.records_per_result"] == 4.0
    assert m["scoring.score.spill_bytes"] == 8
    # self times of a chain sum to its outermost wall
    assert m["scoring.query_terms.self_s"] + m["scoring.score.self_s"] == 4.0
    # spans the run never entered report 0; every named metric is present
    assert m["blocks.wand_search.self_s"] == 0.0
    assert m["blocks.wand_search.records_per_result"] == 0.0
    assert m["session.job_floor_s"] == 0.09
    assert set(m) == set(per_layer_units())
    assert len(per_layer_units()) == len(SPANS) * 9 + 3


def test_span_metrics_are_means_over_instances():
    groups = {"a#1": {"jobs": 2}, "a#2": {"jobs": 4}}
    full = {k: 0 for k in ("stages", "task_busy_s", "task_wait_s", "shuffle_write_bytes",
                           "spill_bytes", "records_read", "failed_tasks")}
    groups = {g: {**full, **v} for g, v in groups.items()}
    spans = [Span("fusion.fuse", "a#1", 1.0, None), Span("fusion.fuse", "a#2", 2.0, None)]
    m = span_metrics(spans, groups, 0.1)
    assert m["fusion.fuse.jobs"] == 3
    assert m["fusion.fuse.self_s"] == 1.5
