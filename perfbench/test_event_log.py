"""Attribution of Spark event-log counters to the benchmark's spans.

    python3 -m pytest perfbench/test_event_log.py -q

Builds a small event log by hand: under adaptive query execution a shuffle
stage runs in one job and a later job lists it again, skipped. The stage's
counters must count once, for the span of the job that ran it.
"""

from __future__ import annotations

import json

from perfbench import layers, measure

_SHUFFLE_W = "internal.metrics.shuffle.write.bytesWritten"


def _events(desc_map_job: str, desc_result_job: str) -> list[dict]:
    def props(desc):
        return {"spark.job.description": desc}

    def stage_done(sid, shuffle_bytes):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Accumulables": [{"ID": 100 + sid, "Name": _SHUFFLE_W,
                                               "Value": shuffle_bytes}]}}

    def task(sid, ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Metrics": {"Executor Run Time": ms}}

    return [
        # job 0 runs the shuffle map stage 0
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": props(desc_map_job)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": props(desc_map_job)},
        task(0, 200), task(0, 400),
        stage_done(0, 5000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # job 1 lists stage 0 again (skipped) and runs result stage 1
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [0, 1], "Properties": props(desc_result_job)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": props(desc_result_job)},
        task(1, 100),
        stage_done(1, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1800},
    ]


def _log(tmp_path, events) -> str:
    with open(tmp_path / "events_1_local-1", "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
    return str(tmp_path)


def test_reused_stage_counts_once(tmp_path):
    log = measure.read_event_log(_log(tmp_path, _events("1:tiles.rollup.act",
                                                         "1:tiles.rollup.act")))
    assert len(log["jobs"]) == 2
    assert [st["desc"] for st in log["stages"]] == ["1:tiles.rollup.act"] * 2
    assert [len(st["task_times"]) for st in log["stages"]] == [2, 1]

    passes = [None, {"start": 1.0, "end": 2.0, "digests": {},
                     "files_written": 0, "bytes_written": 0}]
    m = layers.per_layer([], log, passes, 4, 0.0, 0.0, 0.0)
    assert m["tiles.shuffle_bytes"][0] == 5000
    assert m["spark.shuffle_write_bytes"][0] == 5000
    assert m["spark.stages"][0] == 2
    assert m["spark.tasks"][0] == 3
    assert m["spark.jobs"][0] == 2


def test_stage_belongs_to_the_job_that_ran_it(tmp_path):
    log = measure.read_event_log(_log(tmp_path, _events("1:joins.pip.act",
                                                         "1:tiles.rollup.act")))
    passes = [None, {"start": 1.0, "end": 2.0, "digests": {},
                     "files_written": 0, "bytes_written": 0}]
    m = layers.per_layer([], log, passes, 4, 0.0, 0.0, 0.0)
    assert m["joins.pip_shuffle_bytes"][0] == 5000
    assert m["tiles.shuffle_bytes"][0] == 0
