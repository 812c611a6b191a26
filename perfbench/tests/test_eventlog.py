"""Event-log parsing and span attribution on a tiny synthetic log."""

import json

import pytest

from eventlog import Span, attribute, covered, read_log


def _job(jid, group, start, end, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start * 1000,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end * 1000},
    ]


def _stage(sid, tasks, run_ms, shuffle_bytes=0):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": tasks, "Accumulables": [
            {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": run_ms},
            {"ID": 2, "Name": "internal.metrics.shuffle.write.bytesWritten", "Value": str(shuffle_bytes)},
            {"ID": 3, "Name": "number of output rows", "Value": "7"},
        ]}}


@pytest.fixture
def log(tmp_path):
    events = [{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}]
    # span a: two overlapping jobs; job 1 reuses job 0's stage 0
    events += _job(0, "a", 101.5, 102.5, [0])
    events += [_stage(0, 4, 300, 50)]
    events += _job(1, "a", 102.0, 103.0, [0, 1])
    events += [_stage(1, 2, 100)]
    # span b: two jobs at once from a 2-worker pool; the pool threads were
    # started through inheritable_thread_target, so both carry b's group
    events += _job(2, "b", 106.5, 107.5, [2])
    events += _job(3, "b", 107.0, 108.5, [3, 4])
    events += [_stage(2, 1, 10), _stage(3, 1, 20)]  # stage 4 was skipped
    # a job outside every span
    events += _job(4, None, 109.2, 109.4, [5])
    events += [_stage(5, 1, 5)]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def test_read_log(log):
    jobs, stages = read_log(log)
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    assert jobs[3].group == "b" and jobs[4].group is None
    assert (jobs[1].start, jobs[1].end) == (102.0, 103.0)
    assert sorted(stages) == [0, 1, 2, 3, 5]
    assert stages[0].sums == {"exec_run_ms": 300.0, "shuffle_write_bytes": 50.0}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(1, 3), (2, 4), (6, 7)], 2.5, 6.5) == pytest.approx(2.0)
    assert covered([], 0, 10) == 0


def test_attribution(log):
    jobs, stages = read_log(log)
    spans = [
        Span("r", "round", 100.0, 110.0),
        Span("a", "io.to_table.upsert", 101.0, 105.0, "r"),
        Span("b", "similarity.write_ivfpq_index", 106.0, 109.0, "r"),
    ]
    att = attribute(spans, jobs, stages)
    a, b, r = att["a"], att["b"], att["r"]
    # driver time: wall minus the union of job intervals
    assert a["driver_s"] == pytest.approx(4.0 - 1.5)
    assert b["driver_s"] == pytest.approx(3.0 - 2.0)  # pool jobs overlap: counted once
    # a stage listed by two jobs counts once; a skipped stage not at all
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 2, 6)
    assert (b["jobs"], b["stages"]) == (2, 2)
    assert a["exec_run_ms"] == 400 and a["shuffle_write_bytes"] == 50
    # the parent holds its children's jobs, never the unattributed one
    assert r["jobs"] == 4
    assert r["driver_s"] == pytest.approx(10.0 - 1.5 - 2.0)
    # self time: wall minus what the child spans cover
    assert r["self_s"] == pytest.approx(10.0 - 4.0 - 3.0)
    assert a["self_s"] == pytest.approx(4.0)
