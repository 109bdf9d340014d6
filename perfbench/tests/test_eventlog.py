import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog.json")


def test_recorded_log_groups():
    # recorded from: span "outer" ran a groupBy drained to noop (two jobs,
    # the second re-using the first's shuffle), span "inner" nested in it
    # wrote 5000 rows of parquet in two tasks
    groups = eventlog.read_file(DATA)
    assert set(groups) == {"outer#0", "inner#0"}

    outer = groups["outer#0"]
    assert (outer.jobs, outer.stages) == (2, 2)
    assert outer.stage_ids == {3, 5}  # stage 4 was skipped: listed, never completed
    assert outer.shuffle_write_bytes == 283 + 286
    assert outer.task_run_s == pytest.approx((152 + 168 + 17) / 1e3)
    assert outer.task_cpu_s == pytest.approx((107977914 + 72405748 + 14698757) / 1e9)
    assert outer.output_records == 0

    inner = groups["inner#0"]
    assert (inner.jobs, inner.stages) == (1, 1)
    assert inner.output_records == 5000
    assert inner.output_bytes == 10496 + 10503


def test_ungrouped_jobs():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {}}),
        json.dumps({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Metrics": {"Executor Run Time": 5, "Executor CPU Time": 1000},
        }),
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}}),
        "",
    ]
    (group,) = eventlog.read_groups(lines).items()
    assert group[0] == eventlog.NO_GROUP
    assert (group[1].jobs, group[1].stages) == (1, 1)
