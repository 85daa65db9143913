import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.json")


def test_parse_collects_jobs_tasks_and_written_files():
    log = eventlog.parse(LOG)
    assert sorted(log.jobs) == [0, 1, 2]
    j0 = log.jobs[0]
    assert (j0.submit, j0.end) == (1000.0, 1001.5)
    assert j0.metrics["tasks"] == 3
    assert j0.metrics["failed_tasks"] == 1
    assert j0.metrics["executor_run_s"] == pytest.approx(1.05)
    assert j0.metrics["executor_cpu_s"] == pytest.approx(0.41)
    assert j0.metrics["python_run_s"] == pytest.approx(0.25)
    assert j0.metrics["to_python_mb"] == pytest.approx(2.0)
    assert j0.metrics["shuffle_write_mb"] == pytest.approx(1.0)
    assert j0.stages == {0, 1}
    # only the accumulator named "number of written files" counts
    assert log.executions == {3: [1002.0, 4.0]}


def test_attribute_by_submission_time():
    log = eventlog.parse(LOG)
    steps = [("step.fit", 999.0, 1001.0), ("step.extend", 1001.9, 1003.5),
             ("step.empty", 1004.0, 1005.0)]
    fit, extend, empty = eventlog.attribute(log, steps)
    assert fit["jobs"] == 1 and fit["stages"] == 2
    # the job ran past the step's end: job_s is clipped to the step
    assert fit["job_s"] == pytest.approx(1.0)
    assert fit["task_wait_s"] == pytest.approx(1.05 - 0.41)
    assert extend["jobs"] == 1
    assert extend["job_s"] == pytest.approx(0.9)
    assert extend["output_mb"] == pytest.approx(3.0)
    assert extend["spill_mb"] == pytest.approx(1.0)
    assert extend["output_files"] == 4
    assert empty["jobs"] == 0 and empty["job_s"] == 0.0
    # job 2 was submitted outside every step and is charged to none
    assert sum(s["jobs"] for s in (fit, extend, empty)) == 2


def test_find_log_wants_one_finished_log(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-1").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("app-1")
