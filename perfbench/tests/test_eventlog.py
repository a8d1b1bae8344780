"""The event-log reader over a small canned rolling log."""

import os
import shutil

import pytest

from perfbench.eventlog import event_files, merged, read_events, summarize

CANNED = os.path.join(os.path.dirname(__file__), "data")


def test_rolling_files_are_read_in_numeric_order():
    names = [os.path.basename(f) for f in event_files(CANNED)]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_summarize_attributes_work_to_job_groups():
    groups = summarize(read_events(CANNED))
    assert set(groups) == {"op1/jobA", "op2/jobB"}  # the ungrouped job is left out
    a = groups["op1/jobA"]
    assert a.jobs == {0} and a.stages == {0, 1}
    assert (a.tasks, a.failed_tasks, a.run_ms) == (3, 1, 44)
    assert a.cpu_ns == 44 * 500_000 and a.gc_ms == 3
    assert (a.input_bytes, a.shuffle_write_bytes, a.peak_exec_memory) == (100, 50, 1000)
    # executor-side SQL metrics, scaled by their metric type
    assert a.sql_sum("duration", "WholeStageCodegen") == pytest.approx(0.005)
    assert a.sql_sum("scan time") == pytest.approx(0.007)
    assert a.sql_sum("time to run Python workers") == pytest.approx(2.0)
    # driver-side metrics: the last update of an accumulator wins
    assert a.sql_sum("number of files read", "Scan") == 5
    assert a.sql_sum("data size", "BroadcastExchange") == 4096
    assert a.sql_sum("time to build", "BroadcastExchange") == pytest.approx(0.002)
    assert a.sql_sum("data size", "Exchange") == 0


def test_task_skew_and_merge():
    groups = summarize(read_events(CANNED))
    assert groups["op1/jobA"].task_skew_max() == pytest.approx(30 / 20)
    assert groups["op2/jobB"].task_skew_max() == 1.0
    both = merged(groups, "op")
    assert (both.tasks, both.run_ms, both.jobs) == (4, 45, {0, 2})
    assert merged(groups, "op1/").tasks == 3


def test_compressed_log_is_refused(tmp_path):
    app = tmp_path / "eventlog_v2_local-2"
    app.mkdir()
    shutil.copy(event_files(CANNED)[0], app / "events_1_local-2.zstd")
    with pytest.raises(ValueError, match="compress"):
        event_files(str(tmp_path))


def test_missing_log_is_refused(tmp_path):
    with pytest.raises(ValueError, match="no event log"):
        event_files(str(tmp_path))
