"""Event-log parser on a canned rolling log (three segments)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import eventlog  # noqa: E402

CANNED = Path(__file__).resolve().parent / "data" / "eventlog_v2_local-1700000000000"


def test_segments_are_read_in_numeric_order():
    names = [ln for ln in eventlog.log_lines(CANNED) if '"SparkListenerJobEnd"' in ln]
    # job 0 starts in events_2 and ends in events_10: read as text order,
    # events_10 would come first and the end would precede the start
    assert names and eventlog.load(CANNED).jobs[0].end_ms == 2700


def test_jobs_stages_and_task_totals():
    log = eventlog.load(CANNED)
    j0, j1 = log.jobs[0], log.jobs[1]
    assert (j0.start_ms, j0.end_ms, j0.description, j0.stage_ids) == (
        2000, 2700, "q3_shipping_priority#0", [0, 1])
    assert (j1.end_ms, j1.stage_ids) == (2900, [])

    s0 = log.stages[(0, 0)]
    assert (s0.tasks, s0.run_ms, s0.cpu_ns, s0.gc_ms) == (2, 500, 400_000_000, 10)
    assert (s0.input_bytes, s0.shuffle_write_bytes, s0.spill_bytes, s0.failed_tasks) == (5120, 800, 64, 1)
    assert (s0.py_sent_bytes, s0.py_returned_bytes) == (2048, 1024)

    retry = log.stages[(1, 1)]
    assert (retry.attempt, retry.shuffle_read_bytes, retry.py_sent_bytes) == (1, 800, 100)
    assert [s.attempt for s in log.job_stages(j0)] == [0, 0, 1]


def test_sql_scan_file_counts():
    sql = eventlog.load(CANNED).sql
    noop, compact = sql[0], sql[1]
    assert (noop.start_ms, noop.description) == (1990, "read_latest#0")
    assert noop.driver_metric(eventlog.FILES_READ) == 2
    assert noop.driver_metric("number of partitions read") == 1
    # the scan appears only in the AQE re-plan; its metric still counts
    assert compact.driver_metric(eventlog.FILES_READ) == 6
    assert 7 not in sql  # updates for an execution that never started are dropped
