"""The event-log reader on a tiny recorded log.

``data/tiny_eventlog.json`` was recorded from Spark 4.1 (a 4-partition
group-by and a 2-partition count on ``local[2]``, AQE off) and trimmed
to the fields the reader uses plus a few neighbours, with call sites and
environment removed.
"""

import os
import shutil

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_eventlog.json")


def _check(log):
    assert sorted(log.jobs) == [0, 1]
    assert log.jobs[0] == pytest.approx(1792222094.493)
    assert sorted(log.stages) == [0, 1, 2, 3]
    assert [len(log.stages[s].tasks) for s in range(4)] == [4, 4, 2, 1]
    assert sum(t.shuffle_write for s in log.stages.values() for t in s.tasks) == 4 * 212 + 2 * 59
    assert all(t.disk_spill == 0 for s in log.stages.values() for t in s.tasks)
    first = log.stages[0]
    assert first.submitted == pytest.approx(1792222094.514)
    assert first.skew() == pytest.approx(0.375 / ((0.348 + 0.077) / 2), rel=1e-3)
    assert log.stages[3].skew() is None  # one task: no skew


def test_reads_single_file():
    _check(eventlog.read(DATA))


def test_reads_rolled_directory(tmp_path):
    """Spark 4's default layout: ``eventlog_v2_<app>/events_<n>_<app>``
    plus an ``appstatus`` marker; files are read in index order."""
    with open(DATA) as f:
        lines = f.readlines()
    app = tmp_path / "logs" / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    half = len(lines) // 2
    (app / "events_10_local-1").write_text("")  # index order, not name order
    (app / "events_2_local-1").write_text("".join(lines[half:]))
    (app / "events_1_local-1").write_text("".join(lines[:half]))
    (app / "appstatus_local-1").write_text("")
    found = eventlog.find_log(str(tmp_path / "logs"))
    assert found == str(app)
    _check(eventlog.read(found))


def test_find_log_wants_exactly_one(tmp_path):
    shutil.copy(DATA, tmp_path / "a")
    shutil.copy(DATA, tmp_path / "b")
    with pytest.raises(ValueError):
        eventlog.find_log(str(tmp_path))


UDF = os.path.join(os.path.dirname(DATA), "tiny_eventlog_udf.json")


def test_python_worker_metrics():
    """``data/tiny_eventlog_udf.json``: a pandas UDF over two partitions
    of 500 rows on ``local[2]`` (AQE off), then a sum; recorded from
    Spark 4.1 and trimmed the same way, keeping the SQL accumulables
    and the plan's node and metric tree."""
    log = eventlog.read(UDF)
    udf, final = log.stages[0].tasks, log.stages[1].tasks
    assert [t.python_run_ms for t in udf] == [1758, 1740]
    assert sum(t.python_boot_ms for t in udf) == 1078 + 674 + 1071 + 664
    assert sum(t.python_sent for t in udf) == 2 * 4208
    # the ArrowEvalPython node's output rows, not the Range's or the
    # aggregates' rows under the same metric name
    assert sum(t.python_rows for t in udf) == 1000
    assert all(
        (t.python_run_ms, t.python_boot_ms, t.python_sent, t.python_rows) == (0, 0, 0, 0)
        for t in final
    )


def test_python_rows_from_flat_aqe_metric_list():
    """AQE announces the metrics of the plan nodes it adds as one flat
    list (``SparkListenerSQLAdaptiveSQLMetricUpdates``); only the row
    count that follows a node's Python metrics is the workers' output."""
    names = ["duration", "number of output rows", "time to run Python workers",
             "data returned from Python workers", "time to start Python workers",
             "time to initialize Python workers", "data sent to Python workers",
             "number of output rows", "number of output rows"]
    metrics = [{"name": n, "accumulatorId": i} for i, n in enumerate(names)]
    out = set()
    eventlog._python_row_ids(metrics, out)
    assert out == {7}
