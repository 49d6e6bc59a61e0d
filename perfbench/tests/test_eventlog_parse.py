"""The event-log parser on a small recorded log.

``data/small_eventlog.jsonl`` is a trimmed Spark 4.1 event log of two
actions on ``local[2]``: a pandas UDF written to the noop sink under job
group ``g_udf`` (2 jobs: the shuffle map stage and the UDF stage), then an
ungrouped ``groupBy().count()`` collect (2 jobs)."""

import os

import pytest

from perfbench.eventlog import UNGROUPED, parse, parse_file, total

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


def test_jobs_and_tasks_are_attributed_to_their_group():
    g = parse_file(LOG)
    assert set(g) == {"g_udf", UNGROUPED}
    assert g["g_udf"].jobs == 2 and g[UNGROUPED].jobs == 2
    assert g["g_udf"].tasks == 4 and g[UNGROUPED].tasks == 3
    assert total(g).failed_tasks == 0


def test_task_metrics_and_python_sql_metrics():
    g = parse_file(LOG)
    udf, plain = g["g_udf"], g[UNGROUPED]
    assert udf.python_s > 0 and plain.python_s == 0
    assert udf.arrow_bytes > 0 and plain.arrow_bytes == 0
    assert udf.cpu_s > 0 and plain.cpu_s > 0
    assert udf.shuffle_bytes == 2636 + 3695  # the two map tasks' writes
    assert udf.out_bytes == 0 and udf.spill_bytes == 0
    assert total(g, {"g_udf"}).tasks == 4
    assert total(g).cpu_s == pytest.approx(udf.cpu_s + plain.cpu_s)


def test_failed_tasks_are_counted():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],'
        ' "Properties": {"spark.jobGroup.id": "scored_pairs"}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason":'
        ' {"Reason": "ExceptionFailure"}, "Task Info": {"Accumulables": []}}',
    ]
    g = parse(lines)["scored_pairs"]
    assert (g.jobs, g.tasks, g.failed_tasks) == (1, 1, 1)
