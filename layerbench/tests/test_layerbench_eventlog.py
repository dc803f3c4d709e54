"""The event-log folder and the span roll-up, without a Spark session.

``data/events_1_local-sample.zstd`` was recorded from Spark 4.1 (zstd,
rolling layout) on ``local[2]`` with AQE off and 3 shuffle partitions:

- one ungrouped job: ``spark.range(0, 100, 1, 2).count()``;
- job group ``count``: ``spark.range(0, 1000, 1, 4).count()``;
- job group ``shuffle``: ``spark.range(0, 1000, 1, 4)`` grouped by
  ``id % 10``, counted and collected.

Only the job, stage and task events were kept, and host-specific fields
(stage details, RDD info, hosts, executor metrics) were dropped.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
from spans import Tracer, layer_metrics  # noqa: E402

SAMPLE = os.path.join(os.path.dirname(__file__), "data", "events_1_local-sample.zstd")


def test_known_groups_yield_known_jobs_tasks_and_shuffle_bytes():
    rows = eventlog.fold(eventlog.read_events(SAMPLE))
    assert set(rows) == {"count", "shuffle"}  # the ungrouped job is not attributed
    count, shuffle = rows["count"], rows["shuffle"]
    # count(): 4 map tasks writing 59 B each, then 1 final-aggregate task
    assert (count["jobs"], count["stages"], count["tasks"]) == (1, 2, 5)
    assert count["shuffle_write_bytes"] == 4 * 59
    # groupBy: 4 map tasks writing 252 B each, then 3 reduce tasks
    assert (shuffle["jobs"], shuffle["stages"], shuffle["tasks"]) == (1, 2, 7)
    assert shuffle["shuffle_write_bytes"] == 4 * 252
    for row in rows.values():
        assert row["failed_tasks"] == row["failed_stages"] == row["spill_bytes"] == 0
        assert row["task_s"] > 0 and row["task_skew"] >= 1.0


def test_fold_dir_reads_the_rolling_layout(tmp_path):
    app = tmp_path / "eventlog_v2_local-sample"
    app.mkdir()
    shutil.copy(SAMPLE, app / "events_1_local-sample.zstd")
    (app / "appstatus_local-sample").write_bytes(b"")
    assert eventlog.fold_dir(str(tmp_path)) == eventlog.fold(eventlog.read_events(SAMPLE))


def _task_end(stage: int, run_ms: int, reason: str = "Success") -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                         "Disk Bytes Spilled": 10},
    }


def test_failed_tasks_and_skew_of_the_largest_stage():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        _task_end(0, 100), _task_end(0, 100), _task_end(0, 400),
        _task_end(1, 10, reason="ExceptionFailure"),
        # a later job listing stage 0 again does not take its tasks
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [0, 2],
         "Properties": {"spark.jobGroup.id": "h"}},
        _task_end(2, 5),
    ]
    rows = eventlog.fold(events)
    g = rows["g"]
    assert (g["jobs"], g["tasks"], g["failed_tasks"]) == (1, 4, 1)
    assert g["task_s"] == pytest.approx(0.61)
    assert g["task_skew"] == pytest.approx(400 / 100)
    assert g["spill_bytes"] == 40
    assert (rows["h"]["jobs"], rows["h"]["tasks"]) == (1, 1)


class _FakeContext:
    def __init__(self) -> None:
        self.group = None

    def setJobGroup(self, group, description):  # noqa: N802 (Spark's name)
        self.group = group

    def setLocalProperty(self, key, value):  # noqa: N802
        self.group = value


def test_spans_are_inclusive_and_restore_the_parent_group():
    sc = _FakeContext()
    tracer = Tracer(sc, cores=2)
    tracer.enabled = True
    for unit in ("unit0", "unit1"):
        tracer.run_id = unit
        with tracer.span("cli"):
            outer = sc.group
            with tracer.span("checkpoint.save"):
                assert sc.group != outer
            assert sc.group == outer
        assert sc.group is None
    groups = {
        s["group"]: {**dict.fromkeys(eventlog._empty_row(), 0), "jobs": 1,
                     "task_s": 1.0, "task_skew": 1.5, "largest_stage_s": 1.0}
        for s in tracer.spans
    }
    rows = tracer.rows(groups)
    cli = [r for r in rows if r["name"] == "cli"]
    assert [r["jobs"] for r in cli] == [2, 2]  # own job + the child's
    metrics = layer_metrics(rows, ("cli", "checkpoint.save", "triangles"), cores=2)
    assert metrics["cli.jobs"] == 2
    assert metrics["checkpoint.save.task_s"] == 1.0
    assert metrics["triangles.wall_s"] == 0.0  # a span that never ran
