"""Fold a Spark event log into per-span rows.

Spark 4 writes its event log as zstd-compressed JSON lines, one event per
line, under ``<spark.eventLog.dir>/eventlog_v2_<app>/events_<n>_<app>.zstd``
(its default, rolling layout). Three event kinds are folded here:

- ``SparkListenerJobStart``: job id, its stage ids and its job group
  (``spark.jobGroup.id``, set by the tracer around each span);
- ``SparkListenerStageCompleted``: stages that ran, and failed stages;
- ``SparkListenerTaskEnd``: per-task run time, GC time, shuffle bytes
  written, spill and input bytes, and whether the task failed.

A stage is credited to the first job that lists it; later jobs that list
the same stage skip it and run no tasks for it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections.abc import Iterable, Iterator

import pyarrow as pa

FOLDED_EVENTS = (
    "SparkListenerJobStart",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


def event_files(log_dir: str) -> list[str]:
    """Every event file of every application under ``log_dir``, in order."""
    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )


def read_events(path: str) -> Iterator[dict]:
    """Decoded events of one zstd file; only the kinds this module folds."""
    with pa.OSFile(path, "rb") as raw:
        stream = pa.CompressedInputStream(raw, "zstd")
        buf = b""
        while chunk := stream.read(1 << 20):
            buf += chunk
            *lines, buf = buf.split(b"\n")
            yield from _decode(lines)
        yield from _decode([buf])


def _decode(lines: Iterable[bytes]) -> Iterator[dict]:
    for line in lines:
        # cheap prefilter: the log is dominated by SQL plan events
        if line and any(k.encode() in line[:64] for k in FOLDED_EVENTS):
            yield json.loads(line)


def _empty_row() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "failed_stages": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "task_skew": 0.0,
        "largest_stage_s": 0.0,
    }


def fold(events: Iterable[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task/GC seconds, shuffle write,
    spill and input bytes, failed tasks and stages, and ``task_skew`` (max
    over median task run time in the group's stage with most task time,
    whose task seconds are ``largest_stage_s``)."""
    group_of_job: dict[int, str] = {}
    job_of_stage: dict[int, int] = {}
    stage_tasks: dict[int, list[int]] = {}
    rows: dict[str, dict] = {}

    def row_for_stage(stage_id: int) -> dict | None:
        job = job_of_stage.get(stage_id)
        group = group_of_job.get(job) if job is not None else None
        return rows.setdefault(group, _empty_row()) if group else None

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            job = ev["Job ID"]
            group_of_job[job] = group
            rows.setdefault(group, _empty_row())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                job_of_stage.setdefault(sid, job)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            row = row_for_stage(info["Stage ID"])
            if row is not None:
                row["stages"] += 1
                row["failed_stages"] += int("Failure Reason" in info)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            row = row_for_stage(sid)
            if row is None:
                continue
            metrics = ev.get("Task Metrics") or {}
            ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
            run_ms = int(metrics.get("Executor Run Time", 0))
            row["tasks"] += 1
            row["failed_tasks"] += int(not ok)
            row["task_s"] += run_ms / 1000.0
            row["gc_s"] += int(metrics.get("JVM GC Time", 0)) / 1000.0
            row["shuffle_write_bytes"] += int(
                (metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
            )
            row["spill_bytes"] += int(metrics.get("Disk Bytes Spilled", 0))
            row["input_bytes"] += int(
                (metrics.get("Input Metrics") or {}).get("Bytes Read", 0)
            )
            stage_tasks.setdefault(sid, []).append(run_ms)

    largest: dict[str, list[int]] = {}
    for sid, times in stage_tasks.items():
        group = group_of_job[job_of_stage[sid]]
        if group not in largest or sum(times) > sum(largest[group]):
            largest[group] = times
    for group, times in largest.items():
        med = statistics.median(times)
        rows[group]["task_skew"] = max(times) / med if med > 0 else 1.0
        rows[group]["largest_stage_s"] = sum(times) / 1000.0
    return rows


def fold_dir(log_dir: str) -> dict[str, dict]:
    """:func:`fold` over every event file under ``log_dir``."""
    return fold(ev for path in event_files(log_dir) for ev in read_events(path))
