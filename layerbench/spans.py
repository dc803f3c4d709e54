"""In-memory spans around the engine's public calls, labelled as Spark job
groups so the event log can attribute jobs, stages and tasks to them.

A span records its name, start, end, parent span and run id (the set-up
step or timed unit it belongs to). Spans are kept in memory and written
out once, when the benchmark ends. Nested spans each get their own job
group; a span's row is inclusive, i.e. it adds up its own jobs and those of
its descendants.
"""

from __future__ import annotations

import statistics
import time
from collections.abc import Iterator
from contextlib import contextmanager

ADDITIVE = (
    "jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "input_bytes",
)

# the per-span fields reported as per-layer metrics, in output order
FIELDS = (
    "wall_s", "jobs", "task_s", "gc_s", "util", "shuffle_write_bytes",
    "spill_bytes", "task_skew", "failed_tasks",
)


class Tracer:
    """Records spans while ``enabled``; otherwise every span is a no-op."""

    def __init__(self, sc, cores: int) -> None:
        self.sc = sc
        self.cores = cores
        self.enabled = False
        self.run_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def record(self, name: str, start: float, end: float) -> None:
        """A span that ran before Spark could label jobs (session start)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "run_id": self.run_id,
                "parent": None, "group": None, "start": start, "end": end,
            })

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"layerbench-{sid}",
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def rows(self, groups: dict[str, dict]) -> list[dict]:
        """One inclusive row per span, from the event log's per-group fold."""
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])

        def subtree(sid: int) -> Iterator[int]:
            yield sid
            for c in children.get(sid, []):
                yield from subtree(c)

        out = []
        for s in self.spans:
            own = [groups[self.spans[i]["group"]] for i in subtree(s["id"])
                   if self.spans[i]["group"] in groups]
            row = {k: s[k] for k in ("id", "name", "run_id", "parent", "start", "end")}
            row["wall_s"] = s["end"] - s["start"]
            for k in ADDITIVE:
                row[k] = sum(g[k] for g in own)
            big = max(own, key=lambda g: g["largest_stage_s"], default=None)
            row["task_skew"] = big["task_skew"] if big else 0.0
            row["util"] = row["task_s"] / (row["wall_s"] * self.cores)
            out.append(row)
        return out


def layer_metrics(
    rows: list[dict], names: tuple[str, ...], cores: int
) -> dict[str, float]:
    """``<span>.<field>`` for every span name: rows of one run id are summed
    (task_skew takes their max), then the median over run ids is taken. A
    span that never ran on this workload reads 0."""
    out: dict[str, float] = {}
    for name in names:
        per_run: dict[str, dict] = {}
        for r in rows:
            if r["name"] != name:
                continue
            acc = per_run.setdefault(r["run_id"], dict.fromkeys(FIELDS, 0.0))
            for k in FIELDS:
                if k == "task_skew":
                    acc[k] = max(acc[k], r[k])
                elif k != "util":
                    acc[k] += r[k]
        for acc in per_run.values():
            acc["util"] = acc["task_s"] / (acc["wall_s"] * cores) if acc["wall_s"] else 0.0
        for k in FIELDS:
            vals = [acc[k] for acc in per_run.values()]
            out[f"{name}.{k}"] = statistics.median(vals) if vals else 0.0
    return out

