"""Checkpoint / lineage / metrics manager for iterative algorithms.

Two jobs:

1. **Plan truncation.** A naive iterative join grows the logical plan
   exponentially; every superstep's state is written out and read back so the
   next iteration starts from a fresh scan (SURVEY.md §4.1 "Caching/reuse").
2. **Resumability + lineage** (north_rule): per-iteration state plus a
   metrics row (delta, rows, checksum, wall time) and per-partition lineage
   (rows + checksum per read partition), so any iteration can be resumed and
   audited.

Layout under ``<root>/<algorithm>/``:

- ``state_iter=NNNNN/``: one parquet directory per checkpointed iteration;
- ``log.jsonl``: one JSON line per save, holding that iteration's metrics
  row and its lineage rows; appended and fsynced before the manifest moves;
- ``MANIFEST.json``: the latest iteration and the state schema, replaced
  atomically and last, so it is the resume point.

A save is two Spark jobs: the state write, and the lineage aggregate over the
files just written, read back with the state's own schema so that no footer
inference job runs. (With AQE on, the aggregate's shuffle stage is submitted
as a third job.) Log entries past the manifest's iteration, e.g. from a crash
between the log append and the manifest replace, are ignored on read and
superseded by the rerun.

Reference analog: the reference memoizes a torch ``data.pt`` and keeps
Lightning top-k checkpoints; neither is resumable mid-computation, so this
manager is new engineering the north_rule requires.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

METRICS_SCHEMA = "algorithm string, iteration int, metrics_json string"
LINEAGE_SCHEMA = (
    "partition_id int, rows bigint, checksum bigint, algorithm string, iteration int"
)


class CheckpointManager:
    """Parquet-backed state store for one algorithm run."""

    def __init__(self, spark: SparkSession, root: str, algorithm: str) -> None:
        self.spark = spark
        self.root = os.path.join(root, algorithm)
        self.algorithm = algorithm
        # the manifest this manager last read or wrote: load_state takes the
        # schema from the same snapshot latest_iteration() returned
        self._snapshot: dict | None = None
        os.makedirs(self.root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _state_path(self, iteration: int) -> str:
        return os.path.join(self.root, f"state_iter={iteration:05d}")

    @property
    def _log_path(self) -> str:
        return os.path.join(self.root, "log.jsonl")

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "MANIFEST.json")

    # -- state ------------------------------------------------------------
    def save_state(
        self, iteration: int, state: DataFrame, metrics: dict | None = None
    ) -> DataFrame:
        """Write state for ``iteration``; return the re-read DataFrame
        (lineage-truncated). Appends the metrics row + per-partition lineage
        to the log, then replaces the manifest (last → atomic resume point).
        """
        t0 = time.monotonic()
        path = self._state_path(iteration)
        state.write.mode("overwrite").parquet(path)
        schema = state.schema
        reloaded = self.spark.read.schema(schema).parquet(path)

        row_hash = F.xxhash64(*[F.col(c) for c in reloaded.columns])
        lineage = (
            reloaded.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"), F.bit_xor(row_hash).alias("checksum"))
            .collect()
        )
        row = {
            "algorithm": self.algorithm,
            "iteration": iteration,
            "wall_sec": time.monotonic() - t0,
            **(metrics or {}),
        }
        entry = {
            "iteration": iteration,
            "metrics": row,
            "lineage": sorted(lineage),  # Rows serialize as JSON arrays
        }
        with open(self._log_path, "a+b") as fh:
            # a crash mid-append leaves a torn last line; start a fresh line
            # so this entry stays parseable and the torn one is skipped
            if fh.seek(0, os.SEEK_END):
                fh.seek(-1, os.SEEK_END)
                if fh.read(1) != b"\n":
                    fh.write(b"\n")
            fh.write(json.dumps(entry).encode() + b"\n")
            fh.flush()
            os.fsync(fh.fileno())

        # temp-file + os.replace: a crash mid-write can never leave a corrupt
        # manifest visible (replace is atomic on POSIX), so the manifest stays
        # a valid resume pointer or is absent — never half-written.
        manifest = {
            "algorithm": self.algorithm,
            "latest_iteration": iteration,
            "schema": schema.jsonValue(),
        }
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._manifest_path)
        self._snapshot = manifest
        return reloaded

    def _manifest(self) -> dict | None:
        """The manifest, or None when it is absent. An unparsable manifest
        (e.g. torn write on a non-atomic filesystem) is treated as absent
        rather than raising: the caller then restarts from scratch, which is
        always safe."""
        try:
            with open(self._manifest_path) as fh:
                manifest = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None
        return manifest if "latest_iteration" in manifest else None

    def latest_iteration(self) -> int | None:
        """Latest checkpointed iteration, or None when no (valid) manifest
        exists. The manifest read here is the one ``load_state`` takes the
        state schema from, so a resume sees a single snapshot."""
        self._snapshot = self._manifest()
        return None if self._snapshot is None else self._snapshot["latest_iteration"]

    def load_state(self, iteration: int) -> DataFrame:
        """Lazy read of ``iteration``'s state with the schema the manifest
        stores, so no footer-inference job runs."""
        manifest = self._snapshot or self._manifest()
        if manifest is None:
            raise FileNotFoundError(f"no checkpoint manifest under {self.root}")
        schema = StructType.fromJson(manifest["schema"])
        return self.spark.read.schema(schema).parquet(self._state_path(iteration))

    def _entries(self) -> list[dict]:
        """Log entries up to the manifest's iteration, the last one per
        iteration, in iteration order. Torn lines are skipped."""
        manifest = self._manifest()
        if manifest is None or not os.path.exists(self._log_path):
            return []
        latest = manifest["latest_iteration"]
        by_iter: dict[int, dict] = {}
        with open(self._log_path, "rb") as fh:
            for line in fh:
                try:
                    entry = json.loads(line)
                except ValueError:  # torn line: JSONDecodeError or bad bytes
                    continue
                if entry["iteration"] <= latest:
                    by_iter[entry["iteration"]] = entry
        return [by_iter[i] for i in sorted(by_iter)]

    def metrics(self) -> DataFrame:
        rows = [
            (self.algorithm, e["iteration"], json.dumps(e["metrics"]))
            for e in self._entries()
        ]
        return self.spark.createDataFrame(rows, METRICS_SCHEMA)

    def lineage_table(self) -> DataFrame:
        rows = [
            (*part, self.algorithm, e["iteration"])
            for e in self._entries()
            for part in e["lineage"]
        ]
        return self.spark.createDataFrame(rows, LINEAGE_SCHEMA)
